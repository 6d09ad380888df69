"""Product quantization (round 5): cross-engine parity of the trained
codebooks, the code assignments, and the ADC top-k; plus the quality
floor (ADC recall vs exact cosine) and the compression contract."""

from __future__ import annotations

import pytest

from buildlogparser_spark.operators import similarity as sim
from conftest import SF_SMOKE, assert_frames_match, duck_df


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def test_pq_codebooks_match_duckdb(spark, emb, duck_smoke):
    got = {(r.sub, r.cid): list(r.cvec)
           for r in sim.pq_codebooks(emb).collect()}
    want = {(int(r["sub"]), int(r["cid"])): list(r["cvec"])
            for _, r in duck_df(duck_smoke, sim.pq_codebooks_sql()).iterrows()}
    assert set(got) == set(want)
    assert len(got) == 8 * 16
    for key in got:
        assert got[key] == want[key], f"codebook {key} diverged"
    # subspace centroids have sub-vector width, not full width
    assert all(len(v) == 8 for v in got.values())


def test_pq_encode_matches_duckdb(spark, emb, duck_smoke):
    codes = sim.pq_encode(emb)
    assert_frames_match(codes, duck_df(duck_smoke, sim.pq_encode_sql()),
                        "pq_encode")
    n_vec = emb.count()
    assert codes.count() == n_vec * 8  # m codes per vector — the 64x
    # compressed representation (8 small ints vs 64 float64s)


def test_pq_topk_matches_duckdb_and_recalls(spark, emb, duck_smoke):
    qids = [1, 2, 3, 4, 5]
    topk = sim.pq_topk(emb, qids, 5)
    assert_frames_match(topk, duck_df(duck_smoke, sim.pq_topk_sql(qids, 5)),
                        "pq_topk")
    exact = {(r.query_id, r.neighbor_id)
             for r in sim.cosine_topk(emb, qids, 5).collect()}
    got = {(r.query_id, r.neighbor_id) for r in topk.collect()}
    recall = len(exact & got) / len(exact)
    # ADC with 8x16 codebooks on 64-dim embeddings: a loose floor — the
    # point of the assertion is "far better than chance", not a tuned SLA
    # (chance at k=5 of 500 is ~0.01)
    assert recall >= 0.2, f"ADC recall {recall:.2f} below floor"


def test_pq_sampled_training_encodes_everything(spark, emb, duck_smoke):
    """sample_mod bounds TRAINING only — the full corpus still gets codes,
    and the sampled chain stays oracle-exact."""
    codes = sim.pq_encode(emb, sample_mod=4)
    assert codes.select("vec_id").distinct().count() == emb.count()
    assert_frames_match(
        codes, duck_df(duck_smoke, sim.pq_encode_sql(sample_mod=4)),
        "pq_encode_sampled")


def test_ivfpq_topk_matches_duckdb_and_prunes(spark, emb, duck_smoke):
    """IVF-PQ composition: cross-engine parity, candidate pruning (every
    reported neighbor lies in a probed list), and recall no worse than
    chance by a wide margin."""
    qids = [1, 2, 3, 4, 5]
    topk = sim.ivfpq_topk(emb, qids, 5)
    assert_frames_match(
        topk, duck_df(duck_smoke, sim.ivfpq_topk_sql(qids, 5)), "ivfpq_topk")

    got = {(r.query_id, r.neighbor_id) for r in topk.collect()}
    # pruning contract: neighbors come only from probed lists — the IVF
    # stage really restricted the ADC scan (compare with unpruned pq_topk)
    assign = {r.vec_id: r.cluster for r in sim.ivf_assign(
        emb, 16).collect()}
    probed: dict[int, set[int]] = {}
    full = sim.ivfpq_topk(emb, qids, 10_000, nprobe=4)
    for r in full.collect():
        probed.setdefault(r.query_id, set()).add(assign[r.neighbor_id])
    assert all(len(cl) <= 4 for cl in probed.values()), probed
    exact = {(r.query_id, r.neighbor_id)
             for r in sim.cosine_topk(emb, qids, 5).collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.12, f"IVF-PQ recall {recall:.2f} below floor"


def test_pq_empty_cluster_reseed_parity(spark, duck_smoke):
    """Duplicate-heavy corpus forces empty PQ clusters (identical seed
    centroids, ties to the lowest cid) — the per-subspace worst-fit
    re-seed join must pair the same (sub, slot) with the same vector in
    both engines: bit-parity of the final codebooks."""
    import math

    from pyspark.sql import Row

    dim = 16

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    a = unit([1.0] * dim)
    b = unit([-1.0, 2.0] * (dim // 2))
    rows = [Row(vec_id=i, embedding=(a if i < 10 else b), label=0)
            for i in range(20)]
    docs = spark.createDataFrame(rows)
    duck_smoke.execute(
        "CREATE OR REPLACE TEMP TABLE emb_pqdup(vec_id BIGINT, embedding DOUBLE[])")
    duck_smoke.executemany(
        "INSERT INTO emb_pqdup VALUES (?, ?)",
        [(i, a if i < 10 else b) for i in range(20)])
    got = {(r.sub, r.cid): list(r.cvec) for r in sim.pq_codebooks(
        docs, m=4, k=6, dim=dim, n_iters=3).collect()}
    want = {(int(r["sub"]), int(r["cid"])): list(r["cvec"])
            for _, r in duck_df(duck_smoke, sim.pq_codebooks_sql(
                m=4, k=6, dim=dim, n_iters=3, table="emb_pqdup")).iterrows()}
    assert set(got) == set(want)
    assert len(got) == 4 * 6
    for key in got:
        assert got[key] == want[key], f"codebook {key} diverged post-reseed"
