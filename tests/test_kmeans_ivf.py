"""Trained IVF coarse quantizer (round 5 — VERDICT r04 #2).

The quantizer behind ivf_topk / semantic_dedup is now a seeded,
fixed-iteration Lloyd's k-means (buildlogparser_spark/operators/
similarity.py). These tests pin:

* exact cross-engine parity of the TRAINED centroids themselves
  (numeric compare against the DuckDB chained-CTE twin — the gate's
  value-hash depends on downstream sims being bit-equal, which requires
  the centroid doubles to be bit-equal);
* training quality: recall at equal nprobe is >= the fixed-seed baseline,
  and a synthetic 3-cluster corpus is recovered exactly;
* skew defense: one dominant direction cone gets SPLIT by training
  (max-cluster share drops vs the fixed seeds) — the Σ|cluster|² bound
  in semantic_dedup is only real if the quantizer adapts to clumpy data;
* n_centroids=None auto-scales with corpus size (VERDICT r04 #3), and the
  auto-sized trained assignment equals its DuckDB twin;
* layout invariance of both trainers that share the Lloyd step
  (kmeans_centroids and pq_codebooks): bit-equal output across input
  partitioning, shuffle partitions and input row order.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row, functions as F

from buildlogparser_spark.operators import similarity as sim
from conftest import SF_SMOKE, assert_frames_match, duck_df


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def _unit(v):
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _synthetic_emb(spark, groups: list[tuple[list[float], int, float]], dim: int):
    """Deterministic vectors clustered around given directions: member j of
    a group is the direction with a small rational perturbation on one
    rotating component (no RNG — reproducible)."""
    rows, vid = [], 0
    for direction, count, spread in groups:
        for j in range(count):
            v = list(direction)
            v[j % dim] += spread * ((j % 7) - 3) / 7.0
            rows.append(Row(vec_id=vid, embedding=_unit(v), label=0))
            vid += 1
    return spark.createDataFrame(rows)


def test_trained_centroids_match_duckdb(spark, emb, duck_smoke):
    """Bit-level parity of the trained centroids: every component collected
    from Spark equals the DuckDB twin exactly (== on Python floats is
    bit-compare here — both are float64 round-trips)."""
    got = {r.cid: list(r.cvec)
           for r in sim.kmeans_centroids(emb, 16).collect()}
    want = {int(r.cid): list(r.cvec) for _, r in duck_df(
        duck_smoke, sim.kmeans_centroids_sql(16)).iterrows()}
    assert set(got) == set(want) == set(range(16))
    for cid in got:
        assert got[cid] == want[cid], f"centroid {cid} diverged"


def test_trained_centroids_move_from_seeds(emb):
    seeds = sim._ivf_centroids(16, 64)
    trained = {r.cid: list(r.cvec)
               for r in sim.kmeans_centroids(emb, 16).collect()}
    moved = sum(1 for cid, s in enumerate(seeds) if trained[cid] != s)
    assert moved >= 8, f"only {moved}/16 centroids moved — training inert?"


def test_kmeans_recovers_synthetic_clusters(spark):
    """Three well-separated direction cones, 3 centroids: the trained
    assignment must be pure (each cone → exactly one cluster)."""
    dim = 8
    dirs = [_unit([1.0] * dim),
            _unit([1.0, -1.0] * (dim // 2)),
            _unit([-1.0] * (dim // 2) + [1.0] * (dim // 2))]
    docs = _synthetic_emb(spark, [(d, 40, 0.05) for d in dirs], dim)
    assigned = sim.ivf_assign(docs, n_centroids=3, dim=dim, n_iters=5).collect()
    by_group: dict[int, set[int]] = {0: set(), 1: set(), 2: set()}
    for r in assigned:
        by_group[r.vec_id // 40].add(r.cluster)
    assert all(len(cl) == 1 for cl in by_group.values()), by_group
    assert len(set().union(*by_group.values())) == 3


def test_trained_recall_not_worse_than_fixed(spark, emb):
    """At equal nprobe, the trained quantizer's recall vs exact cosine
    top-k must be >= the fixed-seed baseline (VERDICT r04 #2 done-bar)."""
    qids = [1, 2, 3, 4, 5]
    exact = {(r.query_id, r.neighbor_id)
             for r in sim.cosine_topk(emb, qids, 5).collect()}

    def recall(trained: bool) -> float:
        got = {(r.query_id, r.neighbor_id)
               for r in sim.ivf_topk(emb, qids, 5, n_centroids=16, nprobe=4,
                                     trained=trained).collect()}
        return len(exact & got) / len(exact)

    r_fixed, r_trained = recall(False), recall(True)
    assert r_trained >= r_fixed, (r_trained, r_fixed)


def test_training_splits_dominant_cluster(spark):
    """Skew test: 80% of vectors in one tight cone. The fixed seeds dump
    the cone into one list (quadratic pairwise inside semantic_dedup);
    training must split it — max cluster share strictly drops."""
    dim = 8
    hot = _unit([1.0] * dim)
    cold = _unit([-1.0] + [1.0] * (dim - 1))
    docs = _synthetic_emb(spark, [(hot, 160, 0.4), (cold, 40, 0.4)], dim)

    def max_share(trained: bool) -> float:
        sizes: dict[int, int] = {}
        for r in sim.ivf_assign(docs, n_centroids=8, dim=dim, n_iters=5,
                                trained=trained).collect():
            sizes[r.cluster] = sizes.get(r.cluster, 0) + 1
        return max(sizes.values()) / 200.0

    fixed, trained = max_share(False), max_share(True)
    assert trained < fixed, (trained, fixed)
    assert trained <= 0.5, f"trained quantizer still has a {trained:.0%} cluster"


def _assert_layout_invariant(spark, train) -> None:
    """``train(docs)`` collects bit-equal at 2 and 16 input partitions, at
    shuffle partitions 1 and 7, and with the input rows reversed (the
    vec_id-ordered folds make float addition order layout-independent).
    Every variant is a fresh RDD-backed frame, so no run can reuse another
    run's training snapshots."""
    dim = 8
    dirs = [_unit([1.0] * dim), _unit([1.0, -1.0] * (dim // 2))]
    docs = _synthetic_emb(spark, [(d, 30, 0.3) for d in dirs], dim)
    rows = docs.collect()

    def run(ordered, n_parts: int) -> list:
        df = spark.createDataFrame(
            spark.sparkContext.parallelize(ordered, n_parts), docs.schema)
        return sorted((tuple(r[:-1]), list(r[-1])) for r in train(df).collect())

    want = run(rows, 2)
    assert run(rows, 16) == want
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n_shuffle in (1, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
            for ordered in (rows, rows[::-1]):
                assert run(ordered, 9) == want, (n_shuffle, ordered is rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_kmeans_partition_count_invariance(spark):
    """The IVF trainer is deterministic under physical layout."""
    _assert_layout_invariant(
        spark, lambda df: sim.kmeans_centroids(df, 4, dim=8, n_iters=3))


def test_pq_partition_count_invariance(spark):
    """The PQ trainer, the same Lloyd step keyed by subspace, is too."""
    _assert_layout_invariant(
        spark, lambda df: sim.pq_codebooks(df, m=2, k=4, dim=8, n_iters=3))


def test_auto_n_centroids_scales(spark, emb):
    n = emb.count()
    auto = sim._auto_n_centroids(emb)
    assert auto == max(4, min(65536, math.ceil(math.sqrt(n))))
    bigger = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + 10_000_000))
    assert sim._auto_n_centroids(bigger) > auto


def test_auto_n_centroids_assign_matches_duckdb(spark, emb, duck_smoke):
    """The auto-scaled quantizer on an oracled path: ``n_centroids=None``
    resolves to ceil(sqrt(N)) centroids (23 for the 500 sf0.001 vectors)
    and the trained assignment equals the DuckDB twin built with that
    count. A registry entry cannot carry this oracle: its SQL is fixed
    before N is known."""
    n = emb.count()
    k = math.ceil(math.sqrt(n))
    assert sim._auto_n_centroids(emb) == k > 16
    assert_frames_match(
        sim.ivf_assign(emb, n_centroids=None),
        duck_df(duck_smoke, sim.ivf_assign_sql(n_centroids=k)),
        "ivf_assign_auto")


def test_sampled_training_differs_but_assigns_everywhere(spark, emb, duck_smoke):
    """sample_mod > 1 trains on a strict subset (bounded cost at corpus
    scale) yet still assigns the FULL corpus, and stays oracle-exact."""
    full = sim.ivf_assign(emb, 8, sample_mod=4)
    rows = full.collect()
    assert len(rows) == emb.count()
    assert_frames_match(full, duck_df(
        duck_smoke, sim.ivf_assign_sql(8, sample_mod=4)), "ivf_assign_sampled")


def test_semantic_dedup_representative_vs_aggressive(spark):
    """The policy-difference fixture: v2 is similar to BOTH v0 and v1, but
    v0 and v1 are dissimilar (a 'V' in embedding space). Aggressive keeps
    {0, 1} (1 has no lower-id similar neighbor); the paper-faithful
    representative policy keeps {0} only — v0, v1, v2 are one connected
    component. n_centroids=1 pins everything into a single cluster so the
    test exercises the keep policy, not the quantizer."""
    import math

    dim = 8

    def vec(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)] + [0.0] * (dim - 2)

    docs = spark.createDataFrame(
        [Row(vec_id=i, embedding=v, label=0)
         for i, v in enumerate([vec(0), vec(80), vec(40)])])

    agg = {r.vec_id: r.kept for r in sim.semantic_dedup(
        docs, threshold=0.5, n_centroids=1, dim=dim, trained=False).collect()}
    rep = {r.vec_id: r.kept for r in sim.semantic_dedup_representative(
        docs, threshold=0.5, n_centroids=1, dim=dim, trained=False).collect()}
    assert agg == {0: True, 1: True, 2: False}
    assert rep == {0: True, 1: False, 2: False}


def test_kmeans_empty_cluster_reseed_parity(spark, duck_smoke):
    """Duplicate-heavy corpus: identical vectors seed IDENTICAL centroids,
    ties send every member to the lowest cid and the duplicates' clusters
    EMPTY — forcing the worst-fit re-seed path in both engines. The
    assertion is bit-parity of the final centroids (the re-seed rank joins
    must pair the same empty slot with the same vector in both)."""
    dim = 8
    a, b = _unit([1.0] * dim), _unit([-1.0] + [1.0] * (dim - 1))
    rows = [Row(vec_id=i, embedding=(a if i < 8 else b), label=0)
            for i in range(16)]
    docs = spark.createDataFrame(rows)
    # DOUBLE[], not FLOAT[]: Spark infers double for Python floats in
    # createDataFrame, and a float32 round-trip on one side flips the
    # last ulp of 1/sqrt(8)
    duck_smoke.execute(
        "CREATE OR REPLACE TEMP TABLE emb_dup(vec_id BIGINT, embedding DOUBLE[])")
    duck_smoke.executemany(
        "INSERT INTO emb_dup VALUES (?, ?)",
        [(i, a if i < 8 else b) for i in range(16)])
    got = {r.cid: list(r.cvec)
           for r in sim.kmeans_centroids(docs, 6, dim=dim, n_iters=3).collect()}
    want = {int(r["cid"]): list(r["cvec"]) for _, r in duck_df(
        duck_smoke,
        sim.kmeans_centroids_sql(6, dim=dim, n_iters=3, table="emb_dup")
    ).iterrows()}
    assert set(got) == set(want) == set(range(6))
    for cid in got:
        assert got[cid] == want[cid], f"centroid {cid} diverged post-reseed"
