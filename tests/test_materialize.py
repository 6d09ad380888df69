"""Plan-keyed snapshot semantics of buildlogparser_spark.materialize — the
flat-memory substitute for .cache() on graded paths."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from buildlogparser_spark import materialize as M
from conftest import SF_SMOKE


def _doubled(df):
    return df.select(F.col("id"), (F.col("id") * 2).alias("v"))


def test_keyed_snapshot_memoizes(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(100).write.parquet(src)
    a = M.materialize(_doubled(spark.read.parquet(src)))
    n_dirs = len(M._ALL_DIRS)
    # the same plan rebuilt over a fresh re-read of the same files
    b = M.materialize(_doubled(spark.read.parquet(src)))
    assert len(M._ALL_DIRS) == n_dirs  # second call reused the snapshot
    assert a.count() == b.count() == 100
    # a different plan (one more filter) is a different table
    c = M.materialize(_doubled(spark.read.parquet(src)).filter("id < 10"))
    assert len(M._ALL_DIRS) == n_dirs + 1
    assert c.count() == 10


def test_snapshot_roundtrip_preserves_data(spark):
    df = spark.range(50).select(
        F.col("id"), F.concat(F.lit("x"), F.col("id").cast("string")).alias("s"))
    back = M.materialize(df)
    assert sorted((r.id, r.s) for r in back.collect()) == \
        sorted((r.id, r.s) for r in df.collect())


def test_stale_app_entries_evicted(spark, tmp_path):
    df = spark.range(10)
    M.materialize(df)
    app = spark.sparkContext.applicationId
    # simulate a snapshot left by a previous Spark session (own dir — the
    # eviction rmtree must not touch live entries)
    stale_dir = str(tmp_path / "stale-snap")
    df.write.parquet(stale_dir)
    M._SNAPSHOTS[("app-stale", df.semanticHash())] = [(df, [], stale_dir)]
    M.materialize(spark.range(11))
    assert not [k for k in M._SNAPSHOTS if k[0] != app]
    assert not os.path.exists(stale_dir)  # evicted snapshot dir removed
    n_dirs = len(M._ALL_DIRS)
    assert M.materialize(df).count() == 10  # live entry intact
    assert len(M._ALL_DIRS) == n_dirs


def test_same_params_on_distinct_inputs_do_not_share(spark, tmp_path):
    """One operator, one parameter set, two inputs: two snapshots. The
    grown corpus keeps its root path (same relation, same hash) and
    differs only in its files."""
    corpus = str(tmp_path / "corpus")
    spark.range(20).write.parquet(corpus)
    before = M.materialize(_doubled(spark.read.parquet(corpus)))
    spark.range(20, 30).write.mode("append").parquet(corpus)
    grown = M.materialize(_doubled(spark.read.parquet(corpus)))
    other = str(tmp_path / "other")
    spark.range(100, 105).write.parquet(other)
    elsewhere = M.materialize(_doubled(spark.read.parquet(other)))
    assert (before.count(), grown.count(), elsewhere.count()) == (20, 30, 5)


def test_input_overwritten_in_place_misses(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(5).write.parquet(src)
    assert M.materialize(_doubled(spark.read.parquet(src))).count() == 5
    spark.range(7).write.mode("overwrite").parquet(src)
    fresh = M.materialize(_doubled(spark.read.parquet(src)))
    assert sorted(r.id for r in fresh.collect()) == list(range(7))


def test_rdd_backed_frames_with_equal_rows_miss(spark):
    rows = [(1, "a"), (2, "b")]
    M.materialize(spark.createDataFrame(rows, "k int, s string"))
    n_dirs = len(M._ALL_DIRS)
    M.materialize(spark.createDataFrame(rows, "k int, s string"))
    assert len(M._ALL_DIRS) == n_dirs + 1


def test_hash_collision_is_not_returned(spark, tmp_path):
    """An entry stored under an equal hash but for a different plan (and
    equal input files: none) must not be served."""
    wrong, want = spark.range(10), spark.range(10).filter("id > 4")
    wrong_dir = str(tmp_path / "wrong")
    wrong.write.parquet(wrong_dir)
    key = (spark.sparkContext.applicationId, want.semanticHash())
    M._SNAPSHOTS.setdefault(key, []).insert(0, (wrong, [], wrong_dir))
    assert sorted(r.id for r in M.materialize(want).collect()) == [5, 6, 7, 8, 9]


def _warm_chains():
    from buildlogparser_spark.operators import dedup as dd
    from buildlogparser_spark.operators import quality_clf as qc
    from buildlogparser_spark.operators import similarity as sim
    from buildlogparser_spark.transcripts import load_transcripts

    def docs(spark):
        return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")

    def emb(spark):
        return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")

    return {
        "load_transcripts": lambda spark: load_transcripts(spark, SF_SMOKE),
        "lsh_candidates": lambda spark: dd.lsh_candidates(docs(spark)),
        "ivf_topk": lambda spark: sim.ivf_topk(emb(spark), [1, 2, 3], 5,
                                               n_centroids=16),
        "quality_classifier": lambda spark: qc.quality_classifier(
            docs(spark), n_iters=2),
    }


@pytest.mark.parametrize("chain", sorted(_warm_chains()))
def test_memo_chain_warm_on_fresh_reread(spark, chain):
    """Each memo chain the registry relies on writes nothing on a second
    call over a fresh re-read of the same input."""
    build = _warm_chains()[chain]
    build(spark)
    n_dirs = len(M._ALL_DIRS)
    build(spark).count()
    assert len(M._ALL_DIRS) == n_dirs
