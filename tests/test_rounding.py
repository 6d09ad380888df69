"""portable_round parity: the floor(x*10^p+0.5)/10^p formulation must give
the SAME double in Python, DuckDB, and Spark for every input — that is the
whole point of rounding.py (plain round() provably differs between Spark
and DuckDB on decimal-boundary ratios like 57/800)."""

from __future__ import annotations

import math
import random

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from buildlogparser_spark.operators import similarity as sim
from buildlogparser_spark.rounding import (
    exact_sum, exact_sum_sql, portable_round, portable_round_sql)
from conftest import SF_SMOKE


def _py_round(x: float, p: int) -> float:
    s = 10 ** p
    return math.floor(x * s + 0.5) / s


def test_duckdb_matches_python_on_all_small_ratios():
    # every k/n ratio up to n=1200 — includes all 21 ratios where Spark's
    # round() and DuckDB's round() disagree at 4 decimals (e.g. 57/800)
    con = duckdb.connect()
    expr = portable_round_sql("CAST(k AS DOUBLE) / n", 4)
    rows = con.execute(
        f"SELECT k, n, {expr} FROM (SELECT unnest(range(1, 1201)) AS n), "
        "LATERAL (SELECT unnest(range(0, n + 1)) AS k)").fetchall()
    assert len(rows) > 700_000
    for k, n, got in rows:
        assert got == _py_round(k / n, 4), (k, n, got)


def test_plain_round_actually_diverges_cross_engine():
    # documents WHY portable_round exists: DuckDB round() rounds the scaled
    # binary double (57/800 < 0.07125 in binary → 0.0712) while Spark's
    # round() applies HALF_UP to the shortest decimal string "0.07125"
    # (→ 0.0713); portable_round sides with the binary value in both
    from decimal import Decimal, ROUND_HALF_UP

    con = duckdb.connect()
    duck = con.execute("SELECT round(57.0 / 800, 4)").fetchone()[0]
    spark_semantics = float(
        Decimal(repr(57 / 800)).quantize(Decimal("0.0001"), ROUND_HALF_UP))
    assert duck == 0.0712 and spark_semantics == 0.0713
    assert _py_round(57 / 800, 4) == duck


@pytest.mark.parametrize("p", [1, 2, 4, 6, 9])
def test_spark_matches_python(spark, p):
    # boundary-heavy sample: k/n grids plus negatives (cosine sims)
    vals = [k / n for n in (3, 7, 800, 997, 1200) for k in range(0, n + 1, 13)]
    vals += [-v for v in vals[:50]]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, x double")
    got = {r.i: r.y for r in df.select("i", portable_round(F.col("x"), p).alias("y")).collect()}
    for i, v in enumerate(vals):
        assert got[i] == _py_round(v, p), (i, v, p, got[i])


# ---------------------------------------------------------------------------
# exact_sum: the one cross-engine float total
# ---------------------------------------------------------------------------

_BOUND = 9.0e6  # |Σ| below which both engines are bit-equal (rounding.py)


def _sum_rows() -> list[tuple[int, float]]:
    """(key, x) over 13 keys: mixed-sign terms whose plain double sums
    depend on addition order (keys 0-5 sum positive, 6-11 negative), plus
    key 12 whose total sits just below the documented bound."""
    rng = random.Random(20261020)
    rows = [(i % 12, (1 if i % 12 < 6 else -1) * rng.uniform(-50.0, 100.0)
             / rng.choice((1, 7, 997))) for i in range(24_000)]
    per = (_BOUND - 1.0) / 1000
    rows += [(12, per + rng.uniform(-1e-3, 1e-3) * (1 if i % 2 else -1))
             for i in range(1000)]
    return rows


def _py_exact(xs: list[float]) -> float:
    return sum(math.floor(x * 1e9 + 0.5) for x in xs) / 1e9


def test_exact_sum_bit_equal_across_engines_layouts_and_order(spark):
    rows = _sum_rows()
    by_key: dict[int, list[float]] = {}
    for k, x in rows:
        by_key.setdefault(k, []).append(x)
    want = {k: _py_exact(xs) for k, xs in by_key.items()}
    assert any(x < 0 for x in want.values())
    assert _BOUND - 2.0 < want[12] < _BOUND

    con = duckdb.connect()
    con.execute("CREATE TABLE t (k INTEGER, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = dict(con.execute(
        f"SELECT k, {exact_sum_sql('x')} FROM t GROUP BY k").fetchall())
    assert duck == want

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n_shuffle in (1, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
            for ordered in (rows, rows[::-1]):
                df = spark.createDataFrame(
                    spark.sparkContext.parallelize(ordered, 9),
                    "k int, x double")
                got = {r.k: r.s for r in df.groupBy("k").agg(
                    exact_sum(F.col("x")).alias("s")).collect()}
                assert got == want, (n_shuffle, ordered is rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.mark.parametrize("name", [
    "dsir_weights", "token_entropy", "bigram_lm_score", "corpus_drift",
    "quality_classifier", "pq_topk"])
def test_float_totals_hold_no_per_key_list(spark, name):
    """Plan guard: each operator's float totals are hash aggregates, so its
    optimized plan holds no collect_list — except pq_topk's one codebook
    broadcast row, which is a collect, not a sum."""
    df = entry_mod.registry()[name].run(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("collect_list(") == (1 if name == "pq_topk" else 0)


@pytest.mark.parametrize("trainer", ["kmeans_centroids", "pq_codebooks"])
def test_lloyd_step_holds_one_ordered_fold(spark, trainer):
    """Plan guard for the one Lloyd step shared by the IVF and PQ trainers:
    the centroid broadcast row is collected into the step's assignment
    snapshot, so the step's optimized plan holds exactly one collect_list,
    the vec_id-ordered vector-mean fold."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    if trainer == "kmeans_centroids":
        points, q = sim.with_unit_vectors(emb), sim._IVF
    else:
        points, q = sim._pq_subvectors(emb, 8, 64), sim._PQ
    step = sim._lloyd_step(points, getattr(sim, trainer)(emb), q)
    plan = step._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("collect_list(") == 1
