"""Approximate-nearest-neighbor search and embedding dedup over the
``embeddings`` table (vec_id, embedding: array<float>, label).

* :func:`cosine_topk` — exact brute-force top-k: the (small) query set is
  broadcast against the corpus; per-row JVM-side dot products via
  ``F.aggregate``/``zip_with`` (no Python). The recall baseline.
* :func:`lsh_topk`, :func:`embedding_near_dup_lsh` — random-hyperplane LSH
  (signs of dot products with md5-derived hyperplanes) buckets the corpus;
  candidates share a bucket in any of ``n_tables`` tables and are verified
  by exact cosine. A bucket-equality join, never all-pairs.
* :func:`ivf_topk`, :func:`semantic_dedup` — an IVF coarse quantizer
  trained by Lloyd's k-means (:func:`kmeans_centroids`): a query probes its
  ``nprobe`` nearest lists; SemDeDup pairs vectors only within a list.
* :func:`pq_topk`, :func:`ivfpq_topk` — product quantization: per-subspace
  codebooks trained by the same Lloyd step (:func:`pq_codebooks`) and
  asymmetric-distance (ADC) scoring of the codes.
* :func:`semantic_decontaminate` — max cosine against a benchmark set.

Every operator has a DuckDB twin (``*_sql``) that is its value oracle.
Math is float64 (cast from float32 storage); dot products and the k-means
vector means are left-to-right folds, the means over members in vec_id
order, so both engines add in the same order. ADC totals are
:func:`~..rounding.exact_sum` aggregates. Scores are rounded to 9 dp
before they are compared and ties are broken by id.
"""

from __future__ import annotations

import hashlib
import math
from functools import reduce
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from ..materialize import materialize
from ..rounding import (
    exact_sum, exact_sum_sql, portable_round, portable_round_sql)
from .dedup import _md5_i64, _md5_i64_sql


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` bound to a lambda variable, so a body
    that reads it per element evaluates it once, not once per element."""
    return F.element_at(F.transform(F.array(value), body), 1)


def with_unit_vectors(embeddings: DataFrame) -> DataFrame:
    """(vec_id, unit): a float64 L2-normalized copy of each embedding
    (cosine → dot).

    Rows with a NULL embedding are DROPPED here — the single entry point
    every similarity operator shares — rather than flowing NULL subvectors
    into k-means/ADC where each engine's NULL-in-struct ordering diverges
    (a NULL row in the PQ training set flipped the trained codebooks
    between Spark and DuckDB). Zero vectors stay: their unit copy is the
    zero vector itself, deterministic in both engines. The norm is
    let-bound (:func:`_let`): ``transform(vec, v -> v / norm(vec))`` would
    re-evaluate the whole norm fold per element (O(dim²))."""
    vec = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    unit = _let(vec, lambda v: _let(
        _norm(v), lambda n: F.when(n > 0, F.transform(v, lambda x: x / n))
        .otherwise(v)))
    return (embeddings.filter(F.col("embedding").isNotNull())
            .select("vec_id", unit.alias("unit")))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, rank, cos_sim): the top ``k`` of each
    query's (query_id, neighbor_id, sim) rows. Ranked on sim rounded to
    9 dp, so sub-1e-9 float divergence (e.g. an engine fusing the fold
    differently) cannot flip neighbor order; ties go to the lower
    neighbor_id. 4-dp output."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc(portable_round(F.col("sim"), 9)), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                portable_round(F.col("sim"), 4).alias("cos_sim"))
    )


def cosine_topk(embeddings: DataFrame, query_ids: list[int], k: int = 5) -> DataFrame:
    """Exact top-k neighbors (excluding self) for each query vec_id.

    Output: (query_id, neighbor_id, rank, cos_sim). The query side is tiny
    → broadcast; corpus side streams, one window per query for top-k."""
    base = with_unit_vectors(embeddings)
    queries = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("unit").alias("q_unit"))
    return _topk(
        base.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                _dot(F.col("q_unit"), F.col("unit")).alias("sim")),
        k)


def _hyperplanes(dim: int, n_planes: int, table: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: each component in [-1, 1)
    from md5(table, plane, i) — no RNG state, identical across engines."""
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"lsh-{table}-{p}-{i}".encode()).hexdigest()
            row.append((int(h[:8], 16) / float(1 << 31)) - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(unit: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id over the hyperplanes (bit i = sign of dot_i)."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        bit = F.when(_dot(unit, p) >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket + bit
    return bucket


def _lsh_banded(embeddings: DataFrame, n_planes: int, n_tables: int,
                dim: int) -> DataFrame:
    """(vec_id, unit, tbl, bucket): each unit vector once per LSH table,
    with its bucket in that table. A parquet snapshot: the candidate join
    reads it twice, and repeated calls against the same corpus skip the
    normalize + hash recompute."""
    base = with_unit_vectors(embeddings)
    banded = None
    for t in range(n_tables):
        part = base.select(
            "vec_id", "unit", F.lit(t).alias("tbl"),
            lsh_bucket(F.col("unit"), _hyperplanes(dim, n_planes, t)).alias("bucket"))
        banded = part if banded is None else banded.unionByName(part)
    return materialize(banded)


def lsh_topk(embeddings: DataFrame, query_ids: list[int], k: int = 5,
             n_planes: int = 8, n_tables: int = 4, dim: int = 64) -> DataFrame:
    """Banded random-hyperplane ANN: same output and ranking as
    :func:`cosine_topk`, but only candidates sharing an LSH bucket (any
    table) are scored. May miss true neighbors (approximate); recall
    measured in tests vs cosine_topk."""
    banded = _lsh_banded(embeddings, n_planes, n_tables, dim)
    queries = banded.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("unit").alias("q_unit"),
        "tbl", "bucket")
    cands = (
        banded.join(F.broadcast(queries), ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "unit", "q_unit")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _topk(cands.select("query_id", "neighbor_id",
                              _dot(F.col("q_unit"), F.col("unit")).alias("sim")), k)


# ---------------------------------------------------------------------------
# DuckDB twins. The folds match the Spark expressions exactly (left fold,
# double math), so scores agree bit-for-bit; ranking uses the same portable
# 9-dp round + id tie-break.
# ---------------------------------------------------------------------------

_DOT_SQL = ("list_reduce(list_transform(range(1, len({a}) + 1), "
            "i -> {a}[i] * {b}[i]), (x, y) -> x + y)")

_UNITV_SQL = """
vec AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v
  FROM {table} WHERE embedding IS NOT NULL
),
unitv AS (
  SELECT vec_id,
         CASE WHEN n > 0 THEN list_transform(v, x -> x / n) ELSE v END AS unit
  FROM (SELECT vec_id, v,
               sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS n
        FROM vec) t
)"""


def _topk_sql(scored: str, k: int) -> str:
    """DuckDB twin of :func:`_topk` over the CTE ``scored``."""
    return f"""
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, {portable_round_sql('sim', 4)} AS cos_sim
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY {portable_round_sql('sim', 9)} DESC, neighbor_id) AS rank
      FROM {scored}) r
WHERE rank <= {k}
"""


def cosine_topk_sql(query_ids: list[int], k: int = 5,
                    table: str = "embeddings") -> str:
    ids = ", ".join(str(i) for i in query_ids)
    dot = _DOT_SQL.format(a="u.unit", b="q.q_unit")
    return f"""
WITH {_UNITV_SQL.format(table=table)},
q AS (SELECT vec_id AS query_id, unit AS q_unit FROM unitv WHERE vec_id IN ({ids})),
scored AS (
  SELECT q.query_id, u.vec_id AS neighbor_id, {dot} AS sim
  FROM unitv u CROSS JOIN q
  WHERE u.vec_id <> q.query_id
){_topk_sql('scored', k)}"""


def embedding_near_dup(embeddings: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — exact all-pairs baseline
    (vec_a < vec_b, cosine ≥ threshold). The verification/recall path; at
    corpus scale use :func:`embedding_near_dup_lsh`."""
    base = with_unit_vectors(embeddings)
    a, b = base.alias("a"), base.alias("b")
    sim = _dot(F.col("a.unit"), F.col("b.unit"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                portable_round(sim, 9).alias("sim9"))
        .filter(F.col("sim9") >= threshold)
        .select("vec_a", "vec_b", portable_round(F.col("sim9"), 4).alias("cos_sim"))
    )


def embedding_near_dup_lsh(embeddings: DataFrame, threshold: float = 0.4,
                           n_planes: int = 4, n_tables: int = 8,
                           dim: int = 64) -> DataFrame:
    """Scale path: random-hyperplane LSH blocks candidates (same-bucket in
    any table), exact cosine verifies — never an all-pairs join.
    Approximate: may miss pairs whose vectors disagree in every table."""
    banded = _lsh_banded(embeddings, n_planes, n_tables, dim)
    l, r = banded.alias("l"), banded.alias("r")
    cands = (
        l.join(r, [F.col("l.tbl") == F.col("r.tbl"),
                   F.col("l.bucket") == F.col("r.bucket"),
                   F.col("l.vec_id") < F.col("r.vec_id")])
        .select(F.col("l.vec_id").alias("vec_a"), F.col("r.vec_id").alias("vec_b"),
                F.col("l.unit").alias("ua"), F.col("r.unit").alias("ub"))
        .dropDuplicates(["vec_a", "vec_b"])
    )
    sim = _dot(F.col("ua"), F.col("ub"))
    return (
        cands.select("vec_a", "vec_b", portable_round(sim, 9).alias("sim9"))
        .filter(F.col("sim9") >= threshold)
        .select("vec_a", "vec_b", portable_round(F.col("sim9"), 4).alias("cos_sim"))
    )


def embedding_near_dup_sql(threshold: float = 0.4,
                           table: str = "embeddings",
                           where_sql: str = "") -> str:
    """DuckDB twin of the exact all-pairs path; ``where_sql`` restricts the
    id set (the graded use is a mod-sampled verification subset)."""
    dot = _DOT_SQL.format(a="a.unit", b="b.unit")
    return f"""
WITH {_UNITV_SQL.format(table=f"(SELECT * FROM {table} {where_sql}) t0")}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {portable_round_sql(portable_round_sql(dot, 9), 4)} AS cos_sim
FROM unitv a JOIN unitv b ON a.vec_id < b.vec_id
WHERE {portable_round_sql(dot, 9)} >= {threshold}
"""


# ---------------------------------------------------------------------------
# Lloyd's k-means: ONE step in Spark (_lloyd_step) and one in SQL
# (_lloyd_sql), shared by the IVF coarse quantizer and the PQ codebooks.
# PQ training is k-means run separately in each subspace (Jégou et al.
# 2011), so the two differ only in what _Quantizer holds:
#
# * IVF: cost = -(9-dp cosine), the new centroid is the L2-normalized
#   mean, no group key;
# * PQ: cost = 9-dp squared L2 over sub-vectors (_pq_dist), the new
#   centroid is the plain mean, group key ``sub`` — one chain trains all m
#   subspaces at once, so cost does not multiply by m.
#
# A step assigns each point to the lowest (cost, cid) centroid of its
# group, takes the vec_id-ordered mean per (keys, cid), rounds it to 9 dp
# (which canonicalizes ±0.0 and bounds plan literals), re-seeds each empty
# slot with a worst-fit point of its group (cost DESC, vec_id — the
# classical move-a-far-point fix; a centroid that loses all members would
# otherwise stay stranded and a clumpy corpus collapse into one list), and
# keeps the previous centroid where neither applies. Seeds are
# deterministic Forgy picks (md5-ranked data points) and the iteration
# count is fixed, so training is exactly reproducible and the DuckDB twin
# replays it: both are full value oracles. Training runs on the md5-sampled
# subset ``sample_mod`` selects, so its collect_list and global windows are
# bounded by the sample, not the corpus; assignment is one full-corpus
# pass. ``trained=False`` uses the fixed md5 directions (_ivf_centroids) as
# the IVF quantizer, the recall baseline for tests.
# ---------------------------------------------------------------------------


class _Quantizer(NamedTuple):
    keys: tuple[str, ...]  # group columns: one codebook per group
    vec: str  # the point column
    cost: Callable[[Column, Column], Column]  # (point, centroid) → cost
    cost_sql: Callable[[str, str], str]  # its DuckDB twin
    unit_mean: bool  # L2-normalize the new centroid


def _pq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance, 9-dp rounded (the PQ assignment cost)."""
    return portable_round(
        F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda acc, v: acc + v), 9)


def _pq_dist_sql(a: str, b: str) -> str:
    return portable_round_sql(
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j])), (x, y) -> x + y)", 9)


# portable_round never returns -0.0, so the argmin over (-sim, cid) picks
# what an argmax over (sim, -cid) would: highest sim, lowest cid
_IVF = _Quantizer(
    (), "unit",
    lambda u, c: -portable_round(_dot(u, c), 9),
    lambda u, c: f"-({portable_round_sql(_DOT_SQL.format(a=u, b=c), 9)})",
    True)
_PQ = _Quantizer(("sub",), "svec", _pq_dist, _pq_dist_sql, False)


def _cents_row(cents: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """Collapse (keys…, cid, cvec) into ONE row (cents: array<struct>)
    sorted by (keys…, cid) — broadcast onto point rows so assignment is a
    per-row array expression, never a per-row join."""
    return cents.groupBy().agg(F.sort_array(F.collect_list(
        F.struct(*keys, "cid", "cvec"))).alias("cents"))


def _costs(q: _Quantizer) -> Column:
    """array<struct(cost, cid)>: the point's cost against every centroid of
    its group in the broadcast ``cents`` row. A chained when()-fold would
    duplicate its subtree per level and grow the plan 2^n_centroids."""
    cents = F.col("cents")
    if q.keys:
        cents = F.filter(cents, lambda c: reduce(
            lambda a, b: a & b, [c[k] == F.col(k) for k in q.keys]))
    return F.transform(cents, lambda c: F.struct(
        q.cost(F.col(q.vec), c["cvec"]).alias("cost"), c["cid"].alias("cid")))


def _assign(points: DataFrame, cents: DataFrame, q: _Quantizer) -> DataFrame:
    """(vec_id, keys…, vec, cid, cost): each point's nearest centroid of
    its group — the lowest (cost, cid)."""
    return (points.join(F.broadcast(_cents_row(cents, q.keys)), F.lit(True))
            .select("vec_id", *q.keys, q.vec, F.array_min(_costs(q)).alias("b"))
            .select("vec_id", *q.keys, q.vec, "b.cid", "b.cost"))


def _lloyd_step(points: DataFrame, cents: DataFrame, q: _Quantizer) -> DataFrame:
    """One Lloyd iteration: (keys…, cid, cvec) from the previous
    centroids. The assignment is a snapshot because the means, the empty
    slots and the worst-fit ranks all read it (the twin's ``a{i}``
    MATERIALIZED); the step's own plan then holds one collect_list, the
    vec_id-ordered mean fold. The re-seed join carries explicit e_/w_
    key aliases: after step 1 both sides' keys trace to the same lineage,
    and Spark would resolve ``sub == sub`` as trivially true."""
    keys = list(q.keys)
    assigned = materialize(_assign(points, cents, q))
    grouped = assigned.groupBy(*keys, "cid").agg(
        F.count("*").alias("cnt"),
        F.sort_array(F.collect_list(F.struct("vec_id", q.vec))).alias("ms"))
    vecs = F.transform("ms", lambda s: s[q.vec])
    total = F.aggregate(vecs, F.array_repeat(F.lit(0.0), F.size(vecs[0])),
                        lambda acc, u: F.zip_with(acc, u, lambda a, b: a + b))
    mv = F.col("mv")
    if q.unit_mean:
        nvec = _let(_norm(mv), lambda n: F.when(
            n > 0, F.transform(mv, lambda x: portable_round(x / n, 9))))
    else:
        nvec = F.transform(mv, lambda x: portable_round(x, 9))
    means = (grouped
             .select(*keys, "cid", F.transform(total, lambda x: x / F.col("cnt")).alias("mv"))
             .select(*keys, "cid", nvec.alias("nvec")))
    empty = (cents.join(grouped.select(*keys, "cid"), [*keys, "cid"], "left_anti")
             .select(*[F.col(k).alias(f"e_{k}") for k in keys], "cid",
                     F.row_number().over(
                         Window.partitionBy(*keys).orderBy("cid")).alias("en")))
    worst = assigned.select(
        *[F.col(k).alias(f"w_{k}") for k in keys], F.col(q.vec).alias("rvec"),
        F.row_number().over(Window.partitionBy(*keys).orderBy(
            F.desc("cost"), F.asc("vec_id"))).alias("wn"))
    reseed = (empty.join(worst, [F.col("en") == F.col("wn")]
                         + [F.col(f"e_{k}") == F.col(f"w_{k}") for k in keys])
              .select(*[F.col(f"e_{k}").alias(k) for k in keys], "cid", "rvec"))
    return (cents.join(means, [*keys, "cid"], "left")
            .join(reseed, [*keys, "cid"], "left")
            .select(*keys, "cid", F.coalesce("nvec", "rvec", "cvec").alias("cvec")))


def _forgy_seeds(points: DataFrame, q: _Quantizer, n: int,
                 seed_key: Column) -> DataFrame:
    """(keys…, cid, cvec): deterministic Forgy init — per group, the n
    points ranked first by md5(seed_key), then vec_id, become centroids
    0..n-1. Pseudo-random DATA points: pure-direction seeds stagnate Lloyd
    on clumpy data (the nearest seed swallows the whole clump and no other
    centroid ever gains members)."""
    rank = Window.partitionBy(*q.keys).orderBy(_md5_i64(seed_key), "vec_id")
    return (points.withColumn("rn", F.row_number().over(rank))
            .filter(F.col("rn") <= n)
            .select(*q.keys, (F.col("rn") - 1).cast("int").alias("cid"),
                    F.col(q.vec).alias("cvec")))


def _lloyd(points: DataFrame, seeds: DataFrame, q: _Quantizer,
           n_iters: int) -> DataFrame:
    """``n_iters`` Lloyd steps from ``seeds``. One tiny snapshot per step:
    a step reads the previous centroids three times, so a lazy chain
    would grow as 3^n_iters plan copies."""
    cents = materialize(seeds)
    for _ in range(n_iters):
        cents = materialize(_lloyd_step(points, cents, q))
    return cents


def _cols_sql(keys: tuple[str, ...], t: str = "") -> str:
    """``t.k1, t.k2, `` — the group columns as a select-list prefix."""
    return "".join(f"{t}{k}, " for k in keys)


def _window_sql(keys: tuple[str, ...], order: str, t: str = "") -> str:
    part = f"PARTITION BY {_cols_sql(keys, t)[:-2]} " if keys else ""
    return f"OVER ({part}ORDER BY {order})"


def _assign_sql(points: str, cents: str, q: _Quantizer) -> str:
    """DuckDB twin of :func:`_assign` before the pick: every (point,
    centroid of its group) pair with its cost, and ``rk`` = the rank of
    (cost, cid) within the point — rk = 1 is the assignment."""
    cost = q.cost_sql(f"s.{q.vec}", "c.cvec")
    point = ("vec_id", *q.keys)
    on = " AND ".join(f"c.{k} = s.{k}" for k in q.keys) or "TRUE"
    return f"""
  SELECT {_cols_sql(point, 's.')}s.{q.vec}, c.cid, {cost} AS cost,
         row_number() {_window_sql(point, f'{cost}, c.cid', 's.')} AS rk
  FROM {points} s JOIN {cents} c ON {on}"""


def _forgy_sql(points: str, q: _Quantizer, n: int, seed_key: str) -> str:
    """DuckDB twin of :func:`_forgy_seeds`."""
    keys = _cols_sql(q.keys)
    order = _window_sql(q.keys, f"{_md5_i64_sql(seed_key)}, vec_id")
    return f"""
  SELECT {keys}CAST(rn - 1 AS INTEGER) AS cid, {q.vec} AS cvec
  FROM (SELECT {keys}vec_id, {q.vec}, row_number() {order} AS rn
        FROM {points}) r
  WHERE rn <= {n}"""


def _lloyd_sql(prefix: str, points: str, q: _Quantizer,
               n_iters: int) -> list[str]:
    """DuckDB twin of :func:`_lloyd`: the CTEs ``{prefix}a1`` …
    ``{prefix}k{n_iters}``, replaying the Lloyd steps from the seeds CTE
    ``{prefix}k0`` over the ``points`` CTE. The prefix keeps two chains
    apart in one WITH (``ivfpq_topk_sql`` composes both). The per-group
    sum is ``list(vec ORDER BY vec_id)`` + a sequential ``list_reduce``:
    the same vec_id-ordered left fold as Spark's sort_array(collect_list)
    + aggregate."""
    keys, v = q.keys, q.vec
    kc = _cols_sql(keys)

    def on(a: str, b: str) -> str:
        return " AND ".join(f"{a}.{c} = {b}.{c}" for c in (*keys, "cid"))

    mean = ("list_transform(list_reduce(us, (a, b) -> list_transform("
            "range(1, len(a) + 1), j -> a[j] + b[j])), x -> x / cnt)")
    ctes = []
    for i in range(1, n_iters + 1):
        prev = f"{prefix}k{i - 1}"
        a, g, m, e, w, r, k = (f"{prefix}{c}{i}" for c in "agmewrk")
        src = f"(SELECT {kc}cid, {mean} AS mv FROM {g}) t1"
        if q.unit_mean:
            nvec = f"CASE WHEN nrm > 0 THEN list_transform(mv, x -> {portable_round_sql('x / nrm', 9)}) END"
            src = (f"(SELECT *, sqrt(list_reduce(list_transform(mv, x -> x * x), "
                   f"(a, b) -> a + b)) AS nrm FROM {src}) t2")
        else:
            nvec = f"list_transform(mv, x -> {portable_round_sql('x', 9)})"
        # MATERIALIZED: a{i} feeds both g{i} (means) and w{i} (worst fit);
        # inlined, DuckDB derives the point × centroid costs twice per step
        # (measured 5x on the ivf_topk oracle, 4.4x on pq_topk)
        ctes += [
            f"{a} AS MATERIALIZED ({_assign_sql(points, prev, q)})",
            f"""{g} AS (
  SELECT {kc}cid, count(*) AS cnt, list({v} ORDER BY vec_id) AS us
  FROM {a} WHERE rk = 1 GROUP BY {kc}cid)""",
            f"{m} AS (SELECT {kc}cid, {nvec} AS nvec FROM {src})",
            f"""{e} AS (
  SELECT {_cols_sql(keys, 'p.')}p.cid, row_number() {_window_sql(keys, 'p.cid', 'p.')} AS en
  FROM {prev} p LEFT JOIN {g} g ON {on('p', 'g')} WHERE g.cid IS NULL)""",
            f"""{w} AS (
  SELECT {kc}{v}, row_number() {_window_sql(keys, 'cost DESC, vec_id')} AS wn
  FROM {a} WHERE rk = 1)""",
            f"""{r} AS (
  SELECT {_cols_sql(keys, 'e.')}e.cid, w.{v} AS rvec
  FROM {e} e JOIN {w} w ON {''.join(f'w.{c} = e.{c} AND ' for c in keys)}e.en = w.wn)""",
            f"""{k} AS (
  SELECT {_cols_sql(keys, 'p.')}p.cid, coalesce(m.nvec, r.rvec, p.cvec) AS cvec
  FROM {prev} p LEFT JOIN {m} m ON {on('p', 'm')} LEFT JOIN {r} r ON {on('p', 'r')})""",
        ]
    return ctes


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN. Vectors are assigned to their nearest coarse
# centroid once (one corpus pass, per-row expression, shuffle-free); a
# query probes only the ``nprobe`` centroid lists nearest to it, so search
# cost is corpus_size * nprobe / n_centroids instead of corpus_size.
# ---------------------------------------------------------------------------


def _ivf_centroids(n_centroids: int, dim: int) -> list[list[float]]:
    """Deterministic unit-norm seed centroids: components in [-1, 1) from
    md5(centroid, i), L2-normalized driver-side. Plain double math — the
    SAME literals are embedded in the Spark plan and the DuckDB twin.
    ``trained=False`` uses them as the quantizer; training pads its Forgy
    seeds with them when the sample has fewer than n_centroids points."""
    cents = []
    for c in range(n_centroids):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"ivf-{c}-{i}".encode()).hexdigest()
            row.append((int(h[:8], 16) / float(1 << 31)) - 1.0)
        n = sum(x * x for x in row) ** 0.5
        cents.append([x / n for x in row])
    return cents


def _auto_n_centroids(embeddings: DataFrame) -> int:
    """Corpus-scaled cluster count: ceil(sqrt(N)) clamped to [4, 65536] —
    keeps per-cluster pairwise work (Σ|cluster|² in semantic_dedup) roughly
    linear in N instead of quadratic. One cheap count() action (control
    plane, like AQE statistics)."""
    n = embeddings.count()
    return max(4, min(65536, math.ceil(math.sqrt(n))))


def _seed_cents_df(spark, n_centroids: int, dim: int) -> DataFrame:
    """(cid, cvec) seed-centroid DataFrame from the md5 literals."""
    lit_structs = [
        F.struct(F.lit(cid).alias("cid"),
                 F.array(*[F.lit(x) for x in cent]).alias("cvec"))
        for cid, cent in enumerate(_ivf_centroids(n_centroids, dim))]
    return (spark.range(1)
            .select(F.explode(F.array(*lit_structs)).alias("s"))
            .select("s.cid", "s.cvec"))


def kmeans_centroids(embeddings: DataFrame, n_centroids: int = 16,
                     dim: int = 64, n_iters: int = 3,
                     sample_mod: int = 1) -> DataFrame:
    """(cid, cvec): coarse centroids trained by ``n_iters`` Lloyd steps
    (:func:`_lloyd_step` with the IVF cost) from Forgy seeds, on the
    md5(vec_id) % sample_mod == 0 training sample. Corpora smaller than
    n_centroids keep the fixed md5 directions in the tail cids.
    :func:`kmeans_centroids_sql` is its DuckDB value twin."""
    sample = with_unit_vectors(embeddings)
    if sample_mod > 1:
        keep = _md5_i64(F.concat(F.lit("km"), F.col("vec_id").cast("string")))
        sample = sample.filter(keep % sample_mod == 0)
    sample = materialize(sample)  # each iteration rescans it
    data = _forgy_seeds(sample, _IVF, n_centroids, F.concat(
        F.lit("seed"), F.col("vec_id").cast("string")))
    seeds = (_seed_cents_df(sample.sparkSession, n_centroids, dim)
             .join(data.withColumnRenamed("cvec", "dvec"), "cid", "left")
             .select("cid", F.coalesce("dvec", "cvec").alias("cvec")))
    return _lloyd(sample, seeds, _IVF, n_iters)


def _ivf_cents(embeddings: DataFrame, n_centroids: int | None, dim: int,
               trained: bool, n_iters: int, sample_mod: int) -> DataFrame:
    """(cid, cvec): the IVF quantizer every IVF operator reads. ``None``
    scales the count with the corpus (:func:`_auto_n_centroids`)."""
    if n_centroids is None:
        n_centroids = _auto_n_centroids(embeddings)
    if trained:
        return kmeans_centroids(embeddings, n_centroids, dim, n_iters,
                                sample_mod)
    return _seed_cents_df(embeddings.sparkSession, n_centroids, dim)


def ivf_assign(embeddings: DataFrame, n_centroids: int | None = 16,
               dim: int = 64, trained: bool = True, n_iters: int = 3,
               sample_mod: int = 1) -> DataFrame:
    """(vec_id, cluster, cos_sim): nearest coarse centroid per vector.

    The centroid table (trained by default, see :func:`kmeans_centroids`)
    is collapsed to one row and broadcast; assignment is then one per-row
    JVM expression (:func:`_assign`). No corpus shuffle, no UDF; the
    assignment column IS the IVF partition key downstream.
    ``n_centroids=None`` auto-scales with corpus size."""
    cents = _ivf_cents(embeddings, n_centroids, dim, trained, n_iters,
                       sample_mod)
    return (_assign(with_unit_vectors(embeddings), cents, _IVF)
            .select("vec_id", F.col("cid").cast("int").alias("cluster"),
                    portable_round(-F.col("cost"), 4).alias("cos_sim")))


def _assigned_corpus(embeddings: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, unit, cluster): unit vectors with their IVF assignment,
    snapshot-materialized — ivf_topk, ivfpq_topk and both semantic_dedup
    policies consume the IDENTICAL relation, so they share one snapshot."""
    return materialize(_assign(with_unit_vectors(embeddings), cents, _IVF)
                       .select("vec_id", "unit", F.col("cid").alias("cluster")))


def _probe_queries(embeddings: DataFrame, cents: DataFrame,
                   query_ids: list[int], nprobe: int) -> DataFrame:
    """(query_id, q_unit, cluster): each query exploded to its nprobe
    nearest centroid lists — the first nprobe of its sorted (cost, cid)."""
    probes = F.slice(F.array_sort(_costs(_IVF)), 1, nprobe)
    return (
        with_unit_vectors(embeddings).filter(F.col("vec_id").isin(query_ids))
        .join(F.broadcast(_cents_row(cents)), F.lit(True))
        .select(F.col("vec_id").alias("query_id"), F.col("unit").alias("q_unit"),
                F.explode(F.transform(probes, lambda s: s["cid"])).alias("cluster"))
    )


def ivf_topk(embeddings: DataFrame, query_ids: list[int], k: int = 5,
             n_centroids: int | None = 16, nprobe: int = 4, dim: int = 64,
             trained: bool = True, n_iters: int = 3,
             sample_mod: int = 1) -> DataFrame:
    """IVF ANN top-k: same output and ranking as :func:`cosine_topk`, but
    each query is scored only against the ``nprobe`` centroid lists
    nearest to it. Approximate — recall vs cosine_topk asserted in pytest
    (trained ≥ fixed at equal nprobe). Deterministic end-to-end, so it
    carries a full DuckDB oracle.

    Plan: k-means on the bounded sample → assignment scan (shuffle-free)
    → tiny exploded probe table (len(query_ids) × nprobe rows, broadcast)
    → equi-join on cluster → exact re-rank on candidates. The corpus is
    never all-pairs joined."""
    cents = _ivf_cents(embeddings, n_centroids, dim, trained, n_iters,
                       sample_mod)
    queries = _probe_queries(embeddings, cents, query_ids, nprobe)
    return _topk(
        _assigned_corpus(embeddings, cents)
        .join(F.broadcast(queries), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                _dot(F.col("q_unit"), F.col("unit")).alias("sim")),
        k)


def _cluster_pairs(corpus: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b): pairs of the same IVF cluster with doc_a < doc_b and
    9-dp cosine ≥ threshold — the only pairs SemDeDup ever scores."""
    l, r = corpus.alias("l"), corpus.alias("r")
    return (
        l.join(r, [F.col("l.cluster") == F.col("r.cluster"),
                   F.col("l.vec_id") < F.col("r.vec_id")])
        .filter(portable_round(_dot(F.col("l.unit"), F.col("r.unit")), 9) >= threshold)
        .select(F.col("l.vec_id").alias("doc_a"), F.col("r.vec_id").alias("doc_b"))
    )


def semantic_dedup(embeddings: DataFrame, threshold: float = 0.4,
                   n_centroids: int | None = 16, dim: int = 64,
                   trained: bool = True, n_iters: int = 3,
                   sample_mod: int = 1) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", public arXiv 2303.09540):
    embedding-space near-duplicates are detected WITHIN each coarse IVF
    cluster only, never corpus-wide — the clustering bounds the pairwise
    work to Σ |cluster|², exactly the paper's k-means trick. The quantizer
    is k-means-trained by default, which is what actually keeps clusters
    small on real (clumpy) embedding distributions; ``n_centroids=None``
    scales the cluster count with corpus size (ceil(sqrt(N)) — the paper
    uses 50k clusters at web scale).

    Output (vec_id, cluster, kept): ``kept`` is false iff a LOWER-id
    vector in the same cluster has cosine ≥ threshold. Disclosed policy:
    drops are marked against ALL lower-id similar vectors, including ones
    themselves dropped — in a chain a~b, b~c, a≁c this drops c where the
    paper's one-representative-per-ε-neighborhood would keep it.
    Deterministic, identical in both engines, and strictly more aggressive
    than the paper (never keeps a duplicate pair);
    :func:`semantic_dedup_representative` is the paper-faithful policy."""
    corpus = _assigned_corpus(embeddings, _ivf_cents(
        embeddings, n_centroids, dim, trained, n_iters, sample_mod))
    dropped = (_cluster_pairs(corpus, threshold)
               .select(F.col("doc_b").alias("vec_id")).distinct())
    return (
        corpus.select("vec_id", "cluster")
        .join(dropped.withColumn("is_dup", F.lit(True)), "vec_id", "left")
        .select("vec_id", F.col("cluster").cast("int").alias("cluster"),
                F.coalesce(~F.col("is_dup"), F.lit(True)).alias("kept"))
    )


def semantic_dedup_representative(embeddings: DataFrame,
                                  threshold: float = 0.4,
                                  n_centroids: int | None = 16, dim: int = 64,
                                  trained: bool = True, n_iters: int = 3,
                                  sample_mod: int = 1) -> DataFrame:
    """SemDeDup with the PAPER-FAITHFUL keep policy (closes the disclosed
    over-drop of :func:`semantic_dedup`): one representative per connected
    ε-neighborhood — the similarity pairs within each IVF cluster form a
    graph, and only the minimum vec_id of each connected component is kept
    (so in a chain a~b, b~c, a≁c: a survives, b drops, and c — whose only
    similar kept vector is none — ALSO drops as part of a's component; the
    paper's "keep one per duplicate group" read transitively). The third
    reading — greedy keep-unless-similar-to-a-KEPT-item (a maximal
    independent set in id order) — would keep c, but its fixpoint needs
    O(chain length) rounds where components need O(log n); at 10^12 rows
    the component representative is the policy you can actually run, and
    it never keeps a duplicate pair. Components via the
    large-star/small-star rounds (:func:`~.dedup.near_dup_components_star`),
    bounded by the same cluster-local pair graph — never corpus-wide."""
    from .dedup import near_dup_components_star

    corpus = _assigned_corpus(embeddings, _ivf_cents(
        embeddings, n_centroids, dim, trained, n_iters, sample_mod))
    comp = near_dup_components_star(
        corpus.select(F.col("vec_id").alias("doc_id")),
        _cluster_pairs(corpus, threshold))
    return (
        corpus.select("vec_id", "cluster")
        .join(comp.select(F.col("doc_id").alias("vec_id"), "component_id"),
              "vec_id")
        .select("vec_id", F.col("cluster").cast("int").alias("cluster"),
                (F.col("component_id") == F.col("vec_id")).alias("kept"))
    )


def _centroids_values_sql(n_centroids: int, dim: int) -> str:
    rows = ", ".join(
        f"({cid}, [{', '.join(repr(x) for x in cent)}])"
        for cid, cent in enumerate(_ivf_centroids(n_centroids, dim)))
    return f"(VALUES {rows}) c(cid, cvec)"


def _kmeans_cents_sql(n_centroids: int, dim: int, n_iters: int,
                      sample_mod: int) -> str:
    """DuckDB twin of :func:`kmeans_centroids`, ending in the CTE
    ``cents(cid, cvec)``. Requires the ``unitv`` CTE in scope."""
    where = ""
    if sample_mod > 1:
        keep = _md5_i64_sql("'km' || CAST(vec_id AS VARCHAR)")
        where = f"WHERE ({keep}) % {sample_mod} = 0"
    seed = "'seed' || CAST(vec_id AS VARCHAR)"
    return ",\n".join([
        f"samp AS MATERIALIZED (SELECT vec_id, unit FROM unitv {where})",
        f"dseed AS ({_forgy_sql('samp', _IVF, n_centroids, seed)})",
        f"""k0 AS (
  SELECT c.cid, coalesce(d.cvec, c.cvec) AS cvec
  FROM {_centroids_values_sql(n_centroids, dim)}
  LEFT JOIN dseed d ON c.cid = d.cid)""",
        *_lloyd_sql("", "samp", _IVF, n_iters),
        f"cents AS (SELECT cid, cvec FROM k{n_iters})"])


def _ivf_prelude_sql(n_centroids: int, dim: int, trained: bool,
                     n_iters: int, sample_mod: int, table: str) -> str:
    """unitv + cents (trained chain or seed VALUES) + csim, ready to WITH.
    ``csim`` holds every (vector, centroid) cost and rank: rank 1 is the
    assignment, rank <= nprobe is a query's probe list."""
    cents = (_kmeans_cents_sql(n_centroids, dim, n_iters, sample_mod)
             if trained else
             f"cents AS (SELECT cid, cvec FROM {_centroids_values_sql(n_centroids, dim)})")
    return ",\n".join([
        _UNITV_SQL.format(table=table), cents,
        f"csim AS MATERIALIZED ({_assign_sql('unitv', 'cents', _IVF)})"])


def _cluster_pairs_sql(threshold: float) -> str:
    """DuckDB twin of :func:`_assigned_corpus` + :func:`_cluster_pairs`:
    the CTEs ``assigned`` and ``pairs``, after :func:`_ivf_prelude_sql`."""
    dot = _DOT_SQL.format(a="a.unit", b="b.unit")
    return f"""assigned AS MATERIALIZED (
  SELECT vec_id, cid AS cluster, unit FROM csim WHERE rk = 1
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {portable_round_sql(dot, 9)} >= {threshold}
)"""


def semantic_dedup_representative_sql(threshold: float = 0.4,
                                      n_centroids: int = 16, dim: int = 64,
                                      trained: bool = True, n_iters: int = 3,
                                      sample_mod: int = 1,
                                      table: str = "embeddings") -> str:
    """DuckDB twin: identical prelude + pair graph, components via the
    same recursive min-reachable-id CTE shape as
    :func:`~.dedup.near_dup_components_sql` (inlined — the prelude and the
    recursive CTE must share one WITH RECURSIVE clause)."""
    return f"""
WITH RECURSIVE {_ivf_prelude_sql(n_centroids, dim, trained, n_iters, sample_mod, table)},
{_cluster_pairs_sql(threshold)},
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(doc, cand) AS (
  SELECT vec_id, vec_id FROM assigned
  UNION
  SELECT e.dst, r.cand FROM reach r JOIN edges e ON e.src = r.doc
),
comp AS (SELECT doc AS vec_id, min(cand) AS component_id FROM reach GROUP BY doc)
SELECT s.vec_id, CAST(s.cluster AS INTEGER) AS cluster,
       (c.component_id = s.vec_id) AS kept
FROM assigned s JOIN comp c USING (vec_id)
"""


def semantic_dedup_sql(threshold: float = 0.4, n_centroids: int = 16,
                       dim: int = 64, trained: bool = True, n_iters: int = 3,
                       sample_mod: int = 1, table: str = "embeddings") -> str:
    return f"""
WITH {_ivf_prelude_sql(n_centroids, dim, trained, n_iters, sample_mod, table)},
{_cluster_pairs_sql(threshold)},
dropped AS (SELECT DISTINCT doc_b AS vec_id FROM pairs)
SELECT s.vec_id, CAST(s.cluster AS INTEGER) AS cluster,
       (d.vec_id IS NULL) AS kept
FROM assigned s LEFT JOIN dropped d USING (vec_id)
"""


def ivf_assign_sql(n_centroids: int = 16, dim: int = 64, trained: bool = True,
                   n_iters: int = 3, sample_mod: int = 1,
                   table: str = "embeddings") -> str:
    return f"""
WITH {_ivf_prelude_sql(n_centroids, dim, trained, n_iters, sample_mod, table)}
SELECT vec_id, CAST(cid AS INTEGER) AS cluster,
       {portable_round_sql('-cost', 4)} AS cos_sim
FROM csim WHERE rk = 1
"""


def kmeans_centroids_sql(n_centroids: int = 16, dim: int = 64,
                         n_iters: int = 3, sample_mod: int = 1,
                         table: str = "embeddings") -> str:
    """Standalone trained-centroid twin (cid, cvec) — pytest compares this
    against :func:`kmeans_centroids` value-for-value."""
    return f"""
WITH {_UNITV_SQL.format(table=table)},
{_kmeans_cents_sql(n_centroids, dim, n_iters, sample_mod)}
SELECT cid, cvec FROM cents
"""


def ivf_topk_sql(query_ids: list[int], k: int = 5, n_centroids: int = 16,
                 nprobe: int = 4, dim: int = 64, trained: bool = True,
                 n_iters: int = 3, sample_mod: int = 1,
                 table: str = "embeddings") -> str:
    ids = ", ".join(str(i) for i in query_ids)
    dot = _DOT_SQL.format(a="q.q_unit", b="a.unit")
    return f"""
WITH {_ivf_prelude_sql(n_centroids, dim, trained, n_iters, sample_mod, table)},
assigned AS (SELECT vec_id, cid AS cluster, unit FROM csim WHERE rk = 1),
probes AS (
  SELECT vec_id AS query_id, unit AS q_unit, cid AS cluster
  FROM csim WHERE vec_id IN ({ids}) AND rk <= {nprobe}
),
scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id, {dot} AS sim
  FROM assigned a JOIN probes q USING (cluster)
  WHERE a.vec_id <> q.query_id
){_topk_sql('scored', k)}"""


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid 2011, "Product Quantization
# for Nearest Neighbor Search", public TPAMI paper) — the memory-bound ANN
# representation at 10^12-vector scale: each unit vector is stored as m
# small codes (here 8 × 1 byte ≈ 64× smaller than 64 float64s) and queries
# are scored against RECONSTRUCTED vectors (ADC — asymmetric distance
# computation) without ever touching the original embeddings. Codebooks
# quantize raw sub-vectors for L2 (plain means, no normalization): dot(q,
# x) is the SUM of subspace dots, so the per-subspace reconstruction error
# directly bounds the ADC dot error.
# ---------------------------------------------------------------------------


def _pq_subvectors(embeddings: DataFrame, m: int, dim: int) -> DataFrame:
    """(vec_id, sub, svec): the m per-subspace slices of each unit vector."""
    sub_d = dim // m
    return (with_unit_vectors(embeddings)
            .select("vec_id",
                    F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
                    F.col("unit"))
            .select("vec_id", "sub",
                    F.slice("unit", F.col("sub") * sub_d + 1,
                            F.lit(sub_d)).alias("svec")))


def pq_codebooks(embeddings: DataFrame, m: int = 8, k: int = 16,
                 dim: int = 64, n_iters: int = 2,
                 sample_mod: int = 1) -> DataFrame:
    """(sub, cid, cvec[dim/m]): per-subspace PQ codebooks — Forgy seeds
    (md5-ranked sample subvectors per subspace) + ``n_iters`` Lloyd steps
    (:func:`_lloyd_step` with the L2 cost, keyed by ``sub``).
    ``sample_mod`` bounds training cost at corpus scale exactly as in
    :func:`kmeans_centroids`; corpora smaller than k get min(k, n)
    centroids per subspace."""
    subs = _pq_subvectors(embeddings, m, dim)
    if sample_mod > 1:
        keep = _md5_i64(F.concat(F.lit("pq"), F.col("vec_id").cast("string")))
        subs = subs.filter(keep % sample_mod == 0)
    subs = materialize(subs)
    seeds = _forgy_seeds(subs, _PQ, k, F.concat(
        F.lit("pqseed"), F.col("sub").cast("string"), F.lit(":"),
        F.col("vec_id").cast("string")))
    return _lloyd(subs, seeds, _PQ, n_iters)


def _pq_codes(embeddings: DataFrame, cents: DataFrame, m: int,
              dim: int) -> DataFrame:
    """(vec_id, sub, code): every vector encoded against ``cents``."""
    return (_assign(_pq_subvectors(embeddings, m, dim), cents, _PQ)
            .select("vec_id", "sub", F.col("cid").alias("code")))


def pq_encode(embeddings: DataFrame, m: int = 8, k: int = 16, dim: int = 64,
              n_iters: int = 2, sample_mod: int = 1) -> DataFrame:
    """(vec_id, sub, code): each vector's per-subspace nearest-codebook
    assignment — the PQ compressed representation, flat (one row per
    subspace: arrays stringify differently across engines, the flat form
    value-hashes identically; production packs the m codes into bytes).
    One pass over the corpus; the codebook rides a 1-row broadcast."""
    return _pq_codes(embeddings,
                     pq_codebooks(embeddings, m, k, dim, n_iters, sample_mod),
                     m, dim)


def _pq_reconstructed(embeddings: DataFrame, m: int, k: int, dim: int,
                      n_iters: int, sample_mod: int) -> DataFrame:
    """(vec_id, sub, cvec): each vector's codebook row per subspace."""
    cents = pq_codebooks(embeddings, m, k, dim, n_iters, sample_mod)
    codes = _pq_codes(embeddings, cents, m, dim)
    return (codes.join(F.broadcast(cents), (codes["sub"] == cents["sub"])
                       & (codes["code"] == cents["cid"]))
            .select("vec_id", codes["sub"].alias("sub"), "cvec"))


def _adc_topk(cands: DataFrame, q_unit: str, sub_d: int,
              k_results: int) -> DataFrame:
    """(query_id, neighbor_id, adc_sim): the ADC scoring tail shared by
    :func:`pq_topk` and :func:`ivfpq_topk`. Over (query_id, vec_id, sub,
    cvec, ``q_unit``) rows: the 9-dp dot of the query's sub-vector with
    the reconstructed one, summed exactly per (query, candidate); top
    ``k_results`` by score then vec_id, 4-dp output."""
    p = portable_round(_dot(F.slice(q_unit, F.col("sub") * sub_d + 1,
                                    F.lit(sub_d)), F.col("cvec")), 9)
    scored = cands.groupBy("query_id", "vec_id").agg(exact_sum(p).alias("adc"))
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("vec_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k_results)
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    portable_round(F.col("adc"), 4).alias("adc_sim")))


def pq_topk(embeddings: DataFrame, query_ids: list[int], k_results: int = 5,
            m: int = 8, k: int = 16, dim: int = 64, n_iters: int = 2,
            sample_mod: int = 1) -> DataFrame:
    """(query_id, neighbor_id, adc_sim): approximate top-k by ADC — the
    query's EXACT unit subvectors dotted against each candidate's
    RECONSTRUCTED subvectors (codebook rows keyed by the candidate's
    codes), summed over subspaces. The original embeddings are never read
    at query time: scoring touches only the codes table and the tiny
    codebook — the representation that fits 10^12 vectors in executor
    memory. Approximate (recall floor pytest-asserted vs cosine_topk);
    production composes this with the IVF lists (scan nprobe lists' codes
    only) — here the full codes table is scanned so the oracle covers the
    whole scoring path."""
    queries = (with_unit_vectors(embeddings)
               .filter(F.col("vec_id").isin(query_ids))
               .select(F.col("vec_id").alias("query_id"), F.col("unit")))
    cands = (_pq_reconstructed(embeddings, m, k, dim, n_iters, sample_mod)
             .join(F.broadcast(queries), F.lit(True))
             .filter(F.col("vec_id") != F.col("query_id")))
    return _adc_topk(cands, "unit", dim // m, k_results)


def _pq_chain_sql(m: int, k: int, dim: int, n_iters: int,
                  sample_mod: int) -> str:
    """DuckDB twin of :func:`pq_codebooks`: the CTEs ``allsubs(vec_id,
    sub, svec)``, ``subs`` (the training sample) and the trained
    ``pqcents(sub, cid, cvec)``. Requires the ``unitv`` CTE in scope."""
    sub_d = dim // m
    where = ""
    if sample_mod > 1:
        keep = _md5_i64_sql("'pq' || CAST(vec_id AS VARCHAR)")
        where = f"WHERE ({keep}) % {sample_mod} = 0"
    seed = "'pqseed' || CAST(sub AS VARCHAR) || ':' || CAST(vec_id AS VARCHAR)"
    return ",\n".join([
        f"""allsubs AS MATERIALIZED (
  SELECT vec_id, s.sub,
         list_slice(unit, s.sub * {sub_d} + 1, s.sub * {sub_d} + {sub_d}) AS svec
  FROM unitv, (SELECT unnest(range(0, {m})) AS sub) s)""",
        # sample_mod == 1 means subs IS allsubs — a plain alias, or the
        # MATERIALIZED would hold a second full copy of the subvector table
        (f"subs AS MATERIALIZED (SELECT * FROM allsubs {where})"
         if sample_mod > 1 else "subs AS (SELECT * FROM allsubs)"),
        f"pk0 AS ({_forgy_sql('subs', _PQ, k, seed)})",
        *_lloyd_sql("p", "subs", _PQ, n_iters),
        f"pqcents AS MATERIALIZED (SELECT sub, cid, cvec FROM pk{n_iters})"])


def _pq_codes_sql() -> str:
    """``pqcodes(vec_id, sub, code)`` from allsubs × pqcents (the FULL
    corpus is encoded even when training sampled)."""
    return f"""penc AS ({_assign_sql('allsubs', 'pqcents', _PQ)}),
pqcodes AS MATERIALIZED (
  SELECT vec_id, sub, CAST(cid AS INTEGER) AS code FROM penc WHERE rk = 1)"""


def _adc_topk_sql(parts_cte: str, col: str, k_results: int) -> str:
    """DuckDB twin of :func:`_adc_topk`: the CTEs after ``parts_cte``
    (query_id, vec_id, ``col``) and the final SELECT."""
    return f"""scored AS (
  SELECT query_id, vec_id, {exact_sum_sql(col)} AS adc
  FROM {parts_cte} GROUP BY query_id, vec_id),
ranked AS (
  SELECT query_id, vec_id, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc DESC, vec_id) AS rk
  FROM scored)
SELECT query_id, vec_id AS neighbor_id,
       {portable_round_sql('adc', 4)} AS adc_sim
FROM ranked WHERE rk <= {k_results}
"""


def pq_codebooks_sql(m: int = 8, k: int = 16, dim: int = 64, n_iters: int = 2,
                     sample_mod: int = 1, table: str = "embeddings") -> str:
    return f"""
WITH {_UNITV_SQL.format(table=table)},
{_pq_chain_sql(m, k, dim, n_iters, sample_mod)}
SELECT sub, cid, cvec FROM pqcents
"""


def pq_encode_sql(m: int = 8, k: int = 16, dim: int = 64, n_iters: int = 2,
                  sample_mod: int = 1, table: str = "embeddings") -> str:
    return f"""
WITH {_UNITV_SQL.format(table=table)},
{_pq_chain_sql(m, k, dim, n_iters, sample_mod)},
{_pq_codes_sql()}
SELECT vec_id, sub, code FROM pqcodes
"""


def pq_topk_sql(query_ids: list[int], k_results: int = 5, m: int = 8,
                k: int = 16, dim: int = 64, n_iters: int = 2,
                sample_mod: int = 1, table: str = "embeddings") -> str:
    sub_d = dim // m
    ids = ", ".join(str(i) for i in query_ids)
    qdot = _DOT_SQL.format(
        a=f"list_slice(q.unit, p.sub * {sub_d} + 1, p.sub * {sub_d} + {sub_d})",
        b="p.cvec")
    return f"""
WITH {_UNITV_SQL.format(table=table)},
{_pq_chain_sql(m, k, dim, n_iters, sample_mod)},
{_pq_codes_sql()},
q AS (SELECT vec_id AS query_id, unit FROM unitv WHERE vec_id IN ({ids})),
parts AS (
  SELECT q.query_id, e.vec_id, e.sub,
         {portable_round_sql(qdot, 9)} AS p
  FROM pqcodes e
  JOIN pqcents p ON p.sub = e.sub AND p.cid = e.code
  CROSS JOIN q
  WHERE e.vec_id <> q.query_id),
{_adc_topk_sql('parts', 'p', k_results)}"""


def ivfpq_topk(embeddings: DataFrame, query_ids: list[int],
               k_results: int = 5, n_centroids: int | None = 16,
               nprobe: int = 4, m: int = 8, k: int = 16, dim: int = 64,
               trained: bool = True, n_iters: int = 3, pq_iters: int = 2,
               sample_mod: int = 1) -> DataFrame:
    """IVF-PQ — the production web-scale ANN architecture (Jégou et al.
    2011 §V; what FAISS's IVFPQ index computes): the trained IVF coarse
    quantizer restricts each query to its ``nprobe`` nearest lists, and
    the candidates in those lists are scored by ADC against the PQ
    codebooks — so query cost is (corpus × nprobe / n_centroids) code
    lookups and the hot path touches neither the original embeddings nor
    lists the query did not probe. Composes :func:`ivf_assign` +
    :func:`pq_encode`; deterministic end-to-end, full DuckDB oracle.

    Output (query_id, neighbor_id, adc_sim) — approximate on two axes
    (list pruning + quantized scores); pytest bounds recall vs exact."""
    cents = _ivf_cents(embeddings, n_centroids, dim, trained, n_iters,
                       sample_mod)
    queries = _probe_queries(embeddings, cents, query_ids, nprobe)
    cands = (
        _assigned_corpus(embeddings, cents).select("vec_id", "cluster")
        .join(F.broadcast(queries), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "q_unit"))
    cvecs = _pq_reconstructed(embeddings, m, k, dim, pq_iters, sample_mod)
    return _adc_topk(cands.join(cvecs, "vec_id"), "q_unit", dim // m,
                     k_results)


def ivfpq_topk_sql(query_ids: list[int], k_results: int = 5,
                   n_centroids: int = 16, nprobe: int = 4, m: int = 8,
                   k: int = 16, dim: int = 64, trained: bool = True,
                   n_iters: int = 3, pq_iters: int = 2, sample_mod: int = 1,
                   table: str = "embeddings") -> str:
    """DuckDB twin: the IVF prelude (shared ``unitv`` + coarse k-means +
    csim) composed with the PQ training chain — probe lists from csim,
    candidates from the rank-1 assignment, ADC from the code/codebook
    joins with the same scoring tail."""
    sub_d = dim // m
    ids = ", ".join(str(i) for i in query_ids)
    qdot = _DOT_SQL.format(
        a=f"list_slice(p.q_unit, e.sub * {sub_d} + 1, e.sub * {sub_d} + {sub_d})",
        b="c.cvec")
    return f"""
WITH {_ivf_prelude_sql(n_centroids, dim, trained, n_iters, sample_mod, table)},
assigned AS MATERIALIZED (SELECT vec_id, cid AS cluster FROM csim WHERE rk = 1),
probes AS (
  SELECT vec_id AS query_id, unit AS q_unit, cid AS cluster
  FROM csim WHERE vec_id IN ({ids}) AND rk <= {nprobe}),
{_pq_chain_sql(m, k, dim, pq_iters, sample_mod)},
{_pq_codes_sql()},
parts AS (
  SELECT p.query_id, a.vec_id, e.sub, {portable_round_sql(qdot, 9)} AS pp
  FROM probes p
  JOIN assigned a ON a.cluster = p.cluster AND a.vec_id <> p.query_id
  JOIN pqcodes e ON e.vec_id = a.vec_id
  JOIN pqcents c ON c.sub = e.sub AND c.cid = e.code),
{_adc_topk_sql('parts', 'pp', k_results)}"""


# ---------------------------------------------------------------------------
# Semantic (embedding-level) benchmark decontamination — the embedding
# sibling of corpus_filters.decontaminate (which is n-gram-overlap-based).
# Public recipe: eval contamination checks by embedding similarity against
# the benchmark set (e.g. the GPT-4 technical report's contamination
# methodology and the open-data replications of it) — a corpus item is
# flagged when it is too close to ANY benchmark item in embedding space,
# catching paraphrased leakage that exact n-grams miss.
# ---------------------------------------------------------------------------


def semantic_decontaminate(embeddings: DataFrame, bench_mod: int = 97,
                           threshold: float = 0.4) -> DataFrame:
    """(vec_id, max_bench_sim, contaminated) for every corpus vector.

    Benchmark set = ``vec_id % bench_mod == 0`` (the deterministic stand-in
    convention of :func:`~.corpus_filters.decontaminate`); corpus = the
    rest. ``max_bench_sim`` = the highest 9-dp-rounded cosine against any
    benchmark vector (shown at 4 dp; NULL when the benchmark set is empty),
    ``contaminated`` = 1 when that max ≥ threshold, else 0 (including the
    empty-benchmark case).

    Scale shape: the whole benchmark set is folded into ONE array row and
    broadcast, so the corpus side (any size, 10^12 vectors included) is a
    single map-only pass (no shuffle at all: the per-corpus-row max is
    computed inside ``transform``/``array_max`` over the broadcast array).
    The cost sits on the benchmark side: that row is about
    ``n_bench × dim × 8`` bytes of doubles, built by ONE ``collect_list``
    task and held in full by every executor. At 10^5 benchmark items it is
    about 51 MB at dim 64, 614 MB at dim 768 and 3.3 GB at dim 4096 — past
    the JVM's 2 GB single-array limit, so that last case fails. Supported
    range: ``n_bench × dim`` up to about 10^7 (a row of ≤ 80 MB, e.g. 10^5
    items at dim 64 or 10^4 items at dim 768). Nothing switches plans
    automatically; a larger benchmark set needs the LSH-blocked bucket join
    of :func:`embedding_near_dup_lsh` instead of this op.

    Reference analog: none; driver-brief training-data op.
    """
    base = with_unit_vectors(embeddings)
    bench_arr = (
        base.filter((F.col("vec_id") % bench_mod) == 0)
        .agg(F.sort_array(
            F.collect_list(F.struct("vec_id", "unit"))).alias("bench"))
        .withColumn("k", F.lit(1))
    )
    corpus = (base.filter((F.col("vec_id") % bench_mod) != 0)
              .withColumn("k", F.lit(1)))
    msim = F.array_max(F.transform(
        F.col("bench"),
        lambda b: portable_round(_dot(b["unit"], F.col("unit")), 9)))
    return (
        corpus.join(F.broadcast(bench_arr), "k")
        .select(
            "vec_id",
            portable_round(msim, 4).alias("max_bench_sim"),
            F.when(msim >= threshold, 1).otherwise(0)
            .cast("int").alias("contaminated"),
        )
    )


def semantic_decontaminate_sql(bench_mod: int = 97, threshold: float = 0.4,
                               table: str = "embeddings") -> str:
    """DuckDB twin: same unit-vector prelude, bench × corpus via LEFT JOIN
    ON TRUE (keeps corpus rows when the benchmark set is empty, mirroring
    the Spark array_max-of-empty → NULL), same 9-dp max → 4-dp display."""
    dot = _DOT_SQL.format(a="c.unit", b="b.unit")
    return f"""
WITH {_UNITV_SQL.format(table=table)},
bench AS (SELECT vec_id, unit FROM unitv WHERE vec_id % {bench_mod} = 0),
corpus AS (SELECT vec_id, unit FROM unitv WHERE vec_id % {bench_mod} <> 0),
scored AS (
  SELECT c.vec_id AS vec_id, max({portable_round_sql(dot, 9)}) AS msim
  FROM corpus c LEFT JOIN bench b ON TRUE
  GROUP BY c.vec_id
)
SELECT vec_id,
       {portable_round_sql('msim', 4)} AS max_bench_sim,
       CAST(CASE WHEN msim >= {threshold} THEN 1 ELSE 0 END AS INTEGER)
         AS contaminated
FROM scored
"""
