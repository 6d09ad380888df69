"""Approximate-nearest-neighbor search over the ``embeddings`` table
(vec_id, embedding: array<float>, label).

* :func:`cosine_topk` — exact brute-force baseline: broadcast the (small)
  query set against the full corpus; per-row JVM-side dot product via
  ``F.aggregate``/``zip_with`` (no Python). At 10^12 rows this is the
  verification/recall-measurement path, run on samples.
* :func:`lsh_topk` — the scale path: random-hyperplane LSH (signs of dot
  products with deterministic md5-derived hyperplanes) buckets the corpus;
  candidates = same-bucket rows across ``n_tables`` independent tables;
  exact cosine re-rank on candidates only. Candidate generation is a
  bucket-equality join — shuffle on (table, bucket), never all-pairs.

Math is float64 end-to-end (cast from float32 storage) with sequential
left-to-right folds, matching the DuckDB oracle's evaluation to the last
bit in practice; scores are rounded for cross-engine hashing and ties are
broken by vec_id.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, functions as F

from ..rounding import (
    exact_sum, exact_sum_sql, portable_round, portable_round_sql)
from .dedup import _md5_i64, _md5_i64_sql
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def with_unit_vectors(embeddings: DataFrame) -> DataFrame:
    """Add a float64 L2-normalized copy of the embedding (cosine → dot).

    Rows with a NULL embedding are DROPPED here — the single entry point
    every similarity operator shares — rather than flowing NULL subvectors
    into k-means/ADC where each engine's NULL-in-struct ordering diverges
    (a NULL row in the PQ training set flipped the trained codebooks
    between Spark and DuckDB). Zero vectors stay: their unit copy is the
    zero vector itself, deterministic in both engines.

    The norm is let-bound via a single-element ``transform`` so the
    normalizing division references a bound O(1) lambda variable — the
    naive ``transform(vec, v -> v / norm(vec))`` re-evaluates the whole
    norm fold per element (O(dim²); harmless at dim 64, wrong at
    production embedding widths). Same defense as
    :func:`~.dedup.shingles`."""
    embeddings = embeddings.filter(F.col("embedding").isNotNull())
    vec = F.transform(F.col("embedding"), lambda v: v.cast("double"))

    def build(v: Column) -> Column:
        n = _norm(v)
        return F.element_at(
            F.transform(F.array(n),
                        lambda nn: F.when(nn > 0, F.transform(v, lambda x: x / nn))
                        .otherwise(v)), 1)

    return embeddings.withColumn(
        "unit", F.element_at(F.transform(F.array(vec), build), 1))


def cosine_topk(embeddings: DataFrame, query_ids: list[int], k: int = 5) -> DataFrame:
    """Exact top-k neighbors (excluding self) for each query vec_id.

    Output: (query_id, neighbor_id, rank, cos_sim). The query side is tiny
    → broadcast; corpus side streams, one window per query for top-k
    (TakeOrdered per group). Deterministic: ties broken by neighbor_id.
    """
    base = with_unit_vectors(embeddings).select("vec_id", "unit")
    queries = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("unit").alias("q_unit"))
    scored = (
        base.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _dot(F.col("q_unit"), F.col("unit")).alias("sim"),
        )
    )
    # rank on sim rounded to 9 dp: sub-1e-9 float divergence (e.g. a future
    # engine fusing the fold differently) must not flip neighbor order; ties
    # break on neighbor_id in both engines
    w = Window.partitionBy("query_id").orderBy(
        F.desc(portable_round(F.col("sim"), 9)), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", portable_round(F.col("sim"), 4).alias("cos_sim"))
    )


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


def lsh_topk(embeddings: DataFrame, query_ids: list[int], k: int = 5,
             n_planes: int = 8, n_tables: int = 4, dim: int = 64) -> DataFrame:
    """Banded random-hyperplane ANN: same output schema as cosine_topk but
    only candidates sharing an LSH bucket (any table) are scored. May miss
    true neighbors (approximate); recall measured in tests vs cosine_topk.

    The banded corpus (unit vectors + bucket ids per table) is a parquet
    snapshot, like :func:`embedding_near_dup_lsh` — repeated top-k calls
    against the same corpus then skip the normalize+hash recompute and
    scan the snapshot."""
    base = with_unit_vectors(embeddings).select("vec_id", "unit")
    tables = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, t)
        tables.append(base.select(
            "vec_id", "unit", F.lit(t).alias("tbl"),
            lsh_bucket(F.col("unit"), planes).alias("bucket")))
    banded = tables[0]
    for t in tables[1:]:
        banded = banded.unionByName(t)
    from ..materialize import materialize

    banded = materialize(banded)

    queries = banded.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("unit").alias("q_unit"),
        "tbl", "bucket")
    cands = (
        banded.join(F.broadcast(queries),
                    ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "unit", "q_unit")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id", "neighbor_id", _dot(F.col("q_unit"), F.col("unit")).alias("sim"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", portable_round(F.col("sim"), 4).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# DuckDB twin (correctness oracle) for the exact brute-force path. The fold
# order matches the Spark expressions exactly (left fold, double math), so
# scores agree bit-for-bit; ranking uses the same portable 9-dp round + vec_id
# tie-break.
# ---------------------------------------------------------------------------

_DOT_SQL = ("list_reduce(list_transform(range(1, len({a}) + 1), "
            "i -> {a}[i] * {b}[i]), (x, y) -> x + y)")


def cosine_topk_sql(query_ids: list[int], k: int = 5,
                    table: str = "embeddings") -> str:
    ids = ", ".join(str(i) for i in query_ids)
    dot = _DOT_SQL.format(a="u.unit", b="q.q_unit")
    return f"""
WITH vec AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v
  FROM {table} WHERE embedding IS NOT NULL
),
unitv AS (
  SELECT vec_id,
         CASE WHEN n > 0 THEN list_transform(v, x -> x / n) ELSE v END AS unit
  FROM (SELECT vec_id, v,
               sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS n
        FROM vec) t
),
q AS (SELECT vec_id AS query_id, unit AS q_unit FROM unitv WHERE vec_id IN ({ids})),
scored AS (
  SELECT q.query_id, u.vec_id AS neighbor_id, {dot} AS sim
  FROM unitv u CROSS JOIN q
  WHERE u.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, {portable_round_sql('sim', 4)} AS cos_sim
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY {portable_round_sql('sim', 9)} DESC, neighbor_id) AS rank
      FROM scored) r
WHERE rank <= {k}
"""


def embedding_near_dup(embeddings: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — exact all-pairs baseline
    (vec_a < vec_b, cosine ≥ threshold). The verification/recall path; at
    corpus scale use :func:`embedding_near_dup_lsh`."""
    base = with_unit_vectors(embeddings).select("vec_id", "unit")
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
    base = with_unit_vectors(embeddings).select("vec_id", "unit")
    banded = None
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, t)
        part = base.select(
            "vec_id", "unit", F.lit(t).alias("tbl"),
            lsh_bucket(F.col("unit"), planes).alias("bucket"))
        banded = part if banded is None else banded.unionByName(part)
    from ..materialize import materialize

    banded = materialize(banded)  # self-join computes each side otherwise
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


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path the brief names
# beside LSH. Vectors are assigned to their nearest coarse centroid once
# (one corpus pass, per-row expression, shuffle-free); a query probes only
# the ``nprobe`` centroid lists nearest to it, so search cost is
# corpus_size * nprobe / n_centroids instead of corpus_size.
#
# The quantizer is TRAINED by default (round 5 — VERDICT r04 #2): a seeded,
# fixed-iteration Lloyd's k-means over a deterministic md5-sampled subset,
# expressed entirely as DataFrame ops (broadcast the tiny centroid table,
# per-row argmax assignment, per-cluster vec_id-ordered sequential-fold
# mean). Fixed iterations + md5-seeded init keep it exactly reproducible,
# so the DuckDB twin replays the identical training and stays a full value
# oracle.
# ``trained=False`` falls back to the md5-derived fixed centroids (the
# k-means init), kept as the recall baseline for tests.
# ---------------------------------------------------------------------------


def _ivf_centroids(n_centroids: int, dim: int) -> list[list[float]]:
    """Deterministic unit-norm seed centroids: components in [-1, 1) from
    md5(centroid, i), L2-normalized driver-side. Plain double math — the
    SAME literals are embedded in the Spark plan and the DuckDB twin.
    These are k-means iteration 0; ``trained=False`` uses them as-is."""
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
    linear in N instead of quadratic (VERDICT r04 #3). Callers that need a
    static DuckDB twin pass an explicit count; ``None`` triggers this
    (one cheap count() action — control plane, like AQE statistics)."""
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


def _cents_row(cents_df: DataFrame) -> DataFrame:
    """Collapse (cid, cvec) into ONE row (cents: array<struct>) sorted by
    cid — broadcast-joined onto vector rows so the argmax is a per-row
    array expression, never a per-row join."""
    return cents_df.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("cid", "cvec"))).alias("cents"))


def _best_cent(cents_col: Column, unit_col: Column) -> Column:
    """argmax struct(sim, negcid) over a cents array column: highest sim
    wins, ties go to the LOWEST cid — matching the row_number tie-break
    (sim DESC, cid ASC) in the SQL twin. A chained when()-fold would
    duplicate its subtree per level and grow the plan 2^n_centroids."""
    return F.array_max(F.transform(cents_col, lambda c: F.struct(
        portable_round(_dot(unit_col, c["cvec"]), 9).alias("sim"),
        (-c["cid"]).alias("negcid"))))


def _kmeans_iter(sample: DataFrame, cents_df: DataFrame, dim: int) -> DataFrame:
    """One Lloyd iteration, cross-engine deterministic:

    assign each sampled vector to its nearest current centroid (argmax on
    9-dp-rounded sims), then new centroid = L2-normalized per-cluster mean,
    summed by a SEQUENTIAL vec_id-ordered fold (sort_array(collect_list) +
    aggregate here; list(... ORDER BY vec_id) + list_reduce in DuckDB) so
    float addition order is identical in both engines, and 9-dp
    portable-rounded per component (canonicalizes ±0.0 and bounds plan
    literals).

    Empty clusters are RE-SEEDED at the worst-fit sample vectors (lowest
    assignment sim, tie vec_id; the classical move-a-far-point fix) — a
    centroid that loses all members to a neighbor would otherwise stay
    stranded forever and a clumpy corpus would collapse into one list.
    collect_list and the re-seed rank window are bounded by the
    training-sample cap, not the corpus."""
    crow = _cents_row(cents_df)
    assigned = (
        sample.join(F.broadcast(crow), F.lit(True))
        .select("vec_id", "unit",
                _best_cent(F.col("cents"), F.col("unit")).alias("b"))
        .select("vec_id", "unit",
                (-F.col("b")["negcid"]).cast("int").alias("cid"),
                F.col("b")["sim"].alias("sim"))
    )
    zero = F.array(*[F.lit(0.0)] * dim)
    grouped = (
        assigned.groupBy("cid")
        .agg(F.count("*").alias("cnt"),
             F.sort_array(F.collect_list(F.struct("vec_id", "unit"))).alias("members"))
    )
    means = (
        grouped
        .select("cid", "cnt",
                F.aggregate(F.transform("members", lambda s: s["unit"]), zero,
                            lambda acc, u: F.zip_with(acc, u, lambda a, b: a + b))
                .alias("sv"))
        .select("cid", F.transform("sv", lambda x: x / F.col("cnt")).alias("mv"))
        .select("cid", "mv",
                F.sqrt(F.aggregate("mv", F.lit(0.0), lambda a, x: a + x * x))
                .alias("nrm"))
        .select("cid",
                F.when(F.col("nrm") > 0,
                       F.transform("mv", lambda x: portable_round(x / F.col("nrm"), 9)))
                .alias("nvec"))
    )
    empty = (cents_df.join(grouped.select("cid"), "cid", "left_anti")
             .select("cid",
                     F.row_number().over(Window.orderBy("cid")).alias("en")))
    worst = assigned.select(
        "unit", F.row_number().over(
            Window.orderBy(F.asc("sim"), F.asc("vec_id"))).alias("wn"))
    reseed = (empty.join(worst, F.col("en") == F.col("wn"))
              .select("cid", F.col("unit").alias("rvec")))
    return (cents_df.join(means, "cid", "left").join(reseed, "cid", "left")
            .select("cid", F.coalesce("nvec", "rvec", "cvec").alias("cvec")))


def _forgy_seeds(sample: DataFrame, n_centroids: int, dim: int) -> DataFrame:
    """Deterministic Forgy init: the n_centroids sample vectors ranked
    first by md5('seed'||vec_id) become centroids 0..k-1 (pseudo-random
    DATA points — pure-direction seeds stagnate Lloyd on clumpy data: the
    nearest seed swallows the whole clump and no other centroid ever gains
    members). Corpora smaller than n_centroids pad the tail cids with the
    fixed md5 direction seeds via the left join."""
    rank = Window.orderBy(
        _md5_i64(F.concat(F.lit("seed"), F.col("vec_id").cast("string"))),
        "vec_id")  # global window: bounded by the training-sample cap
    data_seeds = (sample
                  .withColumn("rn", F.row_number().over(rank))
                  .filter(F.col("rn") <= n_centroids)
                  .select((F.col("rn") - 1).cast("int").alias("cid"),
                          F.col("unit").alias("dvec")))
    fixed = _seed_cents_df(sample.sparkSession, n_centroids, dim)
    return (fixed.join(data_seeds, "cid", "left")
            .select("cid", F.coalesce("dvec", "cvec").alias("cvec")))


def kmeans_centroids(embeddings: DataFrame, n_centroids: int = 16,
                     dim: int = 64, n_iters: int = 3,
                     sample_mod: int = 1) -> DataFrame:
    """(cid, cvec): coarse centroids trained by ``n_iters`` fixed Lloyd
    iterations from deterministic Forgy seeds (:func:`_forgy_seeds`), on
    the md5(vec_id)%sample_mod == 0 training sample. At 10^12 rows callers
    raise ``sample_mod`` so the sample (and the per-cluster collect_list /
    the init's global rank window) stays bounded — training cost is
    O(sample), independent of corpus size; assignment stays a full-corpus
    one-pass. Exactly reproducible (no RNG state), so
    :func:`_kmeans_cents_sql` is a complete DuckDB value twin."""
    sample = with_unit_vectors(embeddings).select("vec_id", "unit")
    if sample_mod > 1:
        keep = _md5_i64(F.concat(F.lit("km"), F.col("vec_id").cast("string")))
        sample = sample.filter(keep % sample_mod == 0)
    from ..materialize import materialize

    sample = materialize(sample)  # each iteration rescans it
    # one tiny (n_centroids-row) snapshot per step: each iteration reads
    # the previous centroids three times, so a lazy chain grows as
    # 3^n_iters plan copies (the quality_clf._lr_iter precedent)
    cents = materialize(_forgy_seeds(sample, n_centroids, dim))
    for _ in range(n_iters):
        cents = materialize(_kmeans_iter(sample, cents, dim))
    return cents  # consumed by assignment AND probes


def _cents_df(embeddings: DataFrame, n_centroids: int, dim: int,
              trained: bool, n_iters: int, sample_mod: int) -> DataFrame:
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
    JVM expression — n_centroids sequential-fold dot products and an
    array_max argmax (:func:`_best_cent`). No corpus shuffle, no UDF; the
    assignment column IS the IVF partition key downstream.
    ``n_centroids=None`` auto-scales with corpus size
    (:func:`_auto_n_centroids`)."""
    if n_centroids is None:
        n_centroids = _auto_n_centroids(embeddings)
    base = with_unit_vectors(embeddings).select("vec_id", "unit")
    crow = _cents_row(_cents_df(embeddings, n_centroids, dim, trained,
                                n_iters, sample_mod))
    best = _best_cent(F.col("cents"), F.col("unit"))
    return (base.join(F.broadcast(crow), F.lit(True))
            .select("vec_id", "unit", best.alias("best"))
            .select("vec_id",
                    (-F.col("best")["negcid"]).cast("int").alias("cluster"),
                    portable_round(F.col("best")["sim"], 4).alias("cos_sim")))


def ivf_topk(embeddings: DataFrame, query_ids: list[int], k: int = 5,
             n_centroids: int | None = 16, nprobe: int = 4, dim: int = 64,
             trained: bool = True, n_iters: int = 3,
             sample_mod: int = 1) -> DataFrame:
    """IVF ANN top-k: same output schema as cosine_topk, but each query is
    scored only against the ``nprobe`` centroid lists nearest to it.
    Approximate — recall vs cosine_topk asserted in pytest (trained ≥
    fixed at equal nprobe). Deterministic end-to-end (seeded fixed-iteration
    training), so it carries a full DuckDB oracle.

    Plan: k-means on the bounded sample → assignment scan (shuffle-free)
    → tiny exploded probe table (len(query_ids) × nprobe rows, broadcast)
    → equi-join on cluster → exact re-rank on candidates. The corpus is
    never all-pairs joined."""
    if n_centroids is None:
        n_centroids = _auto_n_centroids(embeddings)
    base = with_unit_vectors(embeddings).select("vec_id", "unit")
    corpus = _assigned_corpus(embeddings, n_centroids, dim, trained,
                              n_iters, sample_mod)
    crow = _cents_row(_cents_df(embeddings, n_centroids, dim, trained,
                                n_iters, sample_mod))

    queries = _probe_queries(base, crow, query_ids, nprobe)
    cands = (
        corpus.join(F.broadcast(queries), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "unit", "q_unit")
    )
    scored = cands.select(
        "query_id", "neighbor_id", _dot(F.col("q_unit"), F.col("unit")).alias("sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc(portable_round(F.col("sim"), 9)), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                portable_round(F.col("sim"), 4).alias("cos_sim"))
    )


def _probe_queries(base: DataFrame, crow: DataFrame, query_ids: list[int],
                   nprobe: int) -> DataFrame:
    """(query_id, q_unit, cluster): each query exploded to its nprobe
    nearest centroid lists. Top-nprobe centroids per query: reverse-sort
    the (sim, cid) structs — struct order sorts sim asc then cid asc, so
    the reverse is sim desc, cid desc; to match the SQL row_number
    (sim desc, cid ASC) flip the cid sign inside the sort key."""
    probe_sims = F.transform(F.col("cents"), lambda c: F.struct(
        portable_round(_dot(F.col("unit"), c["cvec"]), 9).alias("sim"),
        c["cid"].alias("cid")))
    keyed = F.transform(
        probe_sims, lambda s: F.struct(s["sim"].alias("sim"),
                                       (-s["cid"]).alias("negcid"),
                                       s["cid"].alias("cid")))
    probes = F.slice(F.reverse(F.array_sort(keyed)), 1, nprobe)
    return (
        base.filter(F.col("vec_id").isin(query_ids))
        .join(F.broadcast(crow), F.lit(True))
        .select(F.col("vec_id").alias("query_id"), F.col("unit").alias("q_unit"),
                F.explode(F.transform(probes, lambda s: s["cid"])).alias("cluster"))
    )


def _assigned_corpus(embeddings: DataFrame, n_centroids: int, dim: int,
                     trained: bool = True, n_iters: int = 3,
                     sample_mod: int = 1) -> DataFrame:
    """(vec_id, unit, cluster): unit vectors with their IVF assignment,
    snapshot-materialized — ivf_topk and semantic_dedup consume the
    IDENTICAL relation, so they share one snapshot instead of deriving
    (and writing) it twice."""
    from ..materialize import materialize

    assigned = ivf_assign(embeddings, n_centroids, dim, trained, n_iters,
                          sample_mod).select("vec_id", "cluster")
    return materialize(with_unit_vectors(embeddings).select("vec_id", "unit")
                       .join(assigned, "vec_id"))


def semantic_dedup(embeddings: DataFrame, threshold: float = 0.4,
                   n_centroids: int | None = 16, dim: int = 64,
                   trained: bool = True, n_iters: int = 3,
                   sample_mod: int = 1) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", public arXiv 2303.09540):
    embedding-space near-duplicates are detected WITHIN each coarse IVF
    cluster only, never corpus-wide — the clustering bounds the pairwise
    work to Σ |cluster|², exactly the paper's k-means trick. The quantizer
    is k-means-TRAINED by default (round 5), which is what actually keeps
    clusters small on real (clumpy) embedding distributions;
    ``n_centroids=None`` scales the cluster count with corpus size
    (ceil(sqrt(N)) — the paper uses 50k clusters at web scale).

    Output (vec_id, cluster, kept): ``kept`` is false iff a LOWER-id
    vector in the same cluster has cosine ≥ threshold. Disclosed policy
    (ADVICE r04): drops are marked against ALL lower-id similar vectors,
    including ones themselves dropped — in a chain a~b, b~c, a≁c this
    drops c where the paper's one-representative-per-ε-neighborhood would
    keep it. Deterministic, identical in both engines, and strictly more
    aggressive than the paper (never keeps a duplicate pair); the
    components machinery in dedup.near_dup_components_star is the
    paper-faithful alternative when needed."""
    if n_centroids is None:
        n_centroids = _auto_n_centroids(embeddings)
    corpus = _assigned_corpus(embeddings, n_centroids, dim, trained,
                              n_iters, sample_mod)
    l, r = corpus.alias("l"), corpus.alias("r")
    sim = _dot(F.col("l.unit"), F.col("r.unit"))
    dropped = (
        l.join(r, [F.col("l.cluster") == F.col("r.cluster"),
                   F.col("l.vec_id") < F.col("r.vec_id")])
        .filter(portable_round(sim, 9) >= threshold)
        .select(F.col("r.vec_id").alias("vec_id"))
        .distinct()
    )
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
    over-drop of :func:`semantic_dedup`, ADVICE r04 #1): one representative
    per connected ε-neighborhood — the similarity pairs within each IVF
    cluster form a graph, and only the minimum vec_id of each connected
    component is kept (so in a chain a~b, b~c, a≁c: a survives, b drops,
    and c — whose only similar kept vector is none — ALSO drops as part of
    a's component; the paper's "keep one per duplicate group" read
    transitively). The third reading — greedy keep-unless-similar-to-a-
    KEPT-item (a maximal independent set in id order) — would keep c, but
    its fixpoint needs O(chain length) rounds where components need
    O(log n); at 10^12 rows the component representative is the policy
    you can actually run, and it never keeps a duplicate pair. Components
    via the large-star/small-star rounds
    (:func:`~.dedup.near_dup_components_star`), bounded by the same
    cluster-local pair graph — never corpus-wide."""
    from .dedup import near_dup_components_star

    if n_centroids is None:
        n_centroids = _auto_n_centroids(embeddings)
    corpus = _assigned_corpus(embeddings, n_centroids, dim, trained,
                              n_iters, sample_mod)
    l, r = corpus.alias("l"), corpus.alias("r")
    sim = _dot(F.col("l.unit"), F.col("r.unit"))
    pairs = (
        l.join(r, [F.col("l.cluster") == F.col("r.cluster"),
                   F.col("l.vec_id") < F.col("r.vec_id")])
        .filter(portable_round(sim, 9) >= threshold)
        .select(F.col("l.vec_id").alias("doc_a"),
                F.col("r.vec_id").alias("doc_b"))
    )
    comp = near_dup_components_star(
        corpus.select(F.col("vec_id").alias("doc_id")), pairs)
    return (
        corpus.select("vec_id", "cluster")
        .join(comp.select(F.col("doc_id").alias("vec_id"), "component_id"),
              "vec_id")
        .select("vec_id", F.col("cluster").cast("int").alias("cluster"),
                (F.col("component_id") == F.col("vec_id")).alias("kept"))
    )


def semantic_dedup_representative_sql(threshold: float = 0.4,
                                      n_centroids: int = 16, dim: int = 64,
                                      trained: bool = True, n_iters: int = 3,
                                      sample_mod: int = 1,
                                      table: str = "embeddings") -> str:
    """DuckDB twin: identical prelude + pair graph, components via the
    same recursive min-reachable-id CTE shape as
    :func:`~.dedup.near_dup_components_sql` (inlined — the prelude and the
    recursive CTE must share one WITH RECURSIVE clause)."""
    dot = _DOT_SQL.format(a="a.unit", b="b.unit")
    return f"""
WITH RECURSIVE {_ivf_prelude_sql(n_centroids, dim, trained, n_iters, sample_mod, table)},
assigned AS MATERIALIZED (
  SELECT vec_id, cid AS cluster, unit FROM csim WHERE rk = 1
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {portable_round_sql(dot, 9)} >= {threshold}
),
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
    dot = _DOT_SQL.format(a="a.unit", b="b.unit")
    return f"""
WITH {_ivf_prelude_sql(n_centroids, dim, trained, n_iters, sample_mod, table)},
assigned AS MATERIALIZED (
  SELECT vec_id, cid AS cluster, unit FROM csim WHERE rk = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {portable_round_sql(dot, 9)} >= {threshold}
)
SELECT s.vec_id, CAST(s.cluster AS INTEGER) AS cluster,
       (d.vec_id IS NULL) AS kept
FROM assigned s LEFT JOIN dropped d USING (vec_id)
"""


def _centroids_values_sql(n_centroids: int, dim: int) -> str:
    rows = ", ".join(
        f"({cid}, [{', '.join(repr(x) for x in cent)}])"
        for cid, cent in enumerate(_ivf_centroids(n_centroids, dim)))
    return f"(VALUES {rows}) c(cid, cvec)"


def _kmeans_cents_sql(n_centroids: int, dim: int, n_iters: int,
                      sample_mod: int) -> str:
    """DuckDB twin of :func:`kmeans_centroids`: the identical seeded
    fixed-iteration Lloyd training, as a chained-CTE unroll ending in
    ``cents(cid, cvec)``. Requires the ``unitv`` CTE in scope. Parity
    notes: the per-cluster sum is ``list(unit ORDER BY vec_id)`` +
    sequential ``list_reduce`` — the same vec_id-ordered left fold Spark
    runs via sort_array(collect_list) + aggregate — and each new centroid
    component is 9-dp portable-rounded, so both engines carry bit-equal
    centroid literals into assignment."""
    where = ""
    if sample_mod > 1:
        keep = _md5_i64_sql("'km' || CAST(vec_id AS VARCHAR)")
        where = f"WHERE ({keep}) % {sample_mod} = 0"
    seed_rank = _md5_i64_sql("'seed' || CAST(vec_id AS VARCHAR)")
    parts = [
        f"samp AS MATERIALIZED (SELECT vec_id, unit FROM unitv {where})",
        f"""dseed AS (
  SELECT CAST(rn - 1 AS INTEGER) AS cid, unit AS dvec
  FROM (SELECT vec_id, unit,
               row_number() OVER (ORDER BY {seed_rank}, vec_id) AS rn
        FROM samp) r
  WHERE rn <= {n_centroids})""",
        f"""k0 AS (
  SELECT c.cid, coalesce(d.dvec, c.cvec) AS cvec
  FROM {_centroids_values_sql(n_centroids, dim)}
  LEFT JOIN dseed d ON c.cid = d.cid)""",
    ]
    for i in range(1, n_iters + 1):
        prev = f"k{i - 1}"
        dot = _DOT_SQL.format(a="s.unit", b="k.cvec")
        # MATERIALIZED: a{{i}} feeds both g{{i}} (means) and w{{i}} (re-seed
        # worst-fit) — without it DuckDB inlines the samp×k distance join
        # twice per Lloyd round (the r04 5× oracle lesson, same fix)
        parts.append(f"""a{i} AS MATERIALIZED (
  SELECT s.vec_id, s.unit, k.cid, {portable_round_sql(dot, 9)} AS sim,
         row_number() OVER (PARTITION BY s.vec_id
                            ORDER BY {portable_round_sql(dot, 9)} DESC, k.cid) AS rk
  FROM samp s CROSS JOIN {prev} k)""")
        parts.append(f"""g{i} AS (
  SELECT cid, count(*) AS cnt, list(unit ORDER BY vec_id) AS us
  FROM a{i} WHERE rk = 1 GROUP BY cid)""")
        parts.append(f"""m{i} AS (
  SELECT cid, CASE WHEN nrm > 0
              THEN list_transform(mv, x -> {portable_round_sql('x / nrm', 9)}) END AS nvec
  FROM (SELECT cid, mv,
               sqrt(list_reduce(list_transform(mv, x -> x * x), (a, b) -> a + b)) AS nrm
        FROM (SELECT cid,
                     list_transform(
                       list_reduce(us, (a, b) -> list_transform(range(1, {dim + 1}), j -> a[j] + b[j])),
                       x -> x / cnt) AS mv
              FROM g{i}) t1) t2)""")
        # empty-cluster re-seed: rank empty cids by cid, worst-fit vectors
        # by (sim ASC, vec_id), pair them 1:1 — exactly _kmeans_iter's
        # reseed joins
        parts.append(f"""e{i} AS (
  SELECT p.cid, row_number() OVER (ORDER BY p.cid) AS en
  FROM {prev} p LEFT JOIN g{i} g ON p.cid = g.cid WHERE g.cid IS NULL)""")
        parts.append(f"""w{i} AS (
  SELECT unit, row_number() OVER (ORDER BY sim ASC, vec_id) AS wn
  FROM a{i} WHERE rk = 1)""")
        parts.append(f"""r{i} AS (
  SELECT e.cid, w.unit AS rvec FROM e{i} e JOIN w{i} w ON e.en = w.wn)""")
        parts.append(f"""k{i} AS (
  SELECT p.cid, coalesce(m.nvec, r.rvec, p.cvec) AS cvec
  FROM {prev} p LEFT JOIN m{i} m USING (cid) LEFT JOIN r{i} r USING (cid))""")
    parts.append(f"cents AS (SELECT cid, cvec FROM k{n_iters})")
    return ",\n".join(parts)


def _ivf_prelude_sql(n_centroids: int, dim: int, trained: bool,
                     n_iters: int, sample_mod: int, table: str) -> str:
    """unitv + cents (trained chain or seed VALUES) + csim, ready to WITH."""
    parts = [_UNITV_SQL.format(table=table)]
    if trained:
        parts.append(_kmeans_cents_sql(n_centroids, dim, n_iters, sample_mod))
    else:
        parts.append(
            f"cents AS (SELECT cid, cvec FROM {_centroids_values_sql(n_centroids, dim)})")
    parts.append(_IVF_CSIM_SQL)
    return ",\n".join(parts)


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


_IVF_CSIM_SQL = f"""
csim AS MATERIALIZED (
  SELECT u.vec_id, c.cid, u.unit,
         {portable_round_sql(_DOT_SQL.format(a='u.unit', b='c.cvec'), 9)} AS sim,
         row_number() OVER (PARTITION BY u.vec_id
                            ORDER BY {portable_round_sql(_DOT_SQL.format(a='u.unit', b='c.cvec'), 9)} DESC, c.cid) AS rk
  FROM unitv u CROSS JOIN cents c
)"""
# Shared CTE body: every (vec, centroid) sim plus the per-vec rank — rank 1
# is the assignment, rank <= nprobe is a query's probe list. ``cents`` is
# provided by _ivf_prelude_sql (trained chain or seed VALUES).


def ivf_assign_sql(n_centroids: int = 16, dim: int = 64, trained: bool = True,
                   n_iters: int = 3, sample_mod: int = 1,
                   table: str = "embeddings") -> str:
    return f"""
WITH {_ivf_prelude_sql(n_centroids, dim, trained, n_iters, sample_mod, table)}
SELECT vec_id, CAST(cid AS INTEGER) AS cluster,
       {portable_round_sql('sim', 4)} AS cos_sim
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
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       {portable_round_sql('sim', 4)} AS cos_sim
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY {portable_round_sql('sim', 9)} DESC, neighbor_id) AS rank
      FROM scored) r
WHERE rank <= {k}
"""


def embedding_near_dup_sql(threshold: float = 0.4,
                           table: str = "embeddings",
                           where_sql: str = "") -> str:
    """DuckDB twin of the exact all-pairs path; ``where_sql`` restricts the
    id set (the graded use is a mod-sampled verification subset)."""
    dot = _DOT_SQL.format(a="a.unit", b="b.unit")
    return f"""
WITH vec AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v
  FROM (SELECT * FROM {table} WHERE embedding IS NOT NULL) t0 {where_sql}
),
unitv AS (
  SELECT vec_id,
         CASE WHEN n > 0 THEN list_transform(v, x -> x / n) ELSE v END AS unit
  FROM (SELECT vec_id, v,
               sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS n
        FROM vec) t
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {portable_round_sql(portable_round_sql(dot, 9), 4)} AS cos_sim
FROM unitv a JOIN unitv b ON a.vec_id < b.vec_id
WHERE {portable_round_sql(dot, 9)} >= {threshold}
"""


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid 2011, "Product Quantization
# for Nearest Neighbor Search", public TPAMI paper) — the memory-bound ANN
# representation at 10^12-vector scale: each unit vector is stored as m
# small codes (here 8 × 1 byte ≈ 64× smaller than 64 float64s) and queries
# are scored against RECONSTRUCTED vectors (ADC — asymmetric distance
# computation) without ever touching the original embeddings.
#
# The subspace codebooks are trained by the SAME seeded fixed-iteration
# deterministic k-means discipline as the IVF coarse quantizer — but in
# L2 over raw subvectors (plain means, no normalization: dot(q, x) equals
# the SUM of subspace dots, so quantizing each subspace for L2
# reconstruction error directly bounds the ADC dot error). One training
# chain covers ALL m subspaces at once (the group key is (sub, cid)), so
# cost does not multiply by m. Everything is 9-dp portable-rounded with
# vec_id-ordered folds: the DuckDB twins are full value oracles.
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


def _pq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance, 9-dp rounded (the assignment key)."""
    return portable_round(
        F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda acc, v: acc + v), 9)


def _pq_cents_row(cents: DataFrame) -> DataFrame:
    return cents.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("sub", "cid", "cvec"))).alias("cb"))


def _pq_iter(subs: DataFrame, cents: DataFrame, sub_d: int) -> DataFrame:
    """One Lloyd iteration over ALL subspaces at once (group key (sub,
    cid)); empty clusters re-seed per subspace at the worst-fit
    subvectors. Same determinism discipline as :func:`_kmeans_iter` but
    plain L2/means — no normalization."""
    crow = _pq_cents_row(cents)
    best = F.array_min(F.transform(
        F.filter(F.col("cb"), lambda c: c["sub"] == F.col("sub")),
        lambda c: F.struct(_pq_dist(F.col("svec"), c["cvec"]).alias("dist"),
                           c["cid"].alias("cid"))))
    assigned = (
        subs.join(F.broadcast(crow), F.lit(True))
        .select("vec_id", "sub", "svec", best.alias("b"))
        .select("vec_id", "sub", "svec",
                F.col("b")["cid"].alias("cid"), F.col("b")["dist"].alias("dist")))
    zero = F.array(*[F.lit(0.0)] * sub_d)
    means = (
        assigned.groupBy("sub", "cid")
        .agg(F.count("*").alias("cnt"),
             F.sort_array(F.collect_list(F.struct("vec_id", "svec"))).alias("ms"))
        .select("sub", "cid",
                F.transform(
                    F.aggregate(F.transform("ms", lambda s: s["svec"]), zero,
                                lambda acc, u: F.zip_with(acc, u, lambda a, b: a + b)),
                    lambda x: portable_round(x / F.col("cnt"), 9)).alias("nvec")))
    # explicit aliases on the re-seed join: empty's and worst's `sub`
    # attributes can trace to the same lineage (cents after iteration 1
    # derives from `assigned` too), and Spark then resolves `sub == sub`
    # trivially true — which would pair subspace A's empty slots with
    # subspace B's worst-fit vectors
    empty = (cents.join(means.select("sub", "cid"), ["sub", "cid"], "left_anti")
             .select(F.col("sub").alias("e_sub"), "cid",
                     F.row_number().over(
                         Window.partitionBy("sub").orderBy("cid")).alias("en")))
    worst = assigned.select(
        F.col("sub").alias("w_sub"), "svec",
        F.row_number().over(
            Window.partitionBy("sub")
            .orderBy(F.desc("dist"), F.asc("vec_id"))).alias("wn"))
    reseed = (empty.join(worst, (F.col("en") == F.col("wn"))
                         & (F.col("e_sub") == F.col("w_sub")))
              .select(F.col("e_sub").alias("sub"), "cid",
                      F.col("svec").alias("rvec")))
    return (cents.join(means, ["sub", "cid"], "left")
            .join(reseed, ["sub", "cid"], "left")
            .select("sub", "cid",
                    F.coalesce("nvec", "rvec", "cvec").alias("cvec")))


def pq_codebooks(embeddings: DataFrame, m: int = 8, k: int = 16,
                 dim: int = 64, n_iters: int = 2,
                 sample_mod: int = 1) -> DataFrame:
    """(sub, cid, cvec[dim/m]): per-subspace PQ codebooks — deterministic
    Forgy seeds (md5-ranked sample subvectors per subspace) + ``n_iters``
    Lloyd rounds in one (sub, cid)-keyed chain. ``sample_mod`` bounds
    training cost at corpus scale exactly as in :func:`kmeans_centroids`;
    corpora smaller than k get min(k, n) centroids per subspace."""
    sub_d = dim // m
    subs = _pq_subvectors(embeddings, m, dim)
    if sample_mod > 1:
        keep = _md5_i64(F.concat(F.lit("pq"), F.col("vec_id").cast("string")))
        subs = subs.filter(keep % sample_mod == 0)
    from ..materialize import materialize

    subs = materialize(subs)
    rank = Window.partitionBy("sub").orderBy(
        _md5_i64(F.concat(F.lit("pqseed"), F.col("sub").cast("string"),
                          F.lit(":"), F.col("vec_id").cast("string"))),
        "vec_id")
    cents = materialize(subs.withColumn("rn", F.row_number().over(rank))
                        .filter(F.col("rn") <= k)
                        .select("sub", (F.col("rn") - 1).cast("int").alias("cid"),
                                F.col("svec").alias("cvec")))
    for _ in range(n_iters):  # per-step snapshots, as in kmeans_centroids
        cents = materialize(_pq_iter(subs, cents, sub_d))
    return cents


def pq_encode(embeddings: DataFrame, m: int = 8, k: int = 16, dim: int = 64,
              n_iters: int = 2, sample_mod: int = 1) -> DataFrame:
    """(vec_id, sub, code): each vector's per-subspace nearest-codebook
    assignment — the PQ compressed representation, flat (one row per
    subspace: arrays stringify differently across engines, the flat form
    value-hashes identically; production packs the m codes into bytes).
    One pass over the corpus; the codebook rides a 1-row broadcast."""
    cents = pq_codebooks(embeddings, m, k, dim, n_iters, sample_mod)
    crow = _pq_cents_row(cents)
    best = F.array_min(F.transform(
        F.filter(F.col("cb"), lambda c: c["sub"] == F.col("sub")),
        lambda c: F.struct(_pq_dist(F.col("svec"), c["cvec"]).alias("dist"),
                           c["cid"].alias("cid"))))
    return (_pq_subvectors(embeddings, m, dim)
            .join(F.broadcast(crow), F.lit(True))
            .select("vec_id", "sub", best["cid"].alias("code")))


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
    sub_d = dim // m
    codes = pq_encode(embeddings, m, k, dim, n_iters, sample_mod)
    cents = pq_codebooks(embeddings, m, k, dim, n_iters, sample_mod)
    queries = (with_unit_vectors(embeddings)
               .filter(F.col("vec_id").isin(query_ids))
               .select(F.col("vec_id").alias("query_id"), F.col("unit")))
    partial = (
        codes.join(F.broadcast(cents),
                   (codes["sub"] == cents["sub"]) & (codes["code"] == cents["cid"]))
        .select("vec_id", codes["sub"].alias("sub"), "cvec")
        .join(F.broadcast(queries), F.lit(True))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "sub",
                portable_round(
                    _dot(F.slice("unit", F.col("sub") * sub_d + 1, F.lit(sub_d)),
                         F.col("cvec")), 9).alias("p")))
    return _adc_topk(partial, k_results)


def _adc_topk(partial: DataFrame, k_results: int) -> DataFrame:
    """(query_id, neighbor_id, adc_sim): the ADC scoring tail shared by
    :func:`pq_topk` and :func:`ivfpq_topk` — the exact sum of the per-
    subspace partials ``p`` per (query, candidate), top ``k_results`` by
    score then vec_id, 4-dp output."""
    scored = (partial.groupBy("query_id", "vec_id")
              .agg(exact_sum(F.col("p")).alias("adc")))
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("vec_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k_results)
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    portable_round(F.col("adc"), 4).alias("adc_sim")))


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


def _pq_dist_sql(a: str, b: str, sub_d: int) -> str:
    d = (f"list_reduce(list_transform(range(1, {sub_d + 1}), "
         f"j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j])), (x, y) -> x + y)")
    return portable_round_sql(d, 9)


def _pq_chain_sql(m: int, k: int, dim: int, n_iters: int, sample_mod: int,
                  table: str, with_unitv: bool = True) -> str:
    """Shared CTE chain ending in ``pqcents(sub, cid, cvec)`` and
    ``subs(vec_id, sub, svec)`` — the DuckDB replay of
    :func:`pq_codebooks`' training (Forgy seeds + n_iters Lloyd rounds in
    one (sub, cid)-keyed chain, vec_id-ordered folds, 9-dp rounding).
    ``with_unitv=False`` composes after a prelude that already defined
    the ``unitv`` CTE (the IVF-PQ twin)."""
    sub_d = dim // m
    where = ""
    if sample_mod > 1:
        keep = _md5_i64_sql("'pq' || CAST(vec_id AS VARCHAR)")
        where = f"WHERE ({keep}) % {sample_mod} = 0"
    seed = _md5_i64_sql(
        "'pqseed' || CAST(sub AS VARCHAR) || ':' || CAST(vec_id AS VARCHAR)")
    parts = ([_UNITV_SQL.format(table=table)] if with_unitv else []) + [
        f"""allsubs AS MATERIALIZED (
  SELECT vec_id, s.sub,
         list_slice(unit, s.sub * {sub_d} + 1, s.sub * {sub_d} + {sub_d}) AS svec
  FROM unitv, (SELECT unnest(range(0, {m})) AS sub) s)""",
        # sample_mod == 1 means subs IS allsubs — a plain alias, or the
        # MATERIALIZED would hold a second full copy of the subvector table
        (f"subs AS MATERIALIZED (SELECT * FROM allsubs {where})"
         if sample_mod > 1 else "subs AS (SELECT * FROM allsubs)"),
        f"""pk0 AS (
  SELECT sub, CAST(rn - 1 AS INTEGER) AS cid, svec AS cvec
  FROM (SELECT sub, svec,
               row_number() OVER (PARTITION BY sub ORDER BY {seed}, vec_id) AS rn
        FROM subs) r
  WHERE rn <= {k})""",
    ]
    for i in range(1, n_iters + 1):
        prev = f"pk{i - 1}"
        dist = _pq_dist_sql("s.svec", "c.cvec", sub_d)
        # MATERIALIZED for the same two-consumer reason as a{{i}} above
        # (pg{{i}} + pw{{i}} both read pa{{i}}): 4.4x on the pq_topk oracle
        parts.append(f"""pa{i} AS MATERIALIZED (
  SELECT s.vec_id, s.sub, s.svec, c.cid, {dist} AS dist,
         row_number() OVER (PARTITION BY s.vec_id, s.sub
                            ORDER BY {dist}, c.cid) AS rk
  FROM subs s JOIN {prev} c ON c.sub = s.sub)""")
        parts.append(f"""pg{i} AS (
  SELECT sub, cid, count(*) AS cnt, list(svec ORDER BY vec_id) AS us
  FROM pa{i} WHERE rk = 1 GROUP BY sub, cid)""")
        parts.append(f"""pm{i} AS (
  SELECT sub, cid,
         list_transform(
           list_reduce(us, (a, b) -> list_transform(range(1, {sub_d + 1}), j -> a[j] + b[j])),
           x -> {portable_round_sql('x / cnt', 9)}) AS nvec
  FROM pg{i})""")
        parts.append(f"""pe{i} AS (
  SELECT p.sub, p.cid, row_number() OVER (PARTITION BY p.sub ORDER BY p.cid) AS en
  FROM {prev} p LEFT JOIN pg{i} g ON p.sub = g.sub AND p.cid = g.cid
  WHERE g.cid IS NULL)""")
        parts.append(f"""pw{i} AS (
  SELECT sub, svec, row_number() OVER (PARTITION BY sub
                                       ORDER BY dist DESC, vec_id) AS wn
  FROM pa{i} WHERE rk = 1)""")
        parts.append(f"""pr{i} AS (
  SELECT e.sub, e.cid, w.svec AS rvec
  FROM pe{i} e JOIN pw{i} w ON w.sub = e.sub AND e.en = w.wn)""")
        parts.append(f"""pk{i} AS (
  SELECT p.sub, p.cid, coalesce(m.nvec, r.rvec, p.cvec) AS cvec
  FROM {prev} p
  LEFT JOIN pm{i} m ON p.sub = m.sub AND p.cid = m.cid
  LEFT JOIN pr{i} r ON p.sub = r.sub AND p.cid = r.cid)""")
    parts.append(f"pqcents AS MATERIALIZED (SELECT sub, cid, cvec FROM pk{n_iters})")
    return ",\n".join(parts)


def _pq_codes_sql(m: int, dim: int) -> str:
    """``pqcodes(vec_id, sub, code)`` from allsubs × pqcents (the FULL
    corpus is encoded even when training sampled)."""
    sub_d = dim // m
    dist = _pq_dist_sql("s.svec", "c.cvec", sub_d)
    return f"""penc AS (
  SELECT s.vec_id, s.sub, c.cid,
         row_number() OVER (PARTITION BY s.vec_id, s.sub
                            ORDER BY {dist}, c.cid) AS rk
  FROM allsubs s JOIN pqcents c ON c.sub = s.sub),
pqcodes AS MATERIALIZED (
  SELECT vec_id, sub, CAST(cid AS INTEGER) AS code FROM penc WHERE rk = 1)"""


def pq_codebooks_sql(m: int = 8, k: int = 16, dim: int = 64, n_iters: int = 2,
                     sample_mod: int = 1, table: str = "embeddings") -> str:
    return f"""
WITH {_pq_chain_sql(m, k, dim, n_iters, sample_mod, table)}
SELECT sub, cid, cvec FROM pqcents
"""


def pq_encode_sql(m: int = 8, k: int = 16, dim: int = 64, n_iters: int = 2,
                  sample_mod: int = 1, table: str = "embeddings") -> str:
    return f"""
WITH {_pq_chain_sql(m, k, dim, n_iters, sample_mod, table)},
{_pq_codes_sql(m, dim)}
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
WITH {_pq_chain_sql(m, k, dim, n_iters, sample_mod, table)},
{_pq_codes_sql(m, dim)},
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
    if n_centroids is None:
        n_centroids = _auto_n_centroids(embeddings)
    sub_d = dim // m
    base = with_unit_vectors(embeddings).select("vec_id", "unit")
    corpus = _assigned_corpus(embeddings, n_centroids, dim, trained,
                              n_iters, sample_mod)
    crow = _cents_row(_cents_df(embeddings, n_centroids, dim, trained,
                                n_iters, sample_mod))
    queries = _probe_queries(base, crow, query_ids, nprobe)
    cands = (
        corpus.select("vec_id", "cluster")
        .join(F.broadcast(queries), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "q_unit"))
    codes = pq_encode(embeddings, m, k, dim, pq_iters, sample_mod)
    cents = pq_codebooks(embeddings, m, k, dim, pq_iters, sample_mod)
    cvecs = (codes.join(F.broadcast(cents),
                        (codes["sub"] == cents["sub"])
                        & (codes["code"] == cents["cid"]))
             .select("vec_id", codes["sub"].alias("sub"), "cvec"))
    partial = (
        cands.join(cvecs, "vec_id")
        .select("query_id", "vec_id", "sub",
                portable_round(
                    _dot(F.slice("q_unit", F.col("sub") * sub_d + 1,
                                 F.lit(sub_d)),
                         F.col("cvec")), 9).alias("p")))
    return _adc_topk(partial, k_results)


def ivfpq_topk_sql(query_ids: list[int], k_results: int = 5,
                   n_centroids: int = 16, nprobe: int = 4, m: int = 8,
                   k: int = 16, dim: int = 64, trained: bool = True,
                   n_iters: int = 3, pq_iters: int = 2, sample_mod: int = 1,
                   table: str = "embeddings") -> str:
    """DuckDB twin: the IVF prelude (shared ``unitv`` + coarse k-means +
    csim) composed with the PQ training chain (``with_unitv=False``) —
    probe lists from csim, candidates from the rank-1 assignment, ADC from
    the code/codebook joins with the same scoring tail."""
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
{_pq_chain_sql(m, k, dim, pq_iters, sample_mod, table, with_unitv=False)},
{_pq_codes_sql(m, dim)},
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
    base = with_unit_vectors(embeddings).select("vec_id", "unit")
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
