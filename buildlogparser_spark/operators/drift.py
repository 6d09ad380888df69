"""Corpus snapshot drift — Population Stability Index per categorical
dimension.

PSI is the standard production metric for distribution shift between a
reference and a current population (public: the credit-scoring literature,
e.g. Siddiqi 2006 "Credit Risk Scorecards"; ubiquitous in ML-monitoring
writeups): PSI = Σ_bins (p_b − q_b) · ln(p_b / q_b), with PSI ≲ 0.1 read
as stable and ≳ 0.25 as shifted. For a training-data pipeline this is the
"did the corpus change under me" gate between ingest snapshots — here the
two snapshots are the deterministic md5('drift' || doc_id) halves of
``documents`` (the salted growth-stable hash-split convention of
``corpus_filters.split_assign``),
so the oracle is exact and self-contained; production swaps the two halves
for yesterday's and today's snapshot scans.

Shares are Laplace-smoothed — p_b = (n_b + 1) / (N_half + K), K = the
dimension's bin count over BOTH halves — so a bin present in only one
half contributes a finite term instead of ln(0).

Cross-engine determinism: the smoothed shares and their ratio are plain
IEEE754 arithmetic over identical integer counts — identical doubles in
both engines with NO pre-rounding (rounding the share to 9 dp before the
``ln`` would collapse a sub-5e-10 share to exactly 0 at the 10^12-doc
scale this docstring advertises, turning the term into ln(0): NULL in
Spark, -inf in DuckDB — review finding, round-5 final session). Only the
``ln`` RESULT is 9-dp-rounded (the ≤1-ulp libm divergence, the
``quality_clf`` sigmoid convention), each term is 9-dp-rounded, and
``psi_total`` is the :func:`~..rounding.exact_sum` of the dimension's
terms. Smoothed shares are strictly positive by construction, so ``ln``
is always finite.

Scale shape (10^12 docs): ONE corpus scan → a (dim, bin, half) hash-agg
with map-side partial counts; every window/join after that runs over the
|dims|·|bins|-row aggregate only (the ``source_mix_weights`` pattern), so
the whole op is one shuffle of a few hundred grouped rows regardless of
corpus size.

Reference analog: none (the reference is a diagnostics parser); this is a
driver-brief training-data/telemetry op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..rounding import (
    exact_sum, exact_sum_sql, portable_round, portable_round_sql)
from .dedup import _md5_i64, _md5_i64_sql


def dim_bins(documents: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """(*keep, dim, bin): the shared lang/source unpivot — one row per
    (document, dimension), NULL lang → 'und', NULL source → 'unknown'
    (the ``unimax_weights`` convention). ``keep`` names pass-through
    columns that must already exist on ``documents`` (corpus_drift carries
    its snapshot ``half``; the streaming monitor carries nothing)."""
    base = documents.select(
        *keep,
        F.coalesce(F.col("lang"), F.lit("und")).alias("lang"),
        F.coalesce(F.col("source"), F.lit("unknown")).alias("source"),
    )
    return base.select(
        *keep,
        F.explode(F.array(
            F.struct(F.lit("lang").alias("dim"), F.col("lang").alias("bin")),
            F.struct(F.lit("source").alias("dim"),
                     F.col("source").alias("bin")),
        )).alias("db"),
    ).select(*keep, F.col("db.dim").alias("dim"), F.col("db.bin").alias("bin"))


def psi_value(ref: dict[str, int], cur: dict[str, int]) -> float:
    """Driver-side PSI between two bin→count histograms — the EXACT same
    arithmetic as :func:`corpus_drift` (Laplace smoothing over the union
    bin set, exact shares, 9-dp portable rounding of the ``ln`` result and
    of each term, exact nano-unit sum, 6-dp total), reused by the
    streaming monitor and by tests as an independent reference
    implementation."""
    import math

    def r(x: float, p: int) -> float:
        s = 10 ** p
        return math.floor(x * s + 0.5) / s

    bins = set(ref) | set(cur)
    k = len(bins)
    rt = sum(ref.values())
    ct = sum(cur.values())
    nanos = 0
    for b in bins:
        p = (ref.get(b, 0) + 1) / (rt + k)
        q = (cur.get(b, 0) + 1) / (ct + k)
        # the term's 9-dp rounding IS its nano-unit count
        nanos += math.floor((p - q) * r(math.log(p / q), 9) * 1e9 + 0.5)
    return r(nanos / 1e9, 6)


def corpus_drift(documents: DataFrame) -> DataFrame:
    """(dim, bin, ref_n, cur_n, ref_share, cur_share, psi_term, psi_total)
    for dim ∈ {lang, source} over the two md5(doc_id) snapshot halves.

    NULL lang → 'und' (the ``unimax_weights`` convention), NULL source →
    'unknown'. ``ref_share``/``cur_share`` are the smoothed shares at 6 dp;
    ``psi_term`` is the bin's 6-dp PSI contribution; ``psi_total`` repeats
    the dimension's exact-sum total on every row of that dim.

    The |bins|-row ``terms`` aggregate is snapshot-materialized before the
    per-bin/total diamond — without it each branch re-runs the corpus scan
    and hash-agg (plan audit: 2 full scans; the repo-wide diamond-root
    defense).
    """
    half = (_md5_i64(
        F.concat(F.lit("drift"), F.col("doc_id").cast("string"))) % 2
    ).alias("half")
    pairs = dim_bins(documents.select(half, "lang", "source"), keep=("half",))
    counts = pairs.groupBy("dim", "bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long").alias("ref_n"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long").alias("cur_n"),
    )
    wd = Window.partitionBy("dim")
    tot = (counts
           .withColumn("ref_tot", F.sum("ref_n").over(wd))
           .withColumn("cur_tot", F.sum("cur_n").over(wd))
           .withColumn("kbins", F.count("*").over(wd)))
    p = (F.col("ref_n") + 1) / (F.col("ref_tot") + F.col("kbins"))
    q = (F.col("cur_n") + 1) / (F.col("cur_tot") + F.col("kbins"))
    term9 = portable_round((p - q) * portable_round(F.log(p / q), 9), 9)
    from ..materialize import materialize

    terms = materialize(
        tot.select(
            "dim", "bin", "ref_n", "cur_n",
            portable_round(p, 6).alias("ref_share"),
            portable_round(q, 6).alias("cur_share"),
            term9.alias("term9"),
        ),
        n_files=1)
    totals = terms.groupBy("dim").agg(
        portable_round(exact_sum(F.col("term9")), 6).alias("psi_total"))
    return (
        terms.join(totals, "dim")
        .select("dim", "bin", "ref_n", "cur_n", "ref_share", "cur_share",
                portable_round(F.col("term9"), 6).alias("psi_term"),
                "psi_total")
    )


def corpus_drift_sql(table: str = "documents") -> str:
    """DuckDB twin: same halves, same UNION-ALL unpivot, same exact
    smoothed shares → 9-dp-rounded ln → 9-dp terms → exact-sum total."""
    salted = "'drift' || CAST(doc_id AS VARCHAR)"
    half = f"{_md5_i64_sql(salted)} % 2"
    p = "(ref_n + 1) / CAST(ref_tot + kbins AS DOUBLE)"
    q = "(cur_n + 1) / CAST(cur_tot + kbins AS DOUBLE)"
    ln9 = portable_round_sql("ln(p / q)", 9)
    term9 = portable_round_sql(f"(p - q) * ({ln9})", 9)
    return f"""
WITH base AS MATERIALIZED (
  SELECT {half} AS half,
         coalesce(lang, 'und') AS lang,
         coalesce(source, 'unknown') AS source
  FROM {table}
),
pairs AS (
  SELECT half, 'lang' AS dim, lang AS bin FROM base
  UNION ALL
  SELECT half, 'source' AS dim, source AS bin FROM base
),
counts AS (
  SELECT dim, bin,
         CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cur_n
  FROM pairs GROUP BY dim, bin
),
tot AS (
  SELECT *, sum(ref_n) OVER (PARTITION BY dim) AS ref_tot,
            sum(cur_n) OVER (PARTITION BY dim) AS cur_tot,
            count(*) OVER (PARTITION BY dim) AS kbins
  FROM counts
),
shares AS (
  SELECT dim, bin, ref_n, cur_n, {p} AS p, {q} AS q FROM tot
),
terms AS (
  SELECT dim, bin, ref_n, cur_n, p, q, {term9} AS term9 FROM shares
),
totals AS (
  SELECT dim,
         {portable_round_sql(exact_sum_sql('term9'), 6)} AS psi_total
  FROM terms GROUP BY dim
)
SELECT t.dim, t.bin, t.ref_n, t.cur_n,
       {portable_round_sql('t.p', 6)} AS ref_share,
       {portable_round_sql('t.q', 6)} AS cur_share,
       {portable_round_sql('t.term9', 6)} AS psi_term,
       tt.psi_total AS psi_total
FROM terms t JOIN totals tt ON t.dim = tt.dim
"""
