"""Span-level exact-substring deduplication (ExactSubstr, Lee et al. 2022
§4.1, "Deduplicating Training Data Makes Language Models Better").

The paper removes every substring of ≥50 tokens that occurs more than once
in the corpus, using a suffix array. The standard distributed
approximation (and the one a Spark cluster can actually run at 10^12
tokens) is *positional n-gram marking*: explode every token position's
n-gram, find the n-grams that occur ≥2 times corpus-wide (within-doc
repeats count, as in the paper), and mark each hit's ``[pos, pos+n-1]``
token span as duplicated. Overlapping/adjacent spans merge per document
(gaps-and-islands), which reconstructs exactly the paper's maximal
duplicated regions wherever a duplicated region is ≥n tokens long.

Output is the per-document removal *plan* — span count, duplicated-token
count, dup ratio — not rewritten text: tokenization is lossy (lowercase,
``\\W+`` split), so the honest artifact is the plan the text-owning
pipeline stage applies, the same split ``sequence_pack_plan`` uses.

Scale shape (10^12 tokens):
* the explode is one row per token position — the same cost class as the
  boilerplate n-gram pass (``corpus_filters.boilerplate_ngrams``), and the
  grams are hashed to 60-bit ints *before* the shuffle so the dup-count
  hash-agg moves 8-byte keys with map-side combine, never gram strings;
* the dup-gram semi-join is keyed on that hash — uniformly spread by
  construction (md5), no hot key; AQE may broadcast the dup side when
  small, and the plan stays a shuffle join when it is not;
* span merging is one window partitioned by doc_id — bounded by document
  length, never corpus-global order. A pathological single document is the
  same long-document skew ``BENCH/SKEW.md`` tracks for shingles; the
  n-grams come from ``dedup.positional_ngrams``, the one O(k·n) zip_with
  build that ``dedup.shingles`` and ``winnow`` share.

Reference analog: none (the reference parses diagnostics); this is the
training-data layer the driver brief asks for. Public method: Lee et al.
2022 (arXiv:2107.06499).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..rounding import portable_round, portable_round_sql
from .dedup import (TOKENS_SQL, _md5_i64, _md5_i64_sql, positional_ngrams,
                    positional_ngrams_sql, tokens)


def dup_span_removal(documents: DataFrame, n: int = 5,
                     text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, dup_tokens, n_dup_spans, dup_ratio): the
    ExactSubstr removal plan at n-gram granularity. ``dup_tokens`` counts
    token positions inside merged duplicated spans; every document appears
    (zero-span docs report 0/0/0.0). NULL/short texts report n_tokens as
    the (possibly 0) token count with no spans."""
    base = documents.select(
        "doc_id",
        F.coalesce(F.size(tokens(F.col(text_col))), F.lit(0))
        .cast("long").alias("n_tokens"),
        positional_ngrams(F.col(text_col), n).alias("grams"),
    )
    pos = base.select(
        "doc_id",
        (F.posexplode("grams"))
    ).select(
        "doc_id",
        (F.col("pos") + 1).alias("pos"),
        _md5_i64(F.col("col")).alias("g"),
    )
    dup = (pos.groupBy("g").agg(F.count("*").alias("cnt"))
           .filter(F.col("cnt") >= 2).select("g"))
    hits = (pos.join(dup, "g")
            .select("doc_id", "pos", (F.col("pos") + (n - 1)).alias("end")))
    prev_w = (Window.partitionBy("doc_id").orderBy("pos")
              .rowsBetween(Window.unboundedPreceding, -1))
    run_w = (Window.partitionBy("doc_id").orderBy("pos")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    marked = hits.withColumn("prev_end", F.max("end").over(prev_w))
    marked = marked.withColumn(
        "ni",
        F.when(F.col("prev_end").isNull()
               | (F.col("pos") > F.col("prev_end") + 1), 1).otherwise(0))
    islands = marked.withColumn("island", F.sum("ni").over(run_w))
    span = (islands.groupBy("doc_id", "island")
            .agg(F.min("pos").alias("s"), F.max("end").alias("e")))
    stats = (span.groupBy("doc_id")
             .agg(F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
                  F.count("*").alias("n_dup_spans")))
    return (
        base.select("doc_id", "n_tokens")
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long")
            .alias("dup_tokens"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long")
            .alias("n_dup_spans"),
            portable_round(
                F.when(F.col("n_tokens") > 0,
                       F.coalesce(F.col("dup_tokens"), F.lit(0))
                       / F.col("n_tokens")).otherwise(F.lit(0.0)), 4)
            .alias("dup_ratio"),
        )
    )


def dup_span_removal_sql(table: str = "documents", n: int = 5,
                         text_col: str = "text") -> str:
    """DuckDB twin: identical explode → hash-count → semi-join →
    gaps-and-islands chain (MATERIALIZED at the fan-out points)."""
    grams = positional_ngrams_sql(text_col, n)
    toks = TOKENS_SQL.format(c=text_col)
    ratio = portable_round_sql(
        "CASE WHEN n_tokens > 0 THEN CAST(coalesce(dup_tokens, 0) AS DOUBLE)"
        " / n_tokens ELSE 0.0 END", 4)
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id,
         CAST(coalesce(len({toks}), 0) AS BIGINT) AS n_tokens,
         {grams} AS grams
  FROM {table}
),
pos AS MATERIALIZED (
  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         {_md5_i64_sql('grams[i]')} AS g
  FROM base, unnest(range(1, len(grams) + 1)) u(i)
),
dup AS MATERIALIZED (
  SELECT g FROM pos GROUP BY g HAVING count(*) >= 2
),
hits AS (
  SELECT p.doc_id, p.pos, p.pos + {n - 1} AS "end"
  FROM pos p JOIN dup USING (g)
),
marked AS (
  SELECT doc_id, pos, "end",
         max("end") OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM hits
),
islands AS (
  SELECT doc_id, pos, "end",
         sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                  THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS UNBOUNDED PRECEDING) AS island
  FROM marked
),
span AS (
  SELECT doc_id, island, min(pos) AS s, max("end") AS e
  FROM islands GROUP BY doc_id, island
),
stats AS (
  SELECT doc_id,
         CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
         count(*) AS n_dup_spans
  FROM span GROUP BY doc_id
)
SELECT b.doc_id,
       b.n_tokens,
       CAST(coalesce(st.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(coalesce(st.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       {ratio} AS dup_ratio
FROM base b LEFT JOIN stats st USING (doc_id)
"""
