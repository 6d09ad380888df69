"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
2003, "Winnowing: Local Algorithms for Document Fingerprinting") — the
classic fingerprint-selection algorithm behind MOSS, as a Spark/DuckDB
pair.

``textstats.fingerprint`` keeps ONE hash per document (a 1-element
winnow, enough for bucketing); this module implements the real thing:
hash every k-gram, slide a window of ``w`` consecutive k-gram hashes, and
select each window's minimum (rightmost position on ties — the paper's
"robust winnowing" rule, which makes the selected set insensitive to
where windows start). The guarantee: every window of ``w`` k-grams
contributes at least one selected fingerprint, so any shared substring of
``w + k - 1`` tokens between two documents yields a shared fingerprint —
detection with expected density 2/(w+1) instead of storing all k-grams.

Scale shape (10^12 tokens):
* the explode is one row per token position, hashed to 60-bit ints before
  any shuffle — the same cost class as ``spans.dup_span_removal`` and
  ``corpus_filters.boilerplate_ngrams``;
* selection is ONE window partitioned by doc_id ordered by position —
  bounded by document length, never corpus-global (the hot-document skew
  class ``BENCH/SKEW.md`` tracks; the k-grams come from the O(k·n)
  ``dedup.positional_ngrams`` build);
* ``winnow_match_pairs`` joins on the fingerprint value with a
  document-frequency cap (``max_df``) that drops boilerplate fingerprints
  before the join — the same hot-key guard the LSH band join uses; it is
  never all-pairs.

The tie-break is encoded as ``min(struct(hash, -pos))``: struct ordering
is lexicographic in BOTH engines, so the minimum hash wins and, among
equal hashes, the most negative ``-pos`` — i.e. the rightmost position —
is selected, bit-for-bit reproducible across Spark and DuckDB.

Reference analog: none (the reference parses diagnostics); this is the
training-data/plagiarism-detection layer the driver brief asks for.
Public method: Schleimer et al. 2003 (doi:10.1145/872757.872770).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import _md5_i64, _md5_i64_sql, positional_ngrams, positional_ngrams_sql


def winnow_fingerprints(documents: DataFrame, k: int = 5, w: int = 4,
                        text_col: str = "text") -> DataFrame:
    """(doc_id, pos, fp): the winnowed fingerprint set. ``pos`` is the
    1-based token position of the selected k-gram; documents with fewer
    than ``w`` k-grams still contribute their global minimum (every
    document with ≥k tokens gets ≥1 fingerprint); shorter/NULL documents
    contribute none."""
    base = documents.select(
        "doc_id", positional_ngrams(F.col(text_col), k).alias("grams"))
    pos = base.select(
        "doc_id", F.size("grams").alias("n"), F.posexplode("grams")
    ).select(
        "doc_id", "n", (F.col("pos") + 1).alias("pos"),
        _md5_i64(F.col("col")).alias("h"))
    win = (Window.partitionBy("doc_id").orderBy("pos")
           .rowsBetween(-(w - 1), 0))
    sel = pos.withColumn(
        "s", F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(win))
    return (
        sel.filter(F.col("pos") >= F.least(F.lit(w), F.col("n")))
        .select(
            "doc_id",
            (-F.col("s.np")).cast("long").alias("pos"),
            F.col("s.h").alias("fp"))
        .distinct()
    )


def winnow_fingerprints_sql(table: str = "documents", k: int = 5,
                            w: int = 4, text_col: str = "text") -> str:
    grams = positional_ngrams_sql(text_col, k)
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, {grams} AS grams FROM {table}
),
pos AS (
  SELECT doc_id, len(grams) AS n, CAST(i AS INTEGER) AS pos,
         {_md5_i64_sql('grams[i]')} AS h
  FROM base, unnest(range(1, len(grams) + 1)) u(i)
),
sel AS (
  SELECT doc_id, n, pos,
         min({{'h': h, 'np': -pos}}) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS s
  FROM pos
)
SELECT DISTINCT doc_id,
       CAST(-struct_extract(s, 'np') AS BIGINT) AS pos,
       struct_extract(s, 'h') AS fp
FROM sel WHERE pos >= least({w}, n)
"""


def winnow_match_pairs(documents: DataFrame, k: int = 5, w: int = 4,
                       min_shared: int = 2, max_df: int = 50,
                       text_col: str = "text") -> DataFrame:
    """(doc_a, doc_b, n_shared): MOSS-style candidate match pairs — document
    pairs sharing ≥ ``min_shared`` winnowed fingerprint VALUES. Fingerprints
    appearing in more than ``max_df`` documents are boilerplate and dropped
    before the join (the hot-key guard); position is ignored for matching,
    as in the paper. The fingerprint diamond (df-count + self-join) is
    snapshot-materialized."""
    from ..materialize import materialize

    fps = materialize(winnow_fingerprints(documents, k, w, text_col)
                      .select("doc_id", "fp").distinct())
    rare = (fps.groupBy("fp").agg(F.count("*").alias("df"))
            .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
            .select("fp"))
    f2 = fps.join(rare, "fp")
    a, b = f2.alias("a"), f2.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_match_pairs_sql(table: str = "documents", k: int = 5, w: int = 4,
                           min_shared: int = 2, max_df: int = 50,
                           text_col: str = "text") -> str:
    return f"""
WITH fps AS MATERIALIZED (
  SELECT DISTINCT doc_id, fp
  FROM ({winnow_fingerprints_sql(table, k, w, text_col)}) wf
),
rare AS (
  SELECT fp FROM fps GROUP BY fp
  HAVING count(*) >= 2 AND count(*) <= {max_df}
),
f2 AS (SELECT doc_id, fp FROM fps JOIN rare USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {min_shared}
"""
