"""DSIR importance weights over the ``documents`` table — Data Selection
with Importance Resampling (Xie et al. 2023, "Data Selection for Language
Models via Importance Resampling", public arXiv 2302.03169).

The paper's estimator: hash unigram+bigram features into B buckets, fit
bag-of-hashed-ngrams unigram distributions on a small TARGET corpus (the
domain you want more of) and on the RAW corpus, then weight every raw
document by its likelihood ratio

    log w(x) = Σ_f  cnt_x(f) · [ log p_target(f) − log q_raw(f) ]

(add-one smoothing over the B-bucket vocabulary). Documents are then
importance-RESAMPLED proportionally to w(x) — here the weight itself is
the output; resampling composes with corpus_filters.corpus_sample. The
target is selected by a deterministic predicate on the corpus itself
(default: ``lang = 'en'``), mirroring the paper's "target = formal text"
setup without any external data.

Scale shape (the 100 TB plan):
* ONE corpus scan builds the hashed per-(doc, bucket) count stream; it is
  the diamond root feeding BOTH distribution fits and the scoring join,
  so it is snapshot-materialized once per input plan.
* The two distributions come from a single hash-aggregation over that
  stream (raw total + conditional target total per bucket — map-side
  partial combine); the result is ≤ B rows (B defaults to 1024), so the
  log-ratio table broadcasts to every executor.
* Scoring is one broadcast equi-join on the bucket id plus a per-document
  hash-agg. Never all-pairs, never a window over the corpus, no Python.
* The per-document reduce is a hash-agg :func:`~..rounding.exact_sum` of
  the terms. Each log is portable-rounded at 9 dp first, absorbing the
  ≤1-ulp libm divergence between Java's and DuckDB's ln.

Reference analog: none (the reference is a diagnostics parser); this is a
driver-brief training-data op, sibling of lm_score.bigram_lm_score (the
CCNet-style quality stage) — DSIR is the data-SELECTION stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..rounding import (
    exact_sum, exact_sum_sql, portable_round, portable_round_sql)
from .dedup import TOKENS_SQL, _md5_i64, _md5_i64_sql, tokens

DEFAULT_BUCKETS = 1024
DEFAULT_TARGET_SQL = "lang = 'en'"


def _hashed_feature_counts(documents: DataFrame, n_buckets: int,
                           target: Column) -> DataFrame:
    """(doc_id, is_target, bucket, cnt): per-document hashed unigram+bigram
    feature counts. The bigram list is built under a size>=2 guard — Spark's
    sequence() DESCENDS when stop < start (see lm_score._bigram_stream)."""
    d = documents.select(
        "doc_id", target.alias("is_target"), tokens(F.col("text")).alias("toks"))
    bigrams = F.when(
        F.size("toks") >= 2,
        F.expr("transform(sequence(1, size(toks) - 1), "
               "i -> concat(toks[i-1], ' ', toks[i]))"),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.filter(F.size("toks") >= 1)
        .select("doc_id", "is_target",
                F.explode(F.concat(F.col("toks"), bigrams)).alias("f"))
        .withColumn("bucket", F.pmod(_md5_i64(F.col("f")), F.lit(n_buckets)))
        .groupBy("doc_id", "is_target", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def dsir_weights(documents: DataFrame, n_buckets: int = DEFAULT_BUCKETS,
                 target: Column | None = None) -> DataFrame:
    """(doc_id, n_feats, log_weight): DSIR importance log-weight per
    document under hashed unigram+bigram features. ``target`` is the
    boolean Column selecting the target sub-corpus (default lang='en';
    NULL counts as non-target). Docs with no tokens score (0, 0.0) —
    nothing to weight, never dropped silently."""
    if target is None:
        target = F.col("lang") == "en"
    from ..materialize import materialize

    fs = materialize(_hashed_feature_counts(documents, n_buckets, target))

    # one hash-agg fits BOTH distributions: raw total and target total
    # per bucket (is_target is constant per doc, so summing the flagged
    # counts IS the target-corpus bucket count)
    dist = fs.groupBy("bucket").agg(
        F.sum("cnt").alias("r_cnt"),
        F.sum(F.when(F.col("is_target"), F.col("cnt")).otherwise(F.lit(0)))
        .alias("t_cnt"))
    totals = dist.agg(F.sum("r_cnt").alias("r_total"),
                      F.sum("t_cnt").alias("t_total"), F.lit(1).alias("k"))
    log_ratio = portable_round(
        F.log((F.col("t_cnt") + 1).cast("double")
              / (F.col("t_total") + n_buckets).cast("double"))
        - F.log((F.col("r_cnt") + 1).cast("double")
                / (F.col("r_total") + n_buckets).cast("double")), 9)
    ratios = (dist.withColumn("k", F.lit(1))
              .join(F.broadcast(totals), "k")
              .select("bucket", log_ratio.alias("log_ratio")))

    per_doc = (
        fs.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("cnt").alias("n_feats"),
             exact_sum(F.col("cnt") * F.col("log_ratio")).alias("sum_term"))
        .select(
            "doc_id", F.col("n_feats").cast("long").alias("n_feats"),
            portable_round(F.col("sum_term"), 6).alias("log_weight"))
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
        )
    )


def hashed_features_sql(table: str = "documents",
                        n_buckets: int = DEFAULT_BUCKETS,
                        target_pred: str = DEFAULT_TARGET_SQL) -> str:
    """The tok/fs CTE pair — the SQL twin of
    :func:`_hashed_feature_counts`, shared by dsir_weights_sql and
    quality_classifier_sql exactly like the Spark sides share the
    function (a verbatim copy in each oracle would silently
    desynchronize on the next hashing fix)."""
    toks = TOKENS_SQL.format(c="text")
    return f"""tok AS MATERIALIZED (
  SELECT doc_id, ({target_pred}) AS is_target, {toks} AS toks FROM {table}
), fs AS MATERIALIZED (
  SELECT doc_id, is_target,
         {_md5_i64_sql('f')} % {n_buckets} AS bucket, count(*) AS cnt
  FROM (
    SELECT doc_id, is_target,
           unnest(toks || list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i + 1])) AS f
    FROM tok WHERE len(toks) >= 1
  ) GROUP BY doc_id, is_target, bucket
)"""


def dsir_weights_sql(table: str = "documents",
                     n_buckets: int = DEFAULT_BUCKETS,
                     target_pred: str = DEFAULT_TARGET_SQL) -> str:
    """DuckDB twin: identical hashing, identical smoothing, identical
    9-dp-rounded ln terms, identical exact sum."""
    log_ratio = portable_round_sql(
        f"ln(CAST(t_cnt + 1 AS DOUBLE) / CAST(t_total + {n_buckets} AS DOUBLE))"
        f" - ln(CAST(r_cnt + 1 AS DOUBLE) / CAST(r_total + {n_buckets} AS DOUBLE))",
        9)
    return f"""
WITH {hashed_features_sql(table, n_buckets, target_pred)}, dist AS MATERIALIZED (
  SELECT bucket, sum(cnt) AS r_cnt,
         sum(CASE WHEN is_target THEN cnt ELSE 0 END) AS t_cnt
  FROM fs GROUP BY bucket
), totals AS (
  SELECT sum(r_cnt) AS r_total, sum(t_cnt) AS t_total FROM dist
), ratios AS (
  SELECT bucket, {log_ratio} AS log_ratio FROM dist, totals
), per_doc AS (
  SELECT doc_id AS p_doc_id, sum(cnt) AS n_feats,
         {exact_sum_sql('cnt * log_ratio')} AS sum_term
  FROM fs JOIN ratios USING (bucket) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_feats, 0) AS BIGINT) AS n_feats,
       coalesce({portable_round_sql('p.sum_term', 6)}, 0.0) AS log_weight
FROM {table} d LEFT JOIN per_doc p ON d.doc_id = p.p_doc_id
"""
