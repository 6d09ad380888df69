"""Trained quality classifier over the ``documents`` table — the GPT-3 /
LLaMA-style "quality filter" stage (Brown et al. 2020, "Language Models
are Few-Shot Learners", public arXiv 2005.14165, Appendix A: a logistic
classifier on hashed n-gram features separates a high-quality reference
corpus from raw CommonCrawl; pages are then kept by classifier score).

This is the DISCRIMINATIVE sibling of dsir.dsir_weights (the generative
likelihood-ratio selector): same hashed unigram+bigram features, same
deterministic target definition (default lang='en'), but the score is a
logistic regression trained by ``n_iters`` fixed full-batch gradient
steps from w = 0:

    p(x)  = sigmoid(w · x + b)      x = L2-normalized bucket presence
    w    <- w − lr/N · Σ_i (p(x_i) − y_i) · x_i         (bias likewise)

Fixed iterations from a zero init with no RNG make training exactly
reproducible, so the DuckDB twin replays the SAME gradient steps as
chained CTEs and every value is a full oracle (as ``similarity._lloyd_sql``
replays the k-means and PQ training).

Scale shape (the 100 TB plan):
* the hashed per-(doc, bucket) feature stream (shared with DSIR) is
  snapshot-materialized once; every gradient pass and the final scoring
  pass re-scan that snapshot.
* TRAINING runs on the md5(doc_id) % sample_mod == 0 subset — at 10^12
  docs callers raise ``sample_mod`` so training cost, O(sample · n_iters),
  stays independent of corpus size. SCORING stays a full-corpus one-pass
  broadcast join (w is ≤ n_buckets rows).
* Cross-engine determinism: every sum (per-doc margin, per-bucket
  gradient, bias gradient) is a hash-agg :func:`~..rounding.exact_sum`,
  and the sigmoid / updated weights are portable-rounded at 9 dp,
  absorbing libm exp() divergence (the lm_score / k-means convention).

Reference analog: none (the reference is a diagnostics parser); this is
a driver-brief training-data op.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..rounding import (
    exact_sum, exact_sum_sql, portable_round, portable_round_sql)
from .dedup import _md5_i64, _md5_i64_sql
from .dsir import (
    DEFAULT_BUCKETS, DEFAULT_TARGET_SQL, _hashed_feature_counts)


def _sigmoid(m: Column) -> Column:
    return portable_round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-portable_round(m, 9))), 9)


def _bin_feats(documents: DataFrame, n_buckets: int, target: Column) -> DataFrame:
    """(doc_id, y, bucket, x): L2-NORMALIZED binary feature presence
    (x = 1/sqrt(buckets hit by the doc)) with the 0/1 label (NULL target
    counts as 0, mirroring DSIR). The normalization is load-bearing for
    optimization, not cosmetics: with raw presence (x = 1) a doc's margin
    step per iteration is lr × (its bucket count) ≈ 150·lr — measured to
    oscillate to p ≈ 0.04 everywhere at lr 0.5 — and with L1-normalized
    tf it is lr/doc_len² ≈ 1e-6 — measured as no learning at all. Unit-L2
    features make the per-doc margin step exactly lr-scaled, stable for
    any lr ≲ 4."""
    from ..materialize import materialize

    fs = _hashed_feature_counts(documents, n_buckets, target)
    h = fs.groupBy("doc_id").agg(F.count("*").alias("h"))
    return materialize(
        fs.join(h, "doc_id")
        .select("doc_id",
                F.when(F.col("is_target"), F.lit(1.0)).otherwise(0.0)
                .alias("y"),
                "bucket",
                (F.lit(1.0) / F.sqrt(F.col("h").cast("double"))).alias("x")))


def _margins(feats: DataFrame, w: DataFrame, bias: DataFrame) -> DataFrame:
    """(doc_id, y, p): per-doc sigmoid scores under (w, bias) — the margin
    is the exact sum of x·w, bias joins broadcast."""
    per_doc = (
        feats.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(F.max("y").alias("y"),
             exact_sum(F.col("x") * F.col("w")).alias("xw"))
        .withColumn("k", F.lit(1))
        .join(F.broadcast(bias), "k")
        .select("doc_id", "y", (F.col("xw") + F.col("b")).alias("m"))
    )
    return per_doc.select("doc_id", "y", _sigmoid(F.col("m")).alias("p"))


def _lr_iter(samp: DataFrame, w: DataFrame, bias: DataFrame, lr: float,
             n_samp: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One full-batch gradient step over the training sample. The residual
    is snapshot-materialized: it feeds BOTH the per-bucket and the bias
    gradient, and leaving it lazy doubles the margin pass per step."""
    from ..materialize import materialize

    resid = materialize(
        _margins(samp, w, bias)
        .select("doc_id", (F.col("p") - F.col("y")).alias("r")))
    grad = (
        samp.join(resid, "doc_id")
        .groupBy("bucket")
        .agg(exact_sum(F.col("r") * F.col("x")).alias("g"))
        .withColumn("k", F.lit(1))
        .join(F.broadcast(n_samp), "k")
        .select("bucket", (F.col("g") / F.col("n")).alias("gb"))
    )
    w_new = (w.join(grad, "bucket", "left")
             .select("bucket",
                     portable_round(
                         F.col("w") - lr * F.coalesce("gb", F.lit(0.0)), 9)
                     .alias("w")))
    b_grad = (resid
              .groupBy(F.lit(1).alias("k"))
              .agg(exact_sum(F.col("r")).alias("g"))
              .join(F.broadcast(n_samp), "k")
              .select("k", (F.col("g") / F.col("n")).alias("gb")))
    # LEFT join + coalesce: an EMPTY training sample (every doc hashed out
    # by sample_mod, or an all-NULL-text corpus) yields an empty b_grad —
    # an inner join here silently emptied bias and with it the ENTIRE
    # result (review finding, repro'd); the zero-gradient reading keeps
    # the model at its current state instead, in both engines.
    bias_new = (bias.join(b_grad, "k", "left")
                .select("k", portable_round(
                    F.col("b") - lr * F.coalesce("gb", F.lit(0.0)), 9)
                    .alias("b")))
    return w_new, bias_new


def quality_classifier(documents: DataFrame,
                       n_buckets: int = DEFAULT_BUCKETS,
                       target: Column | None = None, lr: float = 1.0,
                       n_iters: int = 5, sample_mod: int = 1) -> DataFrame:
    """(doc_id, n_feats, quality_prob): logistic quality score per doc
    under the trained classifier. Docs with no tokens score by the bias
    alone (they have no evidence either way, never dropped silently)."""
    if target is None:
        target = F.col("lang") == "en"
    spark = documents.sparkSession
    feats = _bin_feats(documents, n_buckets, target)
    samp = feats.filter(
        F.pmod(_md5_i64(F.col("doc_id").cast("string")),
               F.lit(sample_mod)) == 0)
    n_samp = (samp.groupBy(F.lit(1).alias("k"))
              .agg(F.countDistinct("doc_id").cast("double").alias("n")))
    w = feats.select("bucket").distinct().withColumn("w", F.lit(0.0))
    bias = spark.range(1).select(F.lit(1).alias("k"), F.lit(0.0).alias("b"))
    from ..materialize import materialize

    for _ in range(n_iters):
        w, bias = _lr_iter(samp, w, bias, lr, n_samp)
        # ALWAYS flatten the iteration chain through a tiny
        # (≤ n_buckets)-row snapshot: the lazy alternative embeds the
        # previous iteration's plan twice per step (residual feeds two
        # gradients), growing the plan tree exponentially in n_iters —
        # measured as a driver-heap OOM at n_iters=5 before this.
        w = materialize(w)
        bias = materialize(bias)

    scored = (_margins(feats, w, bias)
              .select("doc_id", portable_round(F.col("p"), 6)
                      .alias("quality_prob")))
    n_feats = (feats.groupBy("doc_id")
               .agg(F.count("*").alias("n_buckets_hit")))
    # bias-only score for docs with no features
    empty_p = (bias.select(portable_round(_sigmoid(F.col("b")), 6)
                           .alias("p0")).withColumn("k", F.lit(1)))
    return (
        documents.select("doc_id").withColumn("k", F.lit(1))
        .join(F.broadcast(empty_p), "k")
        .join(scored, "doc_id", "left")
        .join(n_feats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_buckets_hit", F.lit(0)).cast("long")
            .alias("n_buckets_hit"),
            F.coalesce("quality_prob", F.col("p0")).alias("quality_prob"),
        )
    )


def quality_classifier_sql(table: str = "documents",
                           n_buckets: int = DEFAULT_BUCKETS,
                           target_pred: str = DEFAULT_TARGET_SQL,
                           lr: float = 1.0, n_iters: int = 5,
                           sample_mod: int = 1) -> str:
    """DuckDB twin: replays the identical zero-init gradient steps as
    chained CTEs — same exact sums, same 9-dp portable rounding on
    sigmoid and weight updates, so training is a full value oracle (as
    ``similarity._lloyd_sql`` is for k-means)."""
    from .dsir import hashed_features_sql

    sig = portable_round_sql(
        "1.0 / (1.0 + exp(-(" + portable_round_sql("{m}", 9) + ")))", 9)

    def margins(feats: str, w: str, b: str, out: str) -> str:
        # MATERIALIZED: each m{i} feeds BOTH g{i} and b{i+1}; inlined, the
        # doc-keyed aggregate over the feature stream re-derives per
        # consumer and the 5-iteration chain exhausts an 8 GB limit at
        # sf0.1 (measured 40 s → OOM; materialized the sweep passes — the
        # r04 MATERIALIZED-CTE lesson applied to the one chain that missed
        # it). Values unchanged: materialization is a plan property.
        m = f"{exact_sum_sql('x * w')} + (SELECT b FROM {b})"
        return (f"{out} AS MATERIALIZED (\n"
                f"  SELECT doc_id, max(y) AS y,\n"
                f"         {sig.format(m=m)} AS p\n"
                f"  FROM {feats} JOIN {w} USING (bucket) GROUP BY doc_id\n)")

    parts = [f"""{hashed_features_sql(table, n_buckets, target_pred)}, hcnt AS (
  SELECT doc_id AS h_doc_id, count(*) AS h FROM fs GROUP BY doc_id
), feats AS MATERIALIZED (
  SELECT doc_id, CASE WHEN is_target THEN 1.0 ELSE 0.0 END AS y, bucket,
         1.0 / sqrt(CAST(h AS DOUBLE)) AS x
  FROM fs JOIN hcnt ON fs.doc_id = hcnt.h_doc_id
), samp AS MATERIALIZED (
  SELECT * FROM feats
  WHERE {_md5_i64_sql('CAST(doc_id AS VARCHAR)')} % {sample_mod} = 0
), n_samp AS (
  SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM samp
), w0 AS (
  SELECT DISTINCT bucket, 0.0 AS w FROM feats
), b0 AS (SELECT 0.0 AS b)"""]
    for i in range(n_iters):
        pw, pb, nw, nb = f"w{i}", f"b{i}", f"w{i + 1}", f"b{i + 1}"
        parts.append(margins("samp", pw, pb, f"m{i}"))
        parts.append(
            f"""g{i} AS (
  SELECT bucket,
         {exact_sum_sql('r * x')} / (SELECT n FROM n_samp) AS gb
  FROM samp JOIN (SELECT doc_id, p - y AS r FROM m{i}) USING (doc_id)
  GROUP BY bucket
), {nw} AS MATERIALIZED (
  SELECT {pw}.bucket,
         {portable_round_sql(f'{pw}.w - {lr} * coalesce(g{i}.gb, 0.0)', 9)} AS w
  FROM {pw} LEFT JOIN g{i} ON {pw}.bucket = g{i}.bucket
), {nb} AS (
  -- coalesce to the previous bias: an empty sample makes the sum NULL
  -- (zero-gradient reading, mirrors the Spark left join)
  SELECT coalesce({portable_round_sql(
      f'(SELECT b FROM {pb}) - {lr} * '
      f'({exact_sum_sql("r")} / (SELECT n FROM n_samp))', 9)},
      (SELECT b FROM {pb})) AS b
  FROM (SELECT doc_id, p - y AS r FROM m{i})
)""")
    wf, bf = f"w{n_iters}", f"b{n_iters}"
    parts.append(margins("feats", wf, bf, "scored"))
    parts.append(f"""hits AS (
  SELECT doc_id AS h_doc_id, count(*) AS n_buckets_hit
  FROM feats GROUP BY doc_id
)""")
    empty_m = f"(SELECT b FROM {bf})"
    return ("WITH " + ",\n".join(parts) + f"""
SELECT d.doc_id,
       CAST(coalesce(h.n_buckets_hit, 0) AS BIGINT) AS n_buckets_hit,
       coalesce({portable_round_sql('s.p', 6)},
                {portable_round_sql(sig.format(m=empty_m), 6)}) AS quality_prob
FROM {table} d
LEFT JOIN scored s ON d.doc_id = s.doc_id
LEFT JOIN hits h ON d.doc_id = h.h_doc_id
""")
