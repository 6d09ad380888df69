"""Bigram language-model quality scoring over the ``documents`` table —
the CCNet-style "perplexity filter" stage of a training-data pipeline
(score each document by how surprising it is under a corpus-trained LM;
route high-perplexity docs to review / drop buckets).

The model is an add-one-smoothed bigram LM trained on the corpus itself:

    P(w2 | w1) = (count(w1 w2) + 1) / (count(w1 ·) + V)

where ``count(w1 ·)`` is the number of bigrams whose left context is
``w1`` and ``V`` is the corpus vocabulary size. The per-document score is
the cross-entropy in bits per bigram, ``h_bits = -Σ log2 P / n_bigrams``
(2^h_bits is the perplexity).

Scale shape (the 100 TB plan):
* ONE corpus scan produces the bigram stream; it is the diamond
  root feeding the context counts, the pair counts AND the scoring join, so
  it is snapshot-materialized once per input plan — the production
  pattern is a materialized bigram table.
* The model is two hash-aggregations over that stream (map-side partial
  combine); both outputs are vocabulary-sized (≪ corpus).
* Scoring is two equi-joins on token keys (bigram, then left context) —
  vocabulary-sized build sides, so AQE broadcasts them when they fit and
  falls back to a shuffle hash join when they don't. Never all-pairs,
  never a Python UDF.
* The per-document reduce is a hash-agg count plus
  :func:`~..rounding.exact_sum` of the log-probabilities. Each term is
  portable-rounded at 9 dp first, which absorbs the ≤1-ulp libm
  divergence between Java's and DuckDB's log2.

Reference analog: none (the reference is a diagnostics parser); this is a
driver-brief training-data op, sibling of textstats.quality_score.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..rounding import (
    exact_sum, exact_sum_sql, portable_round, portable_round_sql)
from .dedup import TOKENS_SQL, tokens


def _bigram_stream(documents: DataFrame) -> DataFrame:
    """(doc_id, w1, bg): the bigram stream, docs with ≥2
    tokens only. ``sequence(1, n-1)`` is guarded by the filter — Spark's
    sequence() DESCENDS when stop < start, so short docs must never reach
    it (see positional_ngrams())."""
    d = documents.select("doc_id", tokens(F.col("text")).alias("toks"))
    d = d.filter(F.size("toks") >= 2)
    pairs = F.expr(
        "transform(sequence(1, size(toks) - 1), "
        "i -> struct(toks[i-1] AS w1, concat(toks[i-1], ' ', toks[i]) AS bg))")
    return (
        d.select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.bg").alias("bg"))
    )


def bigram_lm_score(documents: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, h_bits): add-one bigram LM cross-entropy per
    document, trained on ``documents`` itself. Docs with fewer than two
    tokens score (0, 0.0) — nothing to model, never dropped silently."""
    from ..materialize import materialize

    bg = materialize(_bigram_stream(documents))

    pair_counts = bg.groupBy("bg").agg(F.count("*").alias("c12"))
    ctx_counts = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = (
        documents.select(F.explode(tokens(F.col("text"))).alias("t"))
        .agg(F.countDistinct("t").alias("v_size"))
        .withColumn("k", F.lit(1))
    )

    logp = portable_round(
        F.log2((F.col("c12") + 1).cast("double")
               / (F.col("c1") + F.col("v_size")).cast("double")), 9)
    scored = (
        bg.join(pair_counts, "bg")
        .join(ctx_counts, "w1")
        .withColumn("k", F.lit(1))
        .join(F.broadcast(vocab), "k")
        .select("doc_id", logp.alias("logp"))
    )
    per_doc = (
        scored.groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"),
             exact_sum(F.col("logp")).alias("s"))
        .select(
            "doc_id", "n_bigrams",
            portable_round(-F.col("s") / F.col("n_bigrams"), 4).alias("h_bits"),
        )
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("h_bits", F.lit(0.0)).alias("h_bits"),
        )
    )


def bigram_lm_score_sql(table: str = "documents") -> str:
    """DuckDB twin: identical model, identical 9-dp-rounded log2 terms,
    identical exact sum."""
    toks = TOKENS_SQL.format(c="text")
    logp = portable_round_sql(
        "log2(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v_size AS DOUBLE))", 9)
    return f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, {toks} AS toks FROM {table}
), bg AS MATERIALIZED (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
         unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS bg
  FROM tok WHERE len(toks) >= 2
), pair_counts AS MATERIALIZED (
  SELECT bg, count(*) AS c12 FROM bg GROUP BY bg
), ctx_counts AS MATERIALIZED (
  SELECT w1, count(*) AS c1 FROM bg GROUP BY w1
), vocab AS (
  SELECT count(DISTINCT t) AS v_size FROM (SELECT unnest(toks) AS t FROM tok)
), scored AS (
  SELECT bg.doc_id AS s_doc_id, {logp} AS logp
  FROM bg JOIN pair_counts USING (bg) JOIN ctx_counts USING (w1), vocab
), per_doc AS (
  SELECT s_doc_id,
         count(*) AS n_bigrams,
         {exact_sum_sql('logp')} AS sum_logp
  FROM scored GROUP BY s_doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       coalesce({portable_round_sql('-p.sum_logp / p.n_bigrams', 4)}, 0.0) AS h_bits
FROM {table} d LEFT JOIN per_doc p ON d.doc_id = p.s_doc_id
"""


def ccnet_buckets(documents: DataFrame) -> DataFrame:
    """(doc_id, lang_pred, h_bits, bucket): CCNet's head/middle/tail
    selection (Wenzek et al. 2020) — per predicted language, split the
    corpus into perplexity terciles: the lowest-cross-entropy third is
    'head' (keep), then 'middle', then 'tail' (drop/review). Docs with no
    bigrams to score (``n_bigrams == 0``) are routed to 'unscored' rather
    than silently winning the lowest-perplexity slot.

    Tercile cutoffs are EXACT order statistics computed as value-histogram
    quantiles, never a per-language sort: hash-aggregate (lang, h_bits) →
    counts, run the cumulative window over that HISTOGRAM (bounded by
    |langs| × distinct 4-dp scores, ≪ corpus), and pick
    t_k = min{h : cum(h) ≥ ceil(k·n/3)} — inverse-ECDF (type-1) quantile
    semantics, so ties on h_bits land whole in one bucket (head may
    exceed n/3 under ties; deterministic and engine-portable, unlike
    interpolated percentiles whose last-ulp math differs per engine).

    Scale shape (10^12 docs): two corpus-sized equi-joins on doc_id
    (scores ⋈ langs), one map-side-combinable hash-agg to the histogram,
    a window over the histogram only, and a broadcast of the |langs|-row
    cutoff table back onto the corpus. The dominant language's docs never
    pass through a single partition.

    Reference analog: none; driver-brief training-data op (CCNet paper's
    selection stage over this module's bigram LM)."""
    from pyspark.sql.window import Window

    from ..materialize import materialize
    from .textstats import lang_id

    # diamond root: consumed by the histogram AND the final bucket select —
    # snapshot it so the LM-scoring joins run once, not once per consumer
    # (the DuckDB twin's `scored AS MATERIALIZED` is the same statement)
    scored = materialize(
        bigram_lm_score(documents)
        .join(lang_id(documents).select("doc_id", "lang_pred"), "doc_id"))
    hist = (
        scored.filter(F.col("n_bigrams") > 0)
        .groupBy("lang_pred", "h_bits").agg(F.count("*").alias("c"))
    )
    w_cum = Window.partitionBy("lang_pred").orderBy("h_bits")
    w_all = Window.partitionBy("lang_pred")
    cum = (
        hist.withColumn("cum", F.sum("c").over(w_cum))
        .withColumn("n", F.sum("c").over(w_all))
    )
    cuts = cum.groupBy("lang_pred").agg(
        F.min(F.when(F.col("cum") >= F.expr("(n + 2) div 3"),
                     F.col("h_bits"))).alias("t1"),
        F.min(F.when(F.col("cum") >= F.expr("(2 * n + 2) div 3"),
                     F.col("h_bits"))).alias("t2"),
    )
    bucket = (
        F.when(F.col("n_bigrams") == 0, F.lit("unscored"))
        .when(F.col("h_bits") <= F.col("t1"), F.lit("head"))
        .when(F.col("h_bits") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.join(F.broadcast(cuts), "lang_pred", "left")
        .select("doc_id", "lang_pred", "h_bits", bucket.alias("bucket"))
    )


def ccnet_buckets_sql(table: str = "documents") -> str:
    """DuckDB twin: identical histogram-quantile cutoffs over the same
    4-dp-rounded h_bits; integer-only ceil, no interpolated percentile."""
    from .textstats import lang_id_sql

    return f"""
WITH scores AS MATERIALIZED ({bigram_lm_score_sql(table)}
), langs AS MATERIALIZED ({lang_id_sql(table)}
), scored AS MATERIALIZED (
  SELECT s.doc_id, l.lang_pred, s.n_bigrams, s.h_bits
  FROM scores s JOIN langs l USING (doc_id)
), hist AS (
  SELECT lang_pred, h_bits, count(*) AS c
  FROM scored WHERE n_bigrams > 0 GROUP BY lang_pred, h_bits
), cum AS (
  SELECT lang_pred, h_bits,
         sum(c) OVER (PARTITION BY lang_pred ORDER BY h_bits) AS cum,
         sum(c) OVER (PARTITION BY lang_pred) AS n
  FROM hist
), cuts AS (
  SELECT lang_pred,
         min(CASE WHEN cum >= (n + 2) // 3 THEN h_bits END) AS t1,
         min(CASE WHEN cum >= (2 * n + 2) // 3 THEN h_bits END) AS t2
  FROM cum GROUP BY lang_pred
)
SELECT sc.doc_id, sc.lang_pred, sc.h_bits,
       CASE WHEN sc.n_bigrams = 0 THEN 'unscored'
            WHEN sc.h_bits <= c.t1 THEN 'head'
            WHEN sc.h_bits <= c.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored sc LEFT JOIN cuts c USING (lang_pred)
"""
