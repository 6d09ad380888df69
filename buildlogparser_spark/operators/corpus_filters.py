"""Corpus-curation filters a large-scale training-data pipeline needs
beyond dedup/textstats: PII redaction, benchmark decontamination,
deterministic stratified sampling, and repetition statistics (the
Gopher-style repetition filters of Rae et al. 2021, public).

All Spark-first: pure column expressions where possible; the two ops that
need cross-row work (decontaminate, repetition_stats) are a broadcast
bucket-join and a partial-agg groupBy respectively — no window over the
whole corpus, no collect, no Python UDF. Each operator has a DuckDB twin
(`*_sql`) compared value-for-value in tests/test_spark_duckdb_parity.py.

Regex note: the PII patterns are written to the Java-regex ∩ RE2 common
subset (character classes, bounded repetition, ``\\b``) so Spark and the
DuckDB oracle match byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..rounding import portable_round, portable_round_sql
from .dedup import (
    _md5_i64, _md5_i64_sql, bpe_token_estimate, bpe_tokens_sql,
    lsh_candidates, lsh_candidates_sql, shingles, shingles_sql, tokens,
    TOKENS_SQL)

# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Applied IN ORDER; each count is taken on the text as already redacted by
# the previous steps (so digits inside an email/IP are not double-counted).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("digit_runs", "[0-9]{7,}", "<NUM>"),
]


def pii_redact(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, redacted_text, n_emails, n_ipv4, n_digit_runs): regex PII
    scrub — emails, IPv4 literals, long digit runs (phone/account-number
    shaped) → typed placeholders. Pure per-row column expressions: one
    whole-stage-codegen pass, shuffle-free at any scale."""
    cur: Column = F.col(text_col)
    counts = []
    for name, pat, rep in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).cast("long").alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, rep)
    return documents.select("doc_id", cur.alias("redacted_text"), *counts)


def pii_redact_sql(table: str = "documents", text_expr: str = "text") -> str:
    cur = text_expr
    counts = []
    for name, pat, rep in PII_PATTERNS:
        counts.append(
            f"CAST(len(regexp_extract_all({cur}, '{pat}')) AS BIGINT) AS n_{name}")
        cur = f"regexp_replace({cur}, '{pat}', '{rep}', 'g')"
    return (f"SELECT doc_id, {cur} AS redacted_text, {', '.join(counts)} "
            f"FROM {table}")


def inject_pii(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministically append synthetic PII to every 3rd document (by
    doc_id). Test/bench helper only: the synthetic documents table is
    lowercase word soup with no PII, so without injection a redaction
    parity check is vacuous (ADVICE r03 #4 lesson)."""
    suffix = F.concat(
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 ref 99887766"), (F.col("doc_id") % 10).cast("string"))
    return documents.withColumn(
        text_col,
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.col(text_col), suffix))
        .otherwise(F.col(text_col)))


def inject_pii_sql(table: str = "documents") -> str:
    suffix = ("' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.'"
              " || CAST(doc_id % 256 AS VARCHAR) || '.7 ref 99887766'"
              " || CAST(doc_id % 10 AS VARCHAR)")
    return (f"SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN text || {suffix} "
            f"ELSE text END AS text FROM {table}")


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap vs a held-out eval set)
# ---------------------------------------------------------------------------


def decontaminate(documents: DataFrame, bench_mod: int = 97, k: int = 8) -> DataFrame:
    """(doc_id, n_hit_shingles, contaminated) for every corpus document:
    flag training docs sharing any ``k``-token shingle with the benchmark
    set (here deterministically carved out as doc_id % bench_mod == 0 —
    in production the eval suite itself).

    Scale shape: benchmark eval sets are small by nature (MBs against a
    100 TB corpus), so the distinct benchmark-shingle set is broadcast;
    the corpus side is one shingle explode + hash-agg — no shuffle of the
    corpus beyond the per-doc hit count, never an all-pairs compare."""
    sh = shingles(F.col("text"), k)
    bench = (
        documents.filter(F.col("doc_id") % bench_mod == 0)
        .select(F.explode(sh).alias("shingle")).distinct())
    corpus = documents.filter(F.col("doc_id") % bench_mod != 0)
    hits = (
        corpus.select("doc_id", F.explode(sh).alias("shingle"))
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id").agg(F.count("*").alias("n_hit_shingles")))
    return (
        corpus.select("doc_id").join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hit_shingles", F.lit(0)).cast("long").alias("n_hit_shingles"),
            (F.coalesce("n_hit_shingles", F.lit(0)) > 0).alias("contaminated")))


def decontaminate_sql(table: str = "documents", bench_mod: int = 97, k: int = 8) -> str:
    sh = shingles_sql("text", k)
    return f"""
WITH bench AS MATERIALIZED (
  SELECT DISTINCT unnest({sh}) AS shingle FROM {table} WHERE doc_id % {bench_mod} = 0
), corpus AS MATERIALIZED (
  SELECT doc_id, unnest({sh}) AS shingle FROM {table} WHERE doc_id % {bench_mod} <> 0
), hits AS (
  SELECT c.doc_id, count(*) AS n
  FROM corpus c JOIN bench b USING (shingle) GROUP BY c.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hit_shingles,
       coalesce(h.n, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM {table} WHERE doc_id % {bench_mod} <> 0) d
LEFT JOIN hits h USING (doc_id)
"""


# ---------------------------------------------------------------------------
# deterministic stratified sampling (corpus mixing)
# ---------------------------------------------------------------------------

# per-language keep rates, in ten-thousandths (integer math only so both
# engines compare the same values — no float rate × hash rounding skew)
SAMPLE_RATES_BP: dict[str, int] = {
    "en": 10_000, "es": 5_000, "de": 5_000, "fr": 2_500, "zh": 2_500}
SAMPLE_DEFAULT_BP = 1_000


def corpus_sample(documents: DataFrame) -> DataFrame:
    """(doc_id, lang, source): deterministic per-language downsampling —
    keep a doc iff md5('smp'||doc_id) % 10000 < rate_bp[lang]. Seeded by
    doc_id, so the sample is reproducible across runs/engines and stable
    under corpus growth (adding docs never flips existing keep decisions —
    the property a resumable 100 TB mixing job needs). The rates dim is a
    broadcast join, not a chained CASE, so production can swap in a real
    rates table without a code change."""
    spark = documents.sparkSession
    rates = spark.createDataFrame(
        [(lang, bp) for lang, bp in sorted(SAMPLE_RATES_BP.items())],
        "lang string, rate_bp int")
    bucket = _md5_i64(F.concat(F.lit("smp"), F.col("doc_id").cast("string"))) % 10_000
    return (
        documents.join(F.broadcast(rates), "lang", "left")
        .withColumn("rate_bp", F.coalesce("rate_bp", F.lit(SAMPLE_DEFAULT_BP)))
        .filter(bucket < F.col("rate_bp"))
        .select("doc_id", "lang", "source"))


def corpus_sample_sql(table: str = "documents") -> str:
    cases = " ".join(
        f"WHEN lang = '{lang}' THEN {bp}"
        for lang, bp in sorted(SAMPLE_RATES_BP.items()))
    bucket = _md5_i64_sql("'smp' || CAST(doc_id AS VARCHAR)")
    return (
        f"SELECT doc_id, lang, source FROM {table} "
        f"WHERE {bucket} % 10000 < (CASE {cases} ELSE {SAMPLE_DEFAULT_BP} END)")


# ---------------------------------------------------------------------------
# repetition statistics (Gopher-style quality filters)
# ---------------------------------------------------------------------------


def repetition_stats(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, distinct_ratio, top_token_frac, top_bigram_frac):
    the repetition signals the Gopher filters threshold on — distinct-token
    ratio, most-frequent-token fraction, most-frequent-bigram fraction.

    Scale shape: ONE scan of the corpus — tokens and bigrams are tagged and
    exploded together, then two hash-aggs (map-side partial first) recover
    every per-doc statistic: n_tokens = Σ token counts, n_distinct = #
    distinct token rows, top fractions = conditional maxes. A pathological
    million-token document costs O(n) spread across partitions by
    (doc_id, kind, gram); only a doc_id-pruned scan joins back the docs
    with zero tokens."""
    toks = tokens(F.col("text"))
    base = documents.select("doc_id", toks.alias("toks"))
    n = F.size("toks")
    bigrams = F.when(
        n >= 2,
        F.transform(F.sequence(F.lit(1), n - 1),
                    lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, 2)))
    ).otherwise(F.array().cast("array<string>"))
    tagged = F.concat(
        F.transform(F.col("toks"),
                    lambda t: F.struct(F.lit("t").alias("kind"), t.alias("g"))),
        F.transform(bigrams,
                    lambda b: F.struct(F.lit("b").alias("kind"), b.alias("g"))))
    per_doc = (
        base.select("doc_id", F.explode(tagged).alias("x"))
        .groupBy("doc_id", "x.kind", "x.g").agg(F.count("*").alias("c"))
        .groupBy("doc_id").agg(
            F.sum(F.when(F.col("kind") == "t", F.col("c"))).alias("n_tokens"),
            F.count(F.when(F.col("kind") == "t", 1)).alias("n_distinct"),
            F.max(F.when(F.col("kind") == "t", F.col("c"))).alias("top_tok"),
            F.max(F.when(F.col("kind") == "b", F.col("c"))).alias("top_bg")))
    return (
        documents.select("doc_id").join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            "n_distinct", "top_tok", "top_bg")
        .select(
            "doc_id", "n_tokens",
            portable_round(F.when(F.col("n_tokens") > 0,
                                  F.col("n_distinct") / F.col("n_tokens"))
                           .otherwise(0.0), 4).alias("distinct_ratio"),
            portable_round(F.when(F.col("n_tokens") > 0,
                                  F.coalesce("top_tok", F.lit(0)) / F.col("n_tokens"))
                           .otherwise(0.0), 4).alias("top_token_frac"),
            portable_round(F.when(F.col("n_tokens") > 1,
                                  F.coalesce("top_bg", F.lit(0)) / (F.col("n_tokens") - 1))
                           .otherwise(0.0), 4).alias("top_bigram_frac")))


def boilerplate_ngrams(documents: DataFrame, k: int = 3,
                       min_docs: int = 3) -> DataFrame:
    """(ngram, n_docs): word k-grams occurring in ≥ ``min_docs`` DISTINCT
    documents — corpus-level boilerplate (exact-substring dedup at n-gram
    granularity, after Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", public arXiv 2107.06499 §4).

    Scale shape: :func:`~.dedup.shingles` is distinct-per-doc, so one
    explode + one hash-agg (map-side partial count) IS the distinct-doc
    count — no count(distinct), no second shuffle. At 100 TB the flagged
    set is tiny relative to the corpus (it's the tail above ``min_docs``)
    and feeds :func:`boilerplate_stats` as the build side of a shuffle
    join keyed on the n-gram."""
    sh = shingles(F.col("text"), k=k)
    return (
        documents.select(F.explode(sh).alias("ngram"))
        .groupBy("ngram").agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def boilerplate_ngrams_sql(table: str = "documents", k: int = 3,
                           min_docs: int = 3) -> str:
    sh = shingles_sql("text", k=k)
    return f"""
SELECT ngram, count(*) AS n_docs
FROM (SELECT unnest({sh}) AS ngram FROM {table})
GROUP BY ngram HAVING count(*) >= {min_docs}
"""


def boilerplate_stats(documents: DataFrame, k: int = 3,
                      min_docs: int = 3) -> DataFrame:
    """(doc_id, n_ngrams, n_boiler, boiler_ratio): per-document share of
    its distinct k-grams that are corpus-level boilerplate (flagged by
    :func:`boilerplate_ngrams`). Documents dominated by boilerplate are
    the ones a pretraining pipeline drops or trims.

    Scale shape: the corpus is exploded ONCE into (doc_id, ngram) — a
    snapshot of that relation lets the flagged-set
    hash-agg and the per-doc semi-join scan a real table instead of
    re-deriving the explode (without it the plan scans the corpus 3×;
    the DuckDB twin's MATERIALIZED CTE is the same fix). Then a
    left-semi join keyed on the n-gram marks boilerplate occurrences and
    a final per-doc hash-agg recovers the counts. Every join key is the
    n-gram or doc_id — no window over the corpus, no collect. Short docs
    (< k tokens) have 0 ngrams and ratio 0.0."""
    sh = shingles(F.col("text"), k=k)
    from ..materialize import materialize

    exploded = materialize(
        documents.select("doc_id", F.explode(sh).alias("ngram")))
    flagged = (
        exploded.groupBy("ngram").agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs).select("ngram"))
    per_doc = (
        exploded.join(flagged, "ngram", "left_semi")
        .groupBy("doc_id").agg(F.count("*").alias("n_boiler")))
    base = documents.select("doc_id", F.size(sh).cast("long").alias("n_ngrams"))
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id", "n_ngrams",
            F.coalesce("n_boiler", F.lit(0)).cast("long").alias("n_boiler"))
        .withColumn(
            "boiler_ratio",
            portable_round(F.when(F.col("n_ngrams") > 0,
                                  F.col("n_boiler") / F.col("n_ngrams"))
                           .otherwise(0.0), 4))
    )


def boilerplate_stats_sql(table: str = "documents", k: int = 3,
                          min_docs: int = 3) -> str:
    sh = shingles_sql("text", k=k)
    shq = shingles_sql("b.text", k=k)
    return f"""
WITH exploded AS MATERIALIZED (
  SELECT doc_id, unnest({sh}) AS ngram FROM {table}
), flagged AS (
  SELECT ngram FROM exploded GROUP BY ngram HAVING count(*) >= {min_docs}
), per_doc AS (
  SELECT doc_id, count(*) AS n_boiler
  FROM exploded SEMI JOIN flagged USING (ngram)
  GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len({shq}) AS BIGINT) AS n_ngrams,
       CAST(coalesce(p.n_boiler, 0) AS BIGINT) AS n_boiler,
       {portable_round_sql(f"CASE WHEN len({shq}) > 0 "
                           f"THEN CAST(coalesce(p.n_boiler, 0) AS DOUBLE) / len({shq}) "
                           "ELSE 0.0 END", 4)} AS boiler_ratio
FROM {table} b LEFT JOIN per_doc p USING (doc_id)
"""


def sequence_pack_plan(documents: DataFrame, seq_len: int = 128,
                       n_shards: int = 8,
                       tokenizer: str = "whitespace") -> DataFrame:
    """(doc_id, shard, n_tokens, start_tok, first_seq, last_seq): the
    concat-and-chunk packing plan pretraining batch assembly uses — docs
    are concatenated in a deterministic order and cut into fixed
    ``seq_len`` token sequences (documents may straddle a boundary, as in
    GPT-style packing; public description e.g. Brown et al. 2020 §2.1 and
    the T5 "pack" preprocessor).

    Global concatenation would serialize the corpus, so docs are first
    hash-sharded (md5(doc_id) — deterministic, growth-independent
    balance), and the running token offset is a window WITHIN each shard
    ordered by doc_id. At 100 TB the window partitions by shard (pick
    n_shards ≈ cluster parallelism × small constant); no corpus-global
    ordering ever exists. Zero-token docs occupy no space: first_seq =
    last_seq = the sequence their offset falls in.

    ``tokenizer="bpe"`` (round 5) budgets by the GPT-2 pre-tokenizer BPE
    estimate (:func:`~.dedup.bpe_token_estimate`) instead of whitespace
    words — the realistic accounting for pretraining sequence budgets."""
    if tokenizer == "bpe":
        n = bpe_token_estimate(F.col("text"))
    elif tokenizer == "whitespace":
        n = F.size(tokens(F.col("text"))).cast("long")
    else:
        raise ValueError(f"unknown tokenizer {tokenizer!r}; "
                         "expected 'whitespace' or 'bpe'")
    shard = (_md5_i64(F.concat(F.lit("pack"), F.col("doc_id").cast("string")))
             % n_shards).cast("int")
    base = documents.select("doc_id", shard.alias("shard"), n.alias("n_tokens"))
    from pyspark.sql.window import Window

    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    # integer division (DIV / //), not floor(x / y): float floor loses
    # exactness past 2^53 tokens per shard, integer division never does
    return (
        base.withColumn("start_tok", start)
        .select(
            "doc_id", "shard", "n_tokens", "start_tok",
            F.expr(f"start_tok DIV {seq_len}").cast("long").alias("first_seq"),
            (F.expr(f"(start_tok + greatest(n_tokens - 1, 0)) DIV {seq_len}")
             ).cast("long").alias("last_seq"))
    )


def sequence_pack_plan_sql(table: str = "documents", seq_len: int = 128,
                           n_shards: int = 8,
                           tokenizer: str = "whitespace") -> str:
    if tokenizer == "bpe":
        n_sql = bpe_tokens_sql("text")
    elif tokenizer == "whitespace":
        n_sql = f"CAST(len({TOKENS_SQL.format(c='text')}) AS BIGINT)"
    else:
        raise ValueError(f"unknown tokenizer {tokenizer!r}; "
                         "expected 'whitespace' or 'bpe'")
    shard = _md5_i64_sql("'pack' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH base AS (
  SELECT doc_id, CAST({shard} % {n_shards} AS INTEGER) AS shard,
         {n_sql} AS n_tokens
  FROM {table}
), offs AS (
  SELECT *, CAST(coalesce(sum(n_tokens) OVER (
              PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS start_tok
  FROM base
)
SELECT doc_id, shard, n_tokens, start_tok,
       CAST(start_tok // {seq_len} AS BIGINT) AS first_seq,
       CAST((start_tok + greatest(n_tokens - 1, 0)) // {seq_len} AS BIGINT) AS last_seq
FROM offs
"""


def source_mix_weights(documents: DataFrame) -> DataFrame:
    """(source, n_docs, n_tokens, token_share, weight): per-source token
    accounting plus the uniform-target sampling weight (DoReMi-lite static
    reweighting: weight = target_share / actual_share, target = equal
    token budget per source). A mixing job multiplies each source's keep
    rate by ``weight`` to flatten the corpus toward the target mix.

    One corpus scan → per-source hash-agg (map-side partial sums); the
    share/weight normalization windows over the AGGREGATED frame only
    (|sources| rows), so the single-partition window is a no-op at scale."""
    from pyspark.sql.window import Window

    per_src = (
        documents.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(tokens(F.col("text"))).cast("long")).alias("n_tokens")))
    w = Window.partitionBy()
    total = F.sum("n_tokens").over(w)
    n_src = F.count("*").over(w)
    share = F.col("n_tokens") / total
    return (
        per_src
        .withColumn("token_share", portable_round(share, 4))
        .withColumn("weight",
                    portable_round(F.when(F.col("n_tokens") > 0,
                                          (F.lit(1.0) / n_src) / share)
                                   .otherwise(0.0), 4))
        .select("source", "n_docs", "n_tokens", "token_share", "weight"))


def source_mix_weights_sql(table: str = "documents") -> str:
    toks = TOKENS_SQL.format(c="text")
    share = "CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER ()"
    return f"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len({toks})) AS BIGINT) AS n_tokens
  FROM {table} GROUP BY source
)
SELECT source, n_docs, n_tokens,
       {portable_round_sql(share, 4)} AS token_share,
       {portable_round_sql(f"CASE WHEN n_tokens > 0 THEN (1.0 / count(*) OVER ()) / ({share}) ELSE 0.0 END", 4)} AS weight
FROM per_src
"""


def repetition_stats_sql(table: str = "documents") -> str:
    # coalesce: Spark's join-back already makes a NULL-text doc a 0-token
    # doc; without it DuckDB's len(NULL) left n_tokens NULL (and the NULL
    # floated the whole pandas column, mismatching every row's stringify)
    toks = TOKENS_SQL.format(c="coalesce(text, '')")
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, {toks} AS toks FROM {table}
), sized AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)),
                                  i -> array_to_string(list_slice(toks, i, i + 1), ' '))
              ELSE [] END AS bigrams
  FROM base
), tok_top AS (
  SELECT doc_id, max(c) AS top_tok FROM (
    SELECT doc_id, g, count(*) AS c
    FROM (SELECT doc_id, unnest(toks) AS g FROM sized) GROUP BY doc_id, g
  ) GROUP BY doc_id
), bg_top AS (
  SELECT doc_id, max(c) AS top_bg FROM (
    SELECT doc_id, g, count(*) AS c
    FROM (SELECT doc_id, unnest(bigrams) AS g FROM sized) GROUP BY doc_id, g
  ) GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(s.n AS BIGINT) AS n_tokens,
       {portable_round_sql("CASE WHEN s.n > 0 THEN CAST(len(list_distinct(s.toks)) AS DOUBLE) / s.n ELSE 0.0 END", 4)} AS distinct_ratio,
       {portable_round_sql("CASE WHEN s.n > 0 THEN CAST(coalesce(t.top_tok, 0) AS DOUBLE) / s.n ELSE 0.0 END", 4)} AS top_token_frac,
       {portable_round_sql("CASE WHEN s.n > 1 THEN CAST(coalesce(b.top_bg, 0) AS DOUBLE) / (s.n - 1) ELSE 0.0 END", 4)} AS top_bigram_frac
FROM sized s
LEFT JOIN tok_top t USING (doc_id)
LEFT JOIN bg_top b USING (doc_id)
"""


def training_order(documents: DataFrame, n_shards: int = 8,
                   seed: str = "train-v1") -> DataFrame:
    """(doc_id, shard, position): a deterministic global training-order
    shuffle — every document gets a pseudo-random shard and a position
    within it, keyed by md5(seed:doc_id). Varying ``seed`` gives a fresh
    independent permutation per epoch; the result is bit-stable across
    engines, partitionings, and reruns.

    Scale shape: this is the standard "shuffle 100 TB for training" step
    done WITHOUT a corpus-global sort — shard assignment is a pure column
    expression and the position window partitions BY SHARD, so each
    shard's rank is computed where its rows already live after one
    hash-shuffle on a uniform md5 key (no skew by construction). A global
    order, if a consumer wants one, is (shard, position) — readers stream
    shards independently, which is exactly how training jobs consume it."""
    from pyspark.sql.window import Window

    key = F.md5(F.concat_ws(":", F.lit(seed), F.col("doc_id").cast("string")))
    k64 = F.conv(F.substring(key, 1, 15), 16, 10).cast("long")
    w = Window.partitionBy("shard").orderBy("key", "doc_id")
    return (
        documents.select(
            "doc_id", key.alias("key"),
            (k64 % n_shards).cast("long").alias("shard"))
        .withColumn("position", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "position")
    )


def training_order_sql(table: str = "documents", n_shards: int = 8,
                       seed: str = "train-v1") -> str:
    key = f"md5(concat('{seed}', ':', CAST(doc_id AS VARCHAR)))"
    return f"""
WITH k AS (
  SELECT doc_id, {key} AS key,
         CAST(('0x' || substr({key}, 1, 15)) AS BIGINT) % {n_shards} AS shard
  FROM {table}
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id)
            AS BIGINT) AS position
FROM k
"""


# ---------------------------------------------------------------------------
# train/valid/test splits with a near-dup leakage guard
# ---------------------------------------------------------------------------


def split_assign(documents: DataFrame, train_bp: int = 8000,
                 valid_bp: int = 9000) -> DataFrame:
    """(doc_id, split): deterministic train/valid/test assignment —
    md5('spl'||doc_id) % 10000 < train_bp → 'train', < valid_bp → 'valid',
    else 'test' (defaults 80/10/10). Seeded by doc_id like
    :func:`corpus_sample`, so the split is reproducible across engines and
    stable under corpus growth: new documents never move existing ones
    between splits — the property an incrementally-refreshed eval set
    needs.

    Scale shape: a pure column expression, shuffle-free."""
    if not 0 <= train_bp <= valid_bp <= 10_000:
        raise ValueError(
            f"need 0 <= train_bp <= valid_bp <= 10000, "
            f"got train_bp={train_bp}, valid_bp={valid_bp}")
    bucket = _md5_i64(
        F.concat(F.lit("spl"), F.col("doc_id").cast("string"))) % 10_000
    return documents.select(
        "doc_id",
        F.when(bucket < train_bp, "train")
        .when(bucket < valid_bp, "valid")
        .otherwise("test").alias("split"))


def split_assign_sql(table: str = "documents", train_bp: int = 8000,
                     valid_bp: int = 9000) -> str:
    # bucket computed once in the subquery — one md5 per row, not one per
    # CASE branch
    bucket = _md5_i64_sql("'spl' || CAST(doc_id AS VARCHAR)")
    return (
        f"SELECT doc_id, CASE WHEN b < {train_bp} THEN 'train' "
        f"WHEN b < {valid_bp} THEN 'valid' ELSE 'test' END AS split "
        f"FROM (SELECT doc_id, {bucket} % 10000 AS b FROM {table}) t")


def split_leakage(documents: DataFrame, train_bp: int = 8000,
                  valid_bp: int = 9000, num_hashes: int = 32,
                  bands: int = 8, shingle_k: int = 3) -> DataFrame:
    """(doc_a, doc_b, split_a, split_b): near-duplicate pairs that CROSS a
    split boundary — the train→eval contamination an honest benchmark run
    must quarantine (the GPT-3 appendix-C / Dodge et al. 2021 concern at
    the near-dup rather than exact-match level). Candidates come from the
    same banded-MinHash join as :func:`~.dedup.lsh_candidates`; a pair is
    leakage iff its two sides land in different splits, so the consumer
    drops (or flags) the eval-side member of every returned pair.

    Granularity caveat: the guard sees what MinHash sees — documents
    shorter than ``shingle_k`` tokens produce no shingles, hence no
    signature, and are invisible here even as exact cross-split
    duplicates. Compose with :func:`~.dedup.dedup_exact` (or lower
    ``shingle_k``) when short documents matter.

    Scale shape: reuses the banded-signature snapshot the graded
    `lsh_candidates` row materializes (same corpus plan and LSH
    parameters → one signature build per corpus); split
    assignment is a pure column expression joined onto the candidate
    pairs by doc_id — two corpus-sized equi-joins against a 2-column
    projection, never an all-pairs comparison and never a second
    signature pass."""
    pairs = lsh_candidates(documents, num_hashes=num_hashes, bands=bands,
                           shingle_k=shingle_k)
    splits = split_assign(documents, train_bp, valid_bp)
    a = splits.select(F.col("doc_id").alias("doc_a"),
                      F.col("split").alias("split_a"))
    b = splits.select(F.col("doc_id").alias("doc_b"),
                      F.col("split").alias("split_b"))
    return (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "split_a", "split_b")
    )


def split_leakage_sql(table: str = "documents", train_bp: int = 8000,
                      valid_bp: int = 9000, num_hashes: int = 32,
                      bands: int = 8, shingle_k: int = 3) -> str:
    return f"""
WITH docs AS MATERIALIZED (SELECT doc_id, text FROM {table}),
cands AS MATERIALIZED ({lsh_candidates_sql("docs", num_hashes, bands, shingle_k)}),
splits AS ({split_assign_sql("docs", train_bp, valid_bp)})
SELECT c.doc_a, c.doc_b, a.split AS split_a, b.split AS split_b
FROM cands c
JOIN splits a ON c.doc_a = a.doc_id
JOIN splits b ON c.doc_b = b.doc_id
WHERE a.split <> b.split
"""


# ---------------------------------------------------------------------------
# UniMax language-sampling allocation (Chung et al. 2023, public)
# ---------------------------------------------------------------------------


def unimax_weights(documents: DataFrame, epochs: int = 2,
                   budget_num: int = 1, budget_den: int = 2) -> DataFrame:
    """(lang, n_tokens, cap_tokens, alloc_tokens, weight): UniMax's
    budget-capped language-uniform allocation — spread a token budget
    B = total_tokens × budget_num/budget_den as evenly as possible across
    languages, but never give a language more than ``epochs`` passes over
    its own data (cap_tokens = epochs × n_tokens). The paper's greedy
    (languages ascending by capacity, each taking
    min(cap, remaining/langs_left)) IS waterfilling, so the closed form
    is: saturated prefix at cap, everyone else the common water level θ.

    Determinism across engines: every saturation decision is ALL-INTEGER
    (cap·langs_left ≤ budget−cum, 64-bit) — no float compare ever picks
    the prefix; only the final θ and weights are doubles, 6-dp
    portable-rounded. ``weight`` sums to 1 (alloc / B, or alloc / Σcap
    when the budget exceeds every cap).

    Scale shape: one corpus scan → per-language hash-agg (map-side
    partial sums); every window after that runs over the AGGREGATED
    |langs|-row frame only, so the single-partition windows are no-ops at
    scale — the :func:`source_mix_weights` pattern.

    Reference analog: none; driver-brief training-data op (UniMax paper:
    Chung et al., "UniMax: Fairer and More Effective Language Sampling
    for Large-Scale Multilingual Pretraining", ICLR 2023)."""
    from pyspark.sql.window import Window

    if epochs < 1:
        raise ValueError(f"epochs must be >= 1, got {epochs}")
    if budget_num < 0 or budget_den <= 0:
        raise ValueError(
            f"need budget_num >= 0 and budget_den > 0, "
            f"got {budget_num}/{budget_den}")
    caps = (
        documents
        .groupBy(F.coalesce("lang", F.lit("und")).alias("lang"))
        .agg(F.sum(F.coalesce(F.size(tokens(F.col("text"))), F.lit(0))
                   .cast("long")).alias("n_tokens"))
        .withColumn("cap_tokens", (F.col("n_tokens") * epochs).cast("long")))
    w_all = Window.partitionBy()
    w_ord = Window.partitionBy().orderBy("cap_tokens", "lang")
    staged = (
        caps
        .withColumn("k", F.count("*").over(w_all))
        .withColumn("budget", F.expr(
            f"(sum(n_tokens) OVER () * {budget_num}) DIV {budget_den}")
            .cast("long"))
        .withColumn("i", F.row_number().over(w_ord))
        .withColumn("cum", F.sum("cap_tokens").over(w_ord).cast("long"))
        .withColumn("sat", F.expr(
            "cap_tokens * (k - i + 1) <= budget - (cum - cap_tokens)")))
    staged = (
        staged
        # m = length of the saturated PREFIX (first non-sat row bounds it;
        # prefix form is robust even if sat were non-monotone past m)
        .withColumn("m", F.coalesce(
            F.min(F.when(~F.col("sat"), F.col("i"))).over(w_all) - 1,
            F.col("k")))
        .withColumn("cum_m", F.coalesce(
            F.max(F.when(F.col("i") == F.col("m"), F.col("cum"))).over(w_all),
            F.lit(0)).cast("long")))
    theta = ((F.col("budget") - F.col("cum_m"))
             / (F.col("k") - F.col("m")).cast("double"))
    denom = F.when(F.col("m") < F.col("k"), F.col("budget").cast("double")) \
        .otherwise(F.max("cum").over(w_all).cast("double"))  # max cum == Σcap
    alloc = F.when(F.col("i") <= F.col("m"),
                   F.col("cap_tokens").cast("double")).otherwise(theta)
    return (
        staged
        .withColumn("alloc_tokens", portable_round(alloc, 6))
        .withColumn("weight", portable_round(
            F.when(denom > 0, alloc / denom).otherwise(0.0), 6))
        .select("lang", "n_tokens", "cap_tokens", "alloc_tokens", "weight"))


def unimax_weights_sql(table: str = "documents", epochs: int = 2,
                       budget_num: int = 1, budget_den: int = 2) -> str:
    toks = TOKENS_SQL.format(c="text")
    theta = "CAST(budget - cum_m AS DOUBLE) / CAST(k - m AS DOUBLE)"
    alloc = f"CASE WHEN i <= m THEN CAST(cap_tokens AS DOUBLE) ELSE {theta} END"
    denom = ("CASE WHEN m < k THEN CAST(budget AS DOUBLE) "
             "ELSE CAST(total_cap AS DOUBLE) END")
    return f"""
WITH caps AS (
  SELECT coalesce(lang, 'und') AS lang,
         CAST(sum(coalesce(len({toks}), 0)) AS BIGINT) AS n_tokens,
         CAST(sum(coalesce(len({toks}), 0)) * {epochs} AS BIGINT) AS cap_tokens
  FROM {table} GROUP BY coalesce(lang, 'und')
), staged AS (
  SELECT lang, n_tokens, cap_tokens,
         count(*) OVER () AS k,
         (sum(n_tokens) OVER () * {budget_num}) // {budget_den} AS budget,
         row_number() OVER (ORDER BY cap_tokens, lang) AS i,
         sum(cap_tokens) OVER (ORDER BY cap_tokens, lang) AS cum,
         sum(cap_tokens) OVER () AS total_cap
  FROM caps
), marked AS (
  SELECT *, cap_tokens * (k - i + 1) <= budget - (cum - cap_tokens) AS sat
  FROM staged
), bounds AS (
  SELECT *,
         coalesce(min(CASE WHEN NOT sat THEN i END) OVER () - 1, k) AS m
  FROM marked
), final AS (
  SELECT *,
         coalesce(max(CASE WHEN i = m THEN cum END) OVER (), 0) AS cum_m
  FROM bounds
)
SELECT lang, n_tokens, cap_tokens,
       {portable_round_sql(alloc, 6)} AS alloc_tokens,
       {portable_round_sql(f"CASE WHEN {denom} > 0 THEN ({alloc}) / ({denom}) ELSE 0.0 END", 6)} AS weight
FROM final
"""


def weighted_sample(documents: DataFrame, k: int = 100) -> DataFrame:
    """(doc_id, weight, samp_key, rank): derandomized weighted sampling
    without replacement — the top-``k`` documents under the
    Efraimidis-Spirakis A-ES scheme (Efraimidis & Spirakis 2006,
    "Weighted random sampling with a reservoir", public IPL paper):
    draw u_i ~ U(0,1], take the k largest u_i^(1/w_i). Sampling
    proportional to a per-document weight is the standard quality-biased
    subcorpus draw (the DSIR/quality-classifier selection step when a
    fixed-size subcorpus is wanted rather than a threshold).

    Derandomized: u = (md5('ws'||doc_id) + 1) / 2^60 — engine-identical
    by construction (both engines make the same nearest-double conversion
    of the 60-bit integer, then an exact power-of-two division), seeded
    by doc_id so the draw is reproducible and growth-stable (the
    corpus_sample property). Ranking uses ln(u)/w, monotone in u^(1/w) without the
    cross-engine ``pow``; ln's ≤1-ulp libm divergence is absorbed by 9-dp
    portable rounding before AND after the divide (the drift/quality_clf
    convention). Weight = the shared quality composite
    (:func:`~.textstats.quality_expr`, 4 dp); docs with weight ≤ 0 can
    never be sampled and are excluded before ranking.

    Scale shape (10^12 docs): one scan computing (weight, key), then a
    global top-k on the key — TakeOrdered/WindowGroupLimit territory, a
    per-partition heap + k-row final merge, never a global sort of the
    corpus; the rank window runs over the k-row result only.
    """
    from .textstats import quality_expr

    u = ((_md5_i64(F.concat(F.lit("ws"), F.col("doc_id").cast("string")))
          + 1) / F.lit(float(1 << 60)))
    weight = portable_round(quality_expr(F.col("text")), 4)
    key = portable_round(
        portable_round(F.log(u), 9) / F.col("weight"), 9)
    scored = (documents
              .select("doc_id", weight.alias("weight"))
              .filter(F.col("weight") > 0)
              .withColumn("samp_key", key))
    from pyspark.sql.window import Window

    top = scored.orderBy(F.desc("samp_key"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("samp_key"), F.asc("doc_id"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("doc_id", "weight",
                    portable_round(F.col("samp_key"), 6).alias("samp_key"),
                    F.col("rank").cast("int").alias("rank")))


def weighted_sample_sql(table: str = "documents", k: int = 100) -> str:
    """DuckDB twin: same staged quality CASE, same exact-u construction,
    same doubly-rounded ln(u)/w ranking."""
    from .textstats import quality_select_sql

    # CAST the BIGINT sum h+1 (not CAST(h)+1.0): Spark/Python convert h+1
    # to double in one step, and double(h)+1.0 differs by 1 ulp for ~2.5%
    # of ids above 2^53 (review finding, round-5 final session)
    salted = "'ws' || CAST(doc_id AS VARCHAR)"
    u = (f"(CAST(({_md5_i64_sql(salted)}) + 1 AS DOUBLE)) "
         f"/ {float(1 << 60)!r}")
    key = portable_round_sql(
        f"{portable_round_sql(f'ln({u})', 9)} / score", 9)
    return f"""
WITH scored AS (
  {quality_select_sql(table, ['doc_id'], 'text')}
),
keyed AS (
  SELECT doc_id, score AS weight, {key} AS samp_key
  FROM scored WHERE score > 0
),
ranked AS (
  SELECT doc_id, weight, samp_key,
         row_number() OVER (ORDER BY samp_key DESC, doc_id) AS rank
  FROM keyed
)
SELECT doc_id, weight, {portable_round_sql('samp_key', 6)} AS samp_key,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}
"""
