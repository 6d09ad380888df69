"""End-to-end training-corpus curation — the composition the individual
training-data operators exist for: exact dedup → near-dup survivor
selection (connected components over LSH-verified Jaccard pairs) →
language gate → quality gate → token-length gate.

Scale shape (10^12 docs): every stage is a hash-aggregate or a
bucket-equality join — exact dedup groups on a 16-byte digest, near-dup
candidates come banded (never all-pairs), components converge in
~diameter rounds of join+min, and the text-stat gates are per-row column
expressions. Nothing in the chain collects or broadcasts the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..materialize import materialize
from .corpus_filters import corpus_sample, decontaminate, pii_redact, repetition_stats
from .dedup import dedup_exact, near_dup_components_star, ngram_jaccard_pairs
from .textstats import lang_id, quality_score


def curated_corpus(documents: DataFrame, lang: str = "en",
                   min_quality: float = 0.35, min_tokens: int = 5,
                   jaccard_threshold: float = 0.5) -> DataFrame:
    """(doc_id, lang_pred, quality, n_tokens) of the curated document set.

    Survivor selection: exact-dup groups keep min(doc_id); near-dup
    components (over the exact-deduped set) keep their min-id
    representative — so curation is deterministic and idempotent.
    """
    survivors = dedup_exact(documents).select(
        F.col("keep_doc_id").alias("doc_id"))
    # snapshot the deduped set: four downstream stages reference it (pairs,
    # components, lang, quality) and an un-materialized lineage re-runs the
    # exact-dedup hash-agg per reference — the Spark analog of the SQL
    # twin's `docs_d AS MATERIALIZED`
    docs = materialize(documents.join(survivors, "doc_id"))
    pairs = ngram_jaccard_pairs(docs, threshold=jaccard_threshold)
    # star formulation: O(log n) rounds, so a long dup chain converges
    # well inside the round budget instead of aborting the curation query
    comp = near_dup_components_star(docs, pairs)
    keep = comp.filter(F.col("doc_id") == F.col("component_id")).select("doc_id")
    kept = docs.join(keep, "doc_id")
    l = lang_id(kept).select("doc_id", "lang_pred")
    q = quality_score(kept).select("doc_id", "quality", "n_tokens")
    return (
        kept.select("doc_id").join(l, "doc_id").join(q, "doc_id")
        .filter((F.col("lang_pred") == lang)
                & (F.col("quality") >= min_quality)
                & (F.col("n_tokens") >= min_tokens))
        .select("doc_id", "lang_pred", "quality", "n_tokens")
    )


def curation_pipeline(documents: DataFrame, min_quality: float = 0.35,
                      min_tokens: int = 5, jaccard_threshold: float = 0.5,
                      min_distinct_ratio: float = 0.3,
                      max_top_bigram_frac: float = 0.5) -> DataFrame:
    """The FULL training-data pipeline, composed end-to-end:
    exact dedup → near-dup survivor selection → benchmark decontamination
    → repetition gates (Gopher-style) → quality/length gates → per-language
    stratified sampling → PII redaction. Returns
    (doc_id, lang, lang_pred, quality, n_tokens, redacted_text) — the rows
    a tokenizer would consume.

    Unlike :func:`curated_corpus` (the single-language extraction query)
    this keeps every language and lets the sampling stage set the mixture.
    Scale shape: the same hash-agg / bucket-join stages as its parts —
    every gate joins on doc_id after a per-row or hash-agg computation;
    the one broadcast is the benchmark shingle set (small by nature)."""
    survivors = dedup_exact(documents).select(
        F.col("keep_doc_id").alias("doc_id"))
    # stage snapshots mirror the SQL twin's MATERIALIZED CTEs: without them
    # the composed lineage re-derives exact dedup and decontamination once
    # per downstream reference (explain showed 210 re-scans of the corpus)
    docs = materialize(documents.join(survivors, "doc_id"))
    pairs = ngram_jaccard_pairs(docs, threshold=jaccard_threshold)
    comp = near_dup_components_star(docs, pairs)
    keep = comp.filter(F.col("doc_id") == F.col("component_id")).select("doc_id")
    kept = materialize(docs.join(keep, "doc_id"))
    clean = materialize(kept.join(
        decontaminate(kept).filter(~F.col("contaminated")).select("doc_id"),
        "doc_id"))
    rep_ok = repetition_stats(clean).filter(
        (F.col("distinct_ratio") >= min_distinct_ratio)
        & (F.col("top_bigram_frac") <= max_top_bigram_frac)).select("doc_id")
    q = quality_score(clean).select("doc_id", "quality", "n_tokens")
    l = lang_id(clean).select("doc_id", "lang_pred")
    gated = materialize(
        clean.join(rep_ok, "doc_id").join(q, "doc_id").join(l, "doc_id")
        .filter((F.col("quality") >= min_quality)
                & (F.col("n_tokens") >= min_tokens)))
    sampled = corpus_sample(gated.select("doc_id", "lang", "source")).select("doc_id")
    final = gated.join(sampled, "doc_id")
    return (
        final.join(pii_redact(final.select("doc_id", "text")), "doc_id")
        .select("doc_id", "lang", "lang_pred", "quality", "n_tokens",
                "redacted_text"))


def curated_corpus_sql(lang: str = "en", min_quality: float = 0.35,
                       min_tokens: int = 5, jaccard_threshold: float = 0.5,
                       table: str = "documents") -> str:
    from .dedup import (
        dedup_exact_sql, near_dup_components_sql, ngram_jaccard_pairs_sql)
    from .textstats import lang_id_sql, quality_score_sql

    pairs = ngram_jaccard_pairs_sql("docs_d", threshold=jaccard_threshold)
    # MATERIALIZED: docs_d feeds the pairs CTE (3 references), components,
    # lang and quality gates — inline it and DuckDB re-derives the
    # exact-dedup semi-join per reference (see classify.classified_sql)
    return f"""
WITH docs_d AS MATERIALIZED (
  SELECT d.* FROM {table} d
  JOIN (SELECT keep_doc_id AS doc_id FROM ({dedup_exact_sql(table)}) e) s
    USING (doc_id)
),
comp AS ({near_dup_components_sql(pairs, "docs_d")}),
keep AS (SELECT doc_id FROM comp WHERE doc_id = component_id),
l AS ({lang_id_sql("docs_d")}),
q AS ({quality_score_sql("docs_d")})
SELECT k.doc_id, l.lang_pred, q.quality, q.n_tokens
FROM keep k JOIN l USING (doc_id) JOIN q USING (doc_id)
WHERE l.lang_pred = '{lang}' AND q.quality >= {min_quality}
  AND q.n_tokens >= {min_tokens}
"""


def curation_pipeline_sql(min_quality: float = 0.35, min_tokens: int = 5,
                          jaccard_threshold: float = 0.5,
                          min_distinct_ratio: float = 0.3,
                          max_top_bigram_frac: float = 0.5,
                          table: str = "documents") -> str:
    from .corpus_filters import (
        corpus_sample_sql, decontaminate_sql, pii_redact_sql,
        repetition_stats_sql)
    from .dedup import (
        dedup_exact_sql, near_dup_components_sql, ngram_jaccard_pairs_sql)
    from .textstats import lang_id_sql, quality_score_sql

    pairs = ngram_jaccard_pairs_sql("docs_d", threshold=jaccard_threshold)
    return f"""
WITH docs_d AS MATERIALIZED (
  SELECT d.* FROM {table} d
  JOIN (SELECT keep_doc_id AS doc_id FROM ({dedup_exact_sql(table)}) e) s
    USING (doc_id)
),
comp AS ({near_dup_components_sql(pairs, "docs_d")}),
keep AS (SELECT doc_id FROM comp WHERE doc_id = component_id),
kept AS MATERIALIZED (SELECT d.* FROM docs_d d JOIN keep USING (doc_id)),
deco AS ({decontaminate_sql("kept")}),
clean AS MATERIALIZED (
  SELECT k.* FROM kept k JOIN deco USING (doc_id) WHERE NOT deco.contaminated
),
rep AS ({repetition_stats_sql("clean")}),
q AS ({quality_score_sql("clean")}),
l AS ({lang_id_sql("clean")}),
gated AS MATERIALIZED (
  SELECT c.doc_id, c.lang, c.source, c.text,
         l.lang_pred, q.quality, q.n_tokens
  FROM clean c
  JOIN rep USING (doc_id) JOIN q USING (doc_id) JOIN l USING (doc_id)
  WHERE rep.distinct_ratio >= {min_distinct_ratio}
    AND rep.top_bigram_frac <= {max_top_bigram_frac}
    AND q.quality >= {min_quality} AND q.n_tokens >= {min_tokens}
),
samp AS ({corpus_sample_sql("gated")}),
red AS ({pii_redact_sql("gated")})
SELECT g.doc_id, g.lang, g.lang_pred, g.quality, g.n_tokens,
       red.redacted_text
FROM gated g JOIN samp USING (doc_id) JOIN red USING (doc_id)
"""
