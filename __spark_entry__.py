"""Driver contract, PySpark target.

``entry(spark)`` runs the flagship parse→classify→enrich→aggregate pipeline
on sf0.001. Every operator query (SURVEY.md §2 and the training-data ops) is
registered once, in :func:`registry`: name → (Spark callable, DuckDB oracle
SQL or ``None``, graded flag). The transcript input is derived
deterministically from the provided ``events`` table (see
buildlogparser_spark/transcripts.py), so both engines compute over
identical data.

* Two tiers. ``queries()``/``oracle_sql()`` are the GRADED tier, at most
  50 entries: the driver records only the first 50 rows of its sweep. Every
  other entry is FOLDED: a twin, pipeline stage or sibling of a graded
  entry whose comment names the graded entry that exercises its operator.
  ``tests/test_spark_duckdb_parity.py`` runs the driver's Spark-vs-DuckDB
  value compare over BOTH tiers, so folding an entry loses only its
  scoreboard row; promoting or folding one is flipping its flag.
* ``sql is None`` marks a rows-only entry: a Python-worker state machine, a
  sketch, hyperplane constants or an engine-specific format. Pytest runs it
  for a non-empty stable schema; its accuracy/contract tests live in the
  operator's own test module.
* Table order is the sweep order: the training-data queries run EARLY,
  right after the classify snapshot exists, and the graded rows-only entry
  runs after every oracled one, so its Python workers cannot pressure the
  co-resident oracle process.
* Every oracle uses MATERIALIZED CTEs for the transcript derivation, the
  regex-cascade rule dispatch and the self-joined LSH/banded intermediates
  (DuckDB inlines plain CTEs per reference).
* The classified-diagnostics intermediate is snapshot-materialized once to
  temp parquet, after which the JVM's caches are dropped and a GC is
  requested (materialize.py) — minimal co-resident footprint while the
  oracle portion of the sweep runs.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from buildlogparser_spark.transcripts import (
    AUX_TRANSCRIPT_SQL, TRANSCRIPT_SQL, load_aux_transcripts, load_transcripts)
from buildlogparser_spark.operators.classify import classified_sql, classify
from buildlogparser_spark.operators import aggregate as agg
from buildlogparser_spark.operators import assemble as asm
from buildlogparser_spark.operators import c4
from buildlogparser_spark.operators import chunking as ch
from buildlogparser_spark.operators import corpus_filters as cf
from buildlogparser_spark.operators import curate as cur
from buildlogparser_spark.operators import dedup as dd
from buildlogparser_spark.operators import drift as drf
from buildlogparser_spark.operators import dsir
from buildlogparser_spark.operators import lines as ln
from buildlogparser_spark.operators import lm_score as lm
from buildlogparser_spark.operators import multimodal as mm
from buildlogparser_spark.operators import quality_clf as qc
from buildlogparser_spark.operators import render as rnd
from buildlogparser_spark.operators import sft
from buildlogparser_spark.operators import sketch as sk
from buildlogparser_spark.operators import spans
from buildlogparser_spark.operators import route as rt
from buildlogparser_spark.operators import similarity as sim
from buildlogparser_spark.operators import temporal as tpr
from buildlogparser_spark.operators import textstats as ts
from buildlogparser_spark.operators import winnow as wn
from buildlogparser_spark.operators.enrich import enrich, enriched_sql
from buildlogparser_spark.rules.table import default_stack

# Diagnostics projection shared by Spark and DuckDB (no ts/related_messages:
# timestamps hash differently across engines and related_messages is always
# [] on the stateless path).
_DIAG_COLS = [
    "conv_id", "turn_idx", "role", "tool", "rule_id", "file", "line", "column",
    "severity", "message", "source", "category", "raw", "build_target", "diag_class",
]


def _diag_sql(cols: list[str]) -> str:
    """Slim classified-diagnostics SELECT: only ``cols`` are computed."""
    return classified_sql(TRANSCRIPT_SQL, cols=cols)


_ANN_QUERY_IDS = [1, 2, 3, 4, 5]


def _diags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classified diagnostics, snapshot-materialized once per sf dir.

    The classify cascade is a >64 KB-codegen expression tree (janino
    fallback); re-deriving it per query both re-pays the regex work and
    churns JVM metaspace across the query sweep. One parquet snapshot
    (the production pattern: classify output IS a materialized table feeding
    every downstream sink) keeps each subsequent query a plain pruned
    parquet scan — and lets the JVM release the codegen/cache footprint
    before the oracle portion of the sweep runs (materialize(trim_jvm=True)).
    """
    from buildlogparser_spark.materialize import materialize

    n = max(spark.sparkContext.defaultParallelism, 8)
    return materialize(classify(load_transcripts(spark, sf_dir)),
                       n_files=n, trim_jvm=True)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: parse → classify → enrich → per-sink aggregate on sf0.001."""
    diags = enrich(_diags(spark, "/root/testdata/sf0.001"))
    return (
        diags.groupBy("diag_class", "severity", "tool_family")
        .agg(F.count("*").alias("n"))
    )


class Entry(NamedTuple):
    """One registered query (see the module docstring for the tiers)."""

    run: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None = rows-only
    graded: bool


GRADED, FOLDED = True, False


def registry() -> dict[str, Entry]:
    """Every query, graded and folded, in sweep order."""
    return {
        # --- input layer + classify core ------------------------------------
        "transcript_view": Entry(
            lambda spark, sf: load_transcripts(spark, sf).select(
                "conv_id", "turn_idx", "role", "text", "tool"),
            "SELECT conv_id, turn_idx, role, text, tool FROM (" + TRANSCRIPT_SQL + ") t",
            GRADED),
        # A7 validation totals (graded: transcript_view covers the stream)
        "line_byte_counts": Entry(
            lambda spark, sf: agg.line_byte_counts(load_transcripts(spark, sf)),
            "SELECT count(*) AS total_lines, CAST(sum(strlen(text) + 1) AS BIGINT) "
            "AS total_bytes FROM (" + TRANSCRIPT_SQL + ") t",
            FOLDED),
        # StringInput/DataInput line-splitting semantics at table scale
        # (BuildLogParser.swift:32-84): pack 16 turns per newline-joined blob
        "page_pack": Entry(
            lambda spark, sf: ln.pack_pages(load_transcripts(spark, sf)),
            ln.pack_pages_sql(TRANSCRIPT_SQL), GRADED),
        # round-trip asserted beside page_pack (graded: page_pack)
        "multiline_explode_roundtrip": Entry(
            lambda spark, sf: ln.explode_lines(ln.pack_pages(load_transcripts(spark, sf))),
            "SELECT conv_id, turn_idx, text FROM (" + TRANSCRIPT_SQL + ") t", FOLDED),
        "classify_diagnostics": Entry(
            lambda spark, sf: _diags(spark, sf).select(*_DIAG_COLS),
            _diag_sql(_DIAG_COLS), GRADED),
        # --- training-data ops (EARLY in the sweep) -------------------------
        # exact-dedup stage of the graded curation_pipeline
        "dedup_exact": Entry(lambda spark, sf: dd.dedup_exact(_docs(spark, sf)),
                             dd.dedup_exact_sql(), FOLDED),
        "lsh_candidates": Entry(lambda spark, sf: dd.lsh_candidates(_docs(spark, sf)),
                                dd.lsh_candidates_sql(), GRADED),
        # pipeline stage of the graded lsh_candidates / near_dup_components
        "minhash_signatures": Entry(
            lambda spark, sf: dd.minhash_signatures_flat(_docs(spark, sf)),
            dd.minhash_signatures_flat_sql(), FOLDED),
        # first-seen LSH dedup verdict, batch twin of the streaming op
        # (graded: lsh_candidates)
        "lsh_dedup_keep": Entry(lambda spark, sf: dd.lsh_dedup_keep(_docs(spark, sf)),
                                dd.lsh_dedup_keep_sql(), FOLDED),
        # incremental ingest dedup: incoming snapshot half judged against the
        # existing half (exact digest join + cross-half band-bucket join on
        # the same banded snapshot as graded lsh_candidates); runs over the
        # dup-injected corpus so the 'exact' branch is non-vacuous (the
        # synthetic corpus has no cross-half exact duplicates)
        "cross_snapshot_dedup": Entry(
            lambda spark, sf: dd.cross_snapshot_dedup(
                dd.inject_snapshot_dups(_docs(spark, sf))),
            dd.cross_snapshot_dedup_sql(table="(" + dd.inject_snapshot_dups_sql() + ")"),
            FOLDED),
        # pairs → dedup groups: transitive closure, survivor = min doc_id,
        # large-star/small-star (O(log n) rounds — the 10^12-doc path)
        "near_dup_components": Entry(
            lambda spark, sf: dd.near_dup_components_star(
                _docs(spark, sf), dd.ngram_jaccard_pairs(_docs(spark, sf))),
            dd.near_dup_components_sql(dd.ngram_jaccard_pairs_sql()), GRADED),
        # pair-verify stage of the graded near_dup_components
        "ngram_jaccard_pairs": Entry(
            lambda spark, sf: dd.ngram_jaccard_pairs(_docs(spark, sf)),
            dd.ngram_jaccard_pairs_sql(), FOLDED),
        # conversation-granular near-dup: whole transcripts as documents
        # (pack → shingle → banded LSH → exact-Jaccard verify) over a
        # deterministic 1-in-3 conversation sample; packed text capped at
        # max_chars in BOTH engines. The sample predicate is the IDENTICAL
        # expression in both engines (substr-to-end + BIGINT). Its pair
        # verify is ngram_jaccard_pairs (graded: near_dup_components)
        "conversation_near_dups": Entry(
            lambda spark, sf: dd.conversation_near_dups(load_transcripts(spark, sf).filter(
                F.expr("CAST(substr(conv_id, 6) AS BIGINT) % 3 = 0"))),
            dd.ngram_jaccard_pairs_sql(
                table=dd.conversation_docs_sql(
                    "SELECT * FROM (" + TRANSCRIPT_SQL + ") tt "
                    "WHERE CAST(substr(conv_id, 6) AS BIGINT) % 3 = 0"),
                threshold=0.2, num_hashes=32, bands=16),
            FOLDED),
        "simhash_near_pairs": Entry(
            lambda spark, sf: dd.simhash_near_pairs(_docs(spark, sf)),
            dd.simhash_near_pairs_sql(), GRADED),
        # fingerprint stage of the graded simhash_near_pairs
        "simhash": Entry(lambda spark, sf: dd.simhash(_docs(spark, sf)),
                         dd.simhash_sql(), FOLDED),
        # end-to-end curation: exact dedup → near-dup survivors → lang /
        # quality / length gates (graded: curation_pipeline runs the same
        # stages)
        "curated_corpus": Entry(lambda spark, sf: cur.curated_corpus(_docs(spark, sf)),
                                cur.curated_corpus_sql(), FOLDED),
        # exact cosine top-k (graded ANN: ivfpq_topk)
        "cosine_topk": Entry(
            lambda spark, sf: sim.cosine_topk(_emb(spark, sf), _ANN_QUERY_IDS, k=5),
            sim.cosine_topk_sql(_ANN_QUERY_IDS, k=5), FOLDED),
        # lang_id / quality_score are curation_pipeline stages; token_count
        # carries the token budgets that sequence_pack_plan and sft_pairs
        # (graded) compute
        "lang_id": Entry(lambda spark, sf: ts.lang_id(_docs(spark, sf)),
                         ts.lang_id_sql(), FOLDED),
        "token_count": Entry(lambda spark, sf: ts.token_count(_docs(spark, sf)),
                             ts.token_count_sql(), FOLDED),
        "quality_score": Entry(lambda spark, sf: ts.quality_score(_docs(spark, sf)),
                               ts.quality_score_sql(), FOLDED),
        # textstats siblings (graded: curation_pipeline)
        "doc_fingerprint": Entry(lambda spark, sf: ts.fingerprint(_docs(spark, sf)),
                                 ts.fingerprint_sql(), FOLDED),
        "doc_language_profile": Entry(
            lambda spark, sf: ts.doc_language_profile(_docs(spark, sf)),
            ts.doc_language_profile_sql(), FOLDED),
        # per-doc token-distribution Shannon entropy (graded text-quality
        # siblings: quality_classifier / bigram_lm_score)
        "token_entropy": Entry(lambda spark, sf: ts.token_entropy(_docs(spark, sf)),
                               ts.token_entropy_sql(), FOLDED),
        "media_stats": Entry(lambda spark, sf: mm.media_stats(mm.synthetic_media(spark)),
                             mm.media_stats_sql(), GRADED),
        # media base listing / sampling plan (graded: media_stats)
        "media_assets": Entry(
            lambda spark, sf: mm.synthetic_media(spark).select(
                "asset_id", "media_type",
                F.octet_length("blob").cast("long").alias("n_bytes"),
                "width", "height", "duration_ms"),
            "SELECT asset_id, media_type, CAST(length(blob_str) AS BIGINT) AS n_bytes, "
            "width, height, duration_ms FROM (" + mm.synthetic_media_sql() + ") m",
            FOLDED),
        "media_frame_samples": Entry(
            lambda spark, sf: mm.frame_sample_plan(mm.synthetic_media(spark)).select(
                "asset_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms")),
            "SELECT asset_id, CAST(frame_ts_ms AS BIGINT) AS frame_ts_ms FROM ("
            + mm.frame_sample_sql() + ") f",
            FOLDED),
        # decode kernels: REAL for image/ppm (pure-numpy P6 parse) and
        # audio/wav (stdlib wave), documented strict-mode stub for codec
        # formats — kernel correctness pytest'd (graded: media_stats)
        "media_features": Entry(
            lambda spark, sf: mm.extract_features(mm.graded_media(spark)).select(
                "asset_id", "media_type", "n_bytes",
                F.concat_ws(",", F.transform("feature", lambda v: v.cast("string")))
                .alias("feature_csv")),
            None, FOLDED),
        # PII scrub over deterministically PII-injected docs (the synthetic
        # table has no PII; a bare run would be vacuous parity)
        "pii_redact": Entry(
            lambda spark, sf: cf.pii_redact(cf.inject_pii(_docs(spark, sf))),
            cf.pii_redact_sql(table="(" + cf.inject_pii_sql() + ") injected"), GRADED),
        # Gopher-style repetition stats (Rae et al. 2021): one scan,
        # tokens+bigrams tagged/exploded together, two hash-aggs (graded:
        # curation_pipeline)
        "repetition_stats": Entry(
            lambda spark, sf: cf.repetition_stats(_docs(spark, sf)),
            cf.repetition_stats_sql(), FOLDED),
        # CCNet-style bigram-LM perplexity quality scoring
        "bigram_lm_score": Entry(lambda spark, sf: lm.bigram_lm_score(_docs(spark, sf)),
                                 lm.bigram_lm_score_sql(), GRADED),
        # CCNet head/middle/tail selection (Wenzek et al. 2020): per-language
        # perplexity terciles (graded: bigram_lm_score)
        "ccnet_buckets": Entry(lambda spark, sf: lm.ccnet_buckets(_docs(spark, sf)),
                               lm.ccnet_buckets_sql(), FOLDED),
        # SemDeDup (Abbas et al. 2023): embedding near-dup within trained
        # IVF clusters only — never corpus-wide pairwise
        "semantic_dedup": Entry(
            lambda spark, sf: sim.semantic_dedup(_emb(spark, sf), threshold=0.4,
                                                 n_centroids=16),
            sim.semantic_dedup_sql(threshold=0.4, n_centroids=16), GRADED),
        # paper-faithful SemDeDup keep policy: one representative per
        # connected ε-neighborhood (graded: semantic_dedup keeps the
        # aggressive disclosed policy)
        "semantic_dedup_representative": Entry(
            lambda spark, sf: sim.semantic_dedup_representative(
                _emb(spark, sf), threshold=0.4, n_centroids=16),
            sim.semantic_dedup_representative_sql(threshold=0.4, n_centroids=16),
            FOLDED),
        # IVF coarse-quantizer ANN, probing nprobe nearest centroid lists
        # (graded: ivfpq_topk)
        "ivf_topk": Entry(
            lambda spark, sf: sim.ivf_topk(_emb(spark, sf), _ANN_QUERY_IDS, k=5,
                                           n_centroids=16),
            sim.ivf_topk_sql(_ANN_QUERY_IDS, k=5, n_centroids=16), FOLDED),
        # IVF assignment stage (same trained quantizer over the same input,
        # one k-means training snapshot chain; graded: semantic_dedup)
        "ivf_assign": Entry(
            lambda spark, sf: sim.ivf_assign(_emb(spark, sf), n_centroids=16),
            sim.ivf_assign_sql(), FOLDED),
        # the capstone composition: every curation stage end-to-end
        # (dedup → near-dup → decontaminate → repetition → quality →
        # sample → redact)
        "curation_pipeline": Entry(
            lambda spark, sf: cur.curation_pipeline(_docs(spark, sf)),
            cur.curation_pipeline_sql(), GRADED),
        # benchmark decontamination (broadcast bench shingles, hash-agg) and
        # deterministic stratified sampling (md5-bucket keep, growth-stable)
        # — both curation_pipeline stages
        "decontaminate": Entry(lambda spark, sf: cf.decontaminate(_docs(spark, sf)),
                               cf.decontaminate_sql(), FOLDED),
        "corpus_sample": Entry(lambda spark, sf: cf.corpus_sample(_docs(spark, sf)),
                               cf.corpus_sample_sql(), FOLDED),
        # deterministic train/valid/test assignment and its cross-split
        # near-dup leakage guard (reuses lsh_candidates' banded snapshot)
        "split_assign": Entry(lambda spark, sf: cf.split_assign(_docs(spark, sf)),
                              cf.split_assign_sql(), FOLDED),
        "split_leakage": Entry(lambda spark, sf: cf.split_leakage(_docs(spark, sf)),
                               cf.split_leakage_sql(), FOLDED),
        # GPT-style concat-and-chunk batch assembly (shard-local offsets)
        "sequence_pack_plan": Entry(
            lambda spark, sf: cf.sequence_pack_plan(_docs(spark, sf)),
            cf.sequence_pack_plan_sql(), GRADED),
        # GPT-2 pre-tokenizer BPE budget and the deterministic shard-local
        # training-order shuffle (graded: sequence_pack_plan)
        "sequence_pack_plan_bpe": Entry(
            lambda spark, sf: cf.sequence_pack_plan(_docs(spark, sf), tokenizer="bpe"),
            cf.sequence_pack_plan_sql(tokenizer="bpe"), FOLDED),
        "training_order": Entry(lambda spark, sf: cf.training_order(_docs(spark, sf)),
                                cf.training_order_sql(), FOLDED),
        # DoReMi-lite uniform-target source reweighting and UniMax
        # budget-capped language-uniform allocation (Chung et al. 2023)
        # (graded mixing row: weighted_sample)
        "source_mix_weights": Entry(
            lambda spark, sf: cf.source_mix_weights(_docs(spark, sf)),
            cf.source_mix_weights_sql(), FOLDED),
        "unimax_weights": Entry(lambda spark, sf: cf.unimax_weights(_docs(spark, sf)),
                                cf.unimax_weights_sql(), FOLDED),
        # product quantization ADC top-k (Jégou et al. 2011): trained
        # per-subspace codebooks, flat codes, asymmetric-distance scoring;
        # code stage bit-parity pinned in tests/test_pq.py (graded: ivfpq_topk)
        "pq_topk": Entry(
            lambda spark, sf: sim.pq_topk(_emb(spark, sf), _ANN_QUERY_IDS, 5),
            sim.pq_topk_sql(_ANN_QUERY_IDS, 5), FOLDED),
        "pq_encode": Entry(lambda spark, sf: sim.pq_encode(_emb(spark, sf)),
                           sim.pq_encode_sql(), FOLDED),
        # IVF-PQ composition (FAISS-style): probe nprobe lists, ADC-score
        # only those candidates — the production web-scale ANN shape
        "ivfpq_topk": Entry(
            lambda spark, sf: sim.ivfpq_topk(_emb(spark, sf), _ANN_QUERY_IDS, 5),
            sim.ivfpq_topk_sql(_ANN_QUERY_IDS, 5), GRADED),
        # chat → instruction-tuning pairs: collapse same-role runs
        # (gaps-and-islands), emit adjacent user→assistant segments with
        # BPE-estimate budgets for downstream packing
        "sft_pairs": Entry(lambda spark, sf: sft.sft_pairs(load_transcripts(spark, sf)),
                           sft.sft_pairs_sql(TRANSCRIPT_SQL), GRADED),
        # tf-idf keyword extraction (smoothed idf; top-3 per doc)
        "tfidf_top_terms": Entry(lambda spark, sf: ts.tfidf_top_terms(_docs(spark, sf)),
                                 ts.tfidf_top_terms_sql(), GRADED),
        # DSIR data selection (Xie et al. 2023): hashed-ngram importance
        # log-weights against the lang='en' target sub-corpus
        "dsir_weights": Entry(lambda spark, sf: dsir.dsir_weights(_docs(spark, sf)),
                              dsir.dsir_weights_sql(), GRADED),
        # C4 heuristic cleaning (Raffel et al. 2020) over deterministically
        # structure-injected docs (the soup has no lines/punctuation)
        "c4_clean": Entry(
            lambda spark, sf: c4.c4_clean(c4.inject_structure(_docs(spark, sf))),
            c4.c4_clean_sql(table="(" + c4.inject_structure_sql() + ")"), GRADED),
        # trained logistic quality classifier (Brown et al. 2020-style):
        # zero-init fixed-iteration GD on hashed features, training
        # replayed as chained CTEs in the oracle (kmeans precedent)
        "quality_classifier": Entry(
            lambda spark, sf: qc.quality_classifier(_docs(spark, sf)),
            qc.quality_classifier_sql(), GRADED),
        # ExactSubstr span-level dedup (Lee et al. 2022 §4.1): positional
        # 5-grams hashed before the dup-count shuffle, corpus-duplicated
        # grams semi-joined back, per-doc spans merged gaps-and-islands
        "dup_span_removal": Entry(
            lambda spark, sf: spans.dup_span_removal(_docs(spark, sf)),
            spans.dup_span_removal_sql(), GRADED),
        # cross-document duplicated n-grams (Lee et al. 2022 at n-gram
        # granularity), winnowing fingerprints (Schleimer et al. 2003) and
        # MOSS-style shared-fingerprint pairs with the max_df boilerplate
        # guard (graded: dup_span_removal / lsh_candidates)
        "boilerplate_ngrams": Entry(
            lambda spark, sf: cf.boilerplate_ngrams(_docs(spark, sf)),
            cf.boilerplate_ngrams_sql(), FOLDED),
        "boilerplate_stats": Entry(
            lambda spark, sf: cf.boilerplate_stats(_docs(spark, sf)),
            cf.boilerplate_stats_sql(), FOLDED),
        "winnow_fingerprints": Entry(
            lambda spark, sf: wn.winnow_fingerprints(_docs(spark, sf)),
            wn.winnow_fingerprints_sql(), FOLDED),
        "winnow_match_pairs": Entry(
            lambda spark, sf: wn.winnow_match_pairs(_docs(spark, sf)),
            wn.winnow_match_pairs_sql(), FOLDED),
        # RAG/retrieval prep: overlapping character chunks
        "doc_chunks": Entry(lambda spark, sf: ch.doc_chunks(_docs(spark, sf)),
                            ch.doc_chunks_sql(), FOLDED),
        # stuck-agent / retry-storm detection: maximal runs of identical
        # (role, tool, md5(text)) turns — over deterministically
        # loop-injected transcripts (the synthetic corpus rotates roles
        # per turn; a bare run is vacuous parity)
        "tool_call_loops": Entry(
            lambda spark, sf: agg.tool_call_loops(agg.inject_loops(load_transcripts(spark, sf))),
            agg.tool_call_loops_sql(agg.inject_loops_sql(TRANSCRIPT_SQL)), GRADED),
        # SFT context assembly: previous-4-turn dialogue history rendered
        # per assistant turn (graded: sft_pairs)
        "context_windows": Entry(
            lambda spark, sf: sft.context_windows(load_transcripts(spark, sf)),
            sft.context_windows_sql(TRANSCRIPT_SQL), FOLDED),
        # DPO-style preference pairs: repeated prompts' responses deduped,
        # quality-ranked, best-vs-worst paired
        "preference_pairs": Entry(
            lambda spark, sf: sft.preference_pairs(load_transcripts(spark, sf)),
            sft.preference_pairs_sql(TRANSCRIPT_SQL), GRADED),
        # embedding-level benchmark decontamination: max cosine of every
        # corpus vector against the broadcast benchmark set (map-only)
        "semantic_decontaminate": Entry(
            lambda spark, sf: sim.semantic_decontaminate(_emb(spark, sf)),
            sim.semantic_decontaminate_sql(), GRADED),
        # snapshot drift: per-(dim, bin) PSI between the two md5 halves of
        # the corpus, deterministic bin-ordered fold for the total
        "corpus_drift": Entry(lambda spark, sf: drf.corpus_drift(_docs(spark, sf)),
                              drf.corpus_drift_sql(), GRADED),
        # derandomized Efraimidis-Spirakis weighted sampling: top-k by
        # ln(u)/w over quality weights (global top-k, never a full sort)
        "weighted_sample": Entry(
            lambda spark, sf: cf.weighted_sample(_docs(spark, sf), k=50),
            cf.weighted_sample_sql(k=50), GRADED),
        # --- reference aggregates -------------------------------------------
        "severity_counts": Entry(
            lambda spark, sf: agg.severity_counts(_diags(spark, sf)),
            f"""
            SELECT count(*) AS total_count,
                   CAST(coalesce(sum(CASE WHEN severity='error' THEN 1 ELSE 0 END), 0) AS BIGINT) AS error_count,
                   CAST(coalesce(sum(CASE WHEN severity='warning' THEN 1 ELSE 0 END), 0) AS BIGINT) AS warning_count,
                   CAST(coalesce(sum(CASE WHEN severity='info' THEN 1 ELSE 0 END), 0) AS BIGINT) AS info_count,
                   CAST(coalesce(sum(CASE WHEN severity='note' THEN 1 ELSE 0 END), 0) AS BIGINT) AS note_count
            FROM ({_diag_sql(["severity"])}) dg""",
            GRADED),
        "category_counts": Entry(
            lambda spark, sf: agg.category_counts(_diags(spark, sf)),
            f"SELECT category, count(*) AS n FROM ({_diag_sql(['category'])}) dg "
            "GROUP BY category",
            GRADED),
        "errors_only": Entry(
            lambda spark, sf: _diags(spark, sf).filter(F.col("severity") == "error")
            .select("conv_id", "turn_idx", "message", "severity", "file", "line", "column"),
            f"""
            SELECT conv_id, turn_idx, message, severity, file, line, "column"
            FROM ({_diag_sql(["conv_id", "turn_idx", "message", "severity",
                              "file", "line", "column"])}) dg
            WHERE severity = 'error'""",
            GRADED),
        "errors_per_tool": Entry(
            lambda spark, sf: agg.errors_per_tool(_diags(spark, sf)),
            f"""
            SELECT tool, count(*) AS n_errors
            FROM ({_diag_sql(["tool", "severity"])}) dg
            WHERE severity = 'error' GROUP BY tool""",
            GRADED),
        "warnings_per_conversation": Entry(
            lambda spark, sf: agg.warnings_per_conversation(_diags(spark, sf)),
            f"""
            SELECT conv_id, count(*) AS n_warnings
            FROM ({_diag_sql(["conv_id", "severity"])}) dg
            WHERE severity = 'warning' GROUP BY conv_id""",
            GRADED),
        "per_file_counts": Entry(
            lambda spark, sf: agg.per_file_counts(_diags(spark, sf)),
            f"""
            SELECT coalesce(file, 'Unknown') AS file, count(*) AS n,
                   CAST(sum(CASE WHEN severity='error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
                   CAST(sum(CASE WHEN severity='warning' THEN 1 ELSE 0 END) AS BIGINT) AS n_warnings
            FROM ({_diag_sql(["file", "severity"])}) dg GROUP BY 1""",
            GRADED),
        "top_files": Entry(
            lambda spark, sf: agg.top_files(_diags(spark, sf)),
            f"""
            SELECT coalesce(file, 'Unknown') AS file, count(*) AS n
            FROM ({_diag_sql(["file"])}) dg GROUP BY 1
            ORDER BY n DESC, file ASC LIMIT 5""",
            GRADED),
        "severity_pct": Entry(
            lambda spark, sf: agg.severity_pct(_diags(spark, sf)),
            f"""
            SELECT severity, n,
                   floor((n * 100.0 / sum(n) OVER ()) * 100 + 0.5) / 100 AS pct
            FROM (SELECT severity, count(*) AS n
                  FROM ({_diag_sql(["severity"])}) dg GROUP BY severity) c""",
            GRADED),
        "files_affected": Entry(
            lambda spark, sf: agg.files_affected(_diags(spark, sf)),
            f"""
            SELECT count(DISTINCT coalesce(file, 'Unknown')) AS files_affected
            FROM ({_diag_sql(["file"])}) dg""",
            GRADED),
        # sketch sibling; accuracy bounded vs exact in
        # tests/test_checkpoint_metrics.py (graded: files_affected)
        "files_affected_approx": Entry(
            lambda spark, sf: agg.files_affected_approx(_diags(spark, sf)), None, FOLDED),
        "duration_histogram": Entry(
            lambda spark, sf: agg.duration_histogram(load_transcripts(spark, sf)),
            """
            SELECT CAST(floor(log2(step_duration_us)) AS BIGINT) AS bucket, count(*) AS n
            FROM (
              SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER
                     (PARTITION BY conv_id ORDER BY turn_idx) AS step_duration_us
              FROM (""" + TRANSCRIPT_SQL + """) t
            ) dd WHERE step_duration_us > 0 GROUP BY 1""",
            GRADED),
        # per-tool latency roll-up (exact interpolated percentiles)
        "duration_percentiles": Entry(
            lambda spark, sf: agg.step_duration_percentiles(load_transcripts(spark, sf)),
            agg.step_duration_percentiles_sql(TRANSCRIPT_SQL), GRADED),
        # the 10^12-scale sketch variant, accuracy bounded vs exact in
        # tests/test_trainingdata_ops.py (graded: duration_percentiles)
        "duration_percentiles_approx": Entry(
            lambda spark, sf: agg.step_duration_percentiles_approx(
                load_transcripts(spark, sf)),
            None, FOLDED),
        # log-analytics roll-ups: template mining (digit-masked messages),
        # per-tool hourly burst flags, time-to-first-error per conversation
        "message_templates": Entry(
            lambda spark, sf: agg.message_templates(_diags(spark, sf)),
            agg.message_templates_sql(_diag_sql(["conv_id", "message", "severity"])),
            GRADED),
        # Misra–Gries heavy-hitter templates: bounded-memory candidates +
        # exact recount; exact under the MG frequency bound, asserted in
        # tests/test_sketch.py (graded: message_templates, the full-shuffle
        # exact formulation)
        "heavy_hitter_templates": Entry(
            lambda spark, sf: sk.heavy_hitter_templates(_diags(spark, sf)),
            sk.heavy_hitter_templates_sql(_diag_sql(["message"])), FOLDED),
        "error_burst_windows": Entry(
            lambda spark, sf: agg.error_burst_windows(_diags(spark, sf)),
            agg.error_burst_windows_sql(_diag_sql(["tool", "severity", "ts"])), GRADED),
        "time_to_first_error": Entry(
            lambda spark, sf: agg.time_to_first_error(load_transcripts(spark, sf),
                                                      _diags(spark, sf)),
            agg.time_to_first_error_sql(TRANSCRIPT_SQL,
                                        _diag_sql(["conv_id", "severity", "ts"])),
            GRADED),
        # gap-based sessionization (classic telemetry session window)
        "session_stats": Entry(
            lambda spark, sf: agg.session_stats(load_transcripts(spark, sf), gap_minutes=1440),
            agg.session_stats_sql(TRANSCRIPT_SQL, gap_minutes=1440), GRADED),
        "enriched_class_counts": Entry(
            lambda spark, sf: enrich(_diags(spark, sf))
            .groupBy("diag_class", "tool_family", "default_severity")
            .agg(F.count("*").alias("n")),
            "SELECT diag_class, tool_family, default_severity, count(*) AS n FROM ("
            + enriched_sql(_diag_sql(["role", "tool", "diag_class"]))
            + ") e GROUP BY diag_class, tool_family, default_severity",
            GRADED),
        # AS-OF join: time-VERSIONED registry enrich — broadcast floor-lookup
        # plan (sorted struct array + filter/try_element_at, fact side never
        # shuffled)
        "asof_enrich": Entry(
            lambda spark, sf: tpr.asof_enrich(load_transcripts(spark, sf)),
            tpr.asof_enrich_sql(TRANSCRIPT_SQL), GRADED),
        # big-big plan: bucketed union-merge. Identical oracle — the physical
        # plan is the only difference (graded: asof_enrich)
        "asof_enrich_merge": Entry(
            lambda spark, sf: tpr.asof_enrich_merge(load_transcripts(spark, sf)),
            tpr.asof_enrich_sql(TRANSCRIPT_SQL), FOLDED),
        # RANGE join: incident-window error attribution — broadcast equi-join
        # on tool with the range as post-filter
        "incident_errors": Entry(
            lambda spark, sf: tpr.incident_errors(load_transcripts(spark, sf),
                                                  _diags(spark, sf)),
            tpr.incident_errors_sql(TRANSCRIPT_SQL, _diag_sql(["tool", "severity", "ts"])),
            GRADED),
        # --- renders ----------------------------------------------------------
        "text_render": Entry(
            lambda spark, sf: rnd.render_text(_diags(spark, sf)),
            rnd.render_text_sql(_diag_sql(
                ["conv_id", "turn_idx", "file", "line", "severity", "message"])),
            GRADED),
        # TextOutput verbose over blocks (graded: text_render + compile_blocks)
        "text_render_verbose": Entry(
            lambda spark, sf: rnd.render_text_verbose(
                asm.compile_blocks(load_transcripts(spark, sf))),
            rnd.render_text_verbose_sql(asm.compile_blocks_sql(TRANSCRIPT_SQL)), FOLDED),
        # P2 JSON wire projection and the DiagnosticMetadata counts row
        # (graded: text_render / summary_text carry the same rows and counts)
        "json_projection": Entry(
            lambda spark, sf: rnd.json_projection(_diags(spark, sf)),
            rnd.json_projection_sql(_diag_sql(
                ["conv_id", "turn_idx", "message", "severity", "file", "line", "column"])),
            FOLDED),
        "json_metadata": Entry(
            lambda spark, sf: rnd.json_metadata(_diags(spark, sf)),
            rnd.json_metadata_sql(_diag_sql(["severity"])), FOLDED),
        # engine-specific JSON documents; contract tests in
        # tests/test_render_json.py
        "json_document": Entry(
            lambda spark, sf: rnd.json_document(
                _diags(spark, sf).filter(F.col("severity") == "error")),
            None, FOLDED),
        "json_document_sharded": Entry(
            lambda spark, sf: rnd.json_document_sharded(
                _diags(spark, sf).filter(F.col("severity") == "error"), n_shards=16),
            None, FOLDED),
        # SummaryOutput's full verbose report as one aggregate-built string
        # (OutputFormatters.swift:295-361)
        "summary_text": Entry(
            lambda spark, sf: rnd.summary_text(_diags(spark, sf), verbose=True),
            rnd.summary_text_sql(_diag_sql(["file", "severity"]), verbose=True), GRADED),
        # StatsCollector report (graded: summary_text)
        "stats_text": Entry(
            lambda spark, sf: rnd.stats_text(_diags(spark, sf)),
            rnd.stats_text_sql(_diag_sql(["file", "severity"])), FOLDED),
        # --- stateful / multi-line assembly (SURVEY.md §2.2) ----------------
        # R1 compile blocks, R8 gutter blocks over the aux stream and R7
        # XCTest failure blocks with the state-dependent start closed form
        # are graded; the R1 small-chunk twin and R2/R3/R6/R9 are folded.
        # All seven share one assembler.
        "compile_blocks": Entry(
            lambda spark, sf: asm.compile_blocks_flat(load_transcripts(spark, sf)),
            asm.compile_blocks_sql(TRANSCRIPT_SQL), GRADED),
        # blocks straddling chunk boundaries — identical oracle SQL
        "compile_blocks_chunked": Entry(
            lambda spark, sf: asm.compile_blocks_flat(load_transcripts(spark, sf),
                                                      chunk_size=64),
            asm.compile_blocks_sql(TRANSCRIPT_SQL), FOLDED),
        "build_failed_blocks": Entry(
            lambda spark, sf: asm.build_failed_blocks(load_transcripts(spark, sf)),
            asm.build_failed_blocks_sql(TRANSCRIPT_SQL), FOLDED),
        "linker_blocks": Entry(
            lambda spark, sf: asm.linker_blocks(load_transcripts(spark, sf)),
            asm.linker_blocks_sql(TRANSCRIPT_SQL), FOLDED),
        "swiftbuild_compile_blocks": Entry(
            lambda spark, sf: asm.swiftbuild_compile_blocks(load_aux_transcripts(spark, sf)),
            asm.swiftbuild_compile_blocks_sql(AUX_TRANSCRIPT_SQL), GRADED),
        "xcodebuild_warning_blocks": Entry(
            lambda spark, sf: asm.xcodebuild_warning_blocks(load_aux_transcripts(spark, sf)),
            asm.xcodebuild_warning_blocks_sql(AUX_TRANSCRIPT_SQL), FOLDED),
        "module_failed_blocks": Entry(
            lambda spark, sf: asm.module_failed_blocks(load_aux_transcripts(spark, sf)),
            asm.module_failed_blocks_sql(AUX_TRANSCRIPT_SQL), FOLDED),
        "xctest_blocks": Entry(
            lambda spark, sf: asm.xctest_blocks(load_transcripts(spark, sf)),
            asm.xctest_blocks_sql(TRANSCRIPT_SQL), GRADED),
        # --- routing (fan-out sink layout) ------------------------------------
        "routed_partitions": Entry(
            lambda spark, sf: rt.with_sink_partitions(_diags(spark, sf), n_salt=16).select(
                "conv_id", "turn_idx", "severity", "diag_class", "ts_bucket", "conv_bucket"),
            "SELECT conv_id, turn_idx, severity, diag_class, ts_bucket, conv_bucket FROM ("
            + rt.sink_partitions_sql(
                _diag_sql(["conv_id", "turn_idx", "ts", "severity", "diag_class"]),
                n_salt=16)
            + ") p",
            GRADED),
        "dead_letter_split": Entry(
            lambda spark, sf: load_transcripts(spark, sf).agg(
                F.sum(F.when(F.col("text").isNotNull(), 1).otherwise(0)).alias("n_good"),
                F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("n_dead")),
            "SELECT CAST(sum(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_good, "
            "CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dead "
            "FROM (" + TRANSCRIPT_SQL + ") t",
            GRADED),
        # --- embedding similarity (Python-side constants) --------------------
        # approximate path: the candidate set depends on Python-side
        # hyperplane constants; recall vs cosine_topk asserted in pytest
        # (graded ANN: ivfpq_topk)
        "ann_lsh_topk": Entry(
            lambda spark, sf: sim.lsh_topk(_emb(spark, sf), _ANN_QUERY_IDS, k=5,
                                           n_planes=4, n_tables=16),
            None, FOLDED),
        # LSH-blocked embedding near-dup, recall vs exact pytest-asserted,
        # and the sampled exact all-pairs recall oracle
        # (graded: semantic_dedup)
        "embedding_near_dup": Entry(
            lambda spark, sf: sim.embedding_near_dup_lsh(_emb(spark, sf), threshold=0.4),
            None, FOLDED),
        "embedding_near_dup_exact_sample": Entry(
            lambda spark, sf: sim.embedding_near_dup(
                _emb(spark, sf).filter(F.col("vec_id") % 5 == 0), threshold=0.4),
            sim.embedding_near_dup_sql(threshold=0.4, where_sql="WHERE vec_id % 5 = 0"),
            FOLDED),
        # ==================================================================
        # graded rows-only, LAST: exact consumeLine semantics via
        # applyInPandas — genuinely non-SQL-expressible (arbitrary rule-stack
        # state machine). Pytest proves it equal to the oracle parser, to the
        # unchunked parse_stateful, and to compile_blocks on single-rule
        # stacks. The graded path is the size-routed AUTO variant:
        # conversations that fit one chunk take the plain one-task path,
        # oversized ones the chunked speculative-run + boundary-repair path
        # (4.1x on the 2M-turn skew bench), so a hot conversation
        # parallelizes without taxing the balanced case.
        # ==================================================================
        "parse_stateful": Entry(
            lambda spark, sf: asm.parse_stateful_auto_flat(load_transcripts(spark, sf),
                                                           default_stack),
            None, GRADED),
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The graded tier, in sweep order."""
    return {name: e.run for name, e in registry().items() if e.graded}


def oracle_sql() -> dict[str, str]:
    """DuckDB twins of the graded tier (rows-only entries have none)."""
    return {name: e.sql for name, e in registry().items()
            if e.graded and e.sql is not None}
