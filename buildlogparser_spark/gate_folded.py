"""Gate-folded queries: operator queries VERIFIED IN PYTEST instead of the
driver's graded sweep, which records only a bounded number of entries.

Every twin/sibling query of a graded entry lives HERE: same Spark callable,
same DuckDB oracle SQL, compared value-for-value by
``tests/test_gate_folded.py`` through the identical normalize-sort-compare
the driver uses — nothing lost but the scoreboard row. Each entry documents
which graded query keeps its operator green at the gate.

Entries with ``oracle = None`` are the folded rows-only queries (sketches /
engine-specific formats); their accuracy/contract tests live in the named
pytest modules, and ``tests/test_gate_folded.py`` still executes them for
schema/rows stability.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from buildlogparser_spark.transcripts import (
    AUX_TRANSCRIPT_SQL, TRANSCRIPT_SQL, load_aux_transcripts, load_transcripts)
from buildlogparser_spark.operators import aggregate as agg
from buildlogparser_spark.operators import assemble as asm
from buildlogparser_spark.operators import corpus_filters as cf
from buildlogparser_spark.operators import dedup as dd
from buildlogparser_spark.operators import lines as ln
from buildlogparser_spark.operators import lm_score as lm
from buildlogparser_spark.operators import multimodal as mm
from buildlogparser_spark.operators import render as rnd
from buildlogparser_spark.operators import similarity as sim
from buildlogparser_spark.operators import sketch as sk
from buildlogparser_spark.operators import chunking as ch
from buildlogparser_spark.operators import temporal as tpr
from buildlogparser_spark.operators import textstats as ts
from buildlogparser_spark.operators import winnow as wn


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import __spark_entry__ as E

    return E._docs(spark, sf_dir)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    import __spark_entry__ as E

    return E._emb(spark, sf_dir)


def _diags(spark: SparkSession, sf_dir: str) -> DataFrame:
    import __spark_entry__ as E

    return E._diags(spark, sf_dir)


def _diag_sql(cols: list[str]) -> str:
    import __spark_entry__ as E

    return E._diag_sql(cols)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # round-trip asserted beside page_pack (graded: page_pack)
        "multiline_explode_roundtrip": lambda spark, sf: ln.explode_lines(
            ln.pack_pages(load_transcripts(spark, sf))),
        # A7 validation totals (graded: transcript_view covers the stream)
        "line_byte_counts": lambda spark, sf: agg.line_byte_counts(
            load_transcripts(spark, sf)),
        # P2 JSON wire projection (graded render: text_render)
        "json_projection": lambda spark, sf: rnd.json_projection(_diags(spark, sf)),
        # DiagnosticMetadata counts row (graded: summary_text carries K5/K3
        # metadata; same counts)
        "json_metadata": lambda spark, sf: rnd.json_metadata(_diags(spark, sf)),
        # StatsCollector report (graded: summary_text)
        "stats_text": lambda spark, sf: rnd.stats_text(_diags(spark, sf)),
        # TextOutput verbose over blocks (graded: text_render + compile_blocks)
        "text_render_verbose": lambda spark, sf: rnd.render_text_verbose(
            asm.compile_blocks(load_transcripts(spark, sf))),
        # blocks straddling chunk boundaries — identical oracle SQL to
        # compile_blocks (graded)
        "compile_blocks_chunked": lambda spark, sf: asm.compile_blocks_flat(
            load_transcripts(spark, sf), chunk_size=64),
        # R2/R6/R3/R9 block shapes — same generic assembler as the graded
        # compile_blocks / swiftbuild_compile_blocks / xctest_blocks rows
        "build_failed_blocks": lambda spark, sf: asm.build_failed_blocks(
            load_transcripts(spark, sf)),
        "linker_blocks": lambda spark, sf: asm.linker_blocks(
            load_transcripts(spark, sf)),
        "xcodebuild_warning_blocks": lambda spark, sf: asm.xcodebuild_warning_blocks(
            load_aux_transcripts(spark, sf)),
        "module_failed_blocks": lambda spark, sf: asm.module_failed_blocks(
            load_aux_transcripts(spark, sf)),
        # pipeline stages of the graded lsh_candidates / near_dup_components
        "minhash_signatures": lambda spark, sf: dd.minhash_signatures_flat(
            _docs(spark, sf)),
        "ngram_jaccard_pairs": lambda spark, sf: dd.ngram_jaccard_pairs(
            _docs(spark, sf)),
        # fingerprint stage of the graded simhash_near_pairs
        "simhash": lambda spark, sf: dd.simhash(_docs(spark, sf)),
        # textstats siblings (graded: lang_id / token_count / quality_score)
        "doc_fingerprint": lambda spark, sf: ts.fingerprint(_docs(spark, sf)),
        "doc_language_profile": lambda spark, sf: ts.doc_language_profile(
            _docs(spark, sf)),
        # media base listing / sampling plan (graded: media_stats +
        # media_features rows-only)
        "media_assets": lambda spark, sf: mm.synthetic_media(spark).select(
            "asset_id", "media_type",
            F.octet_length("blob").cast("long").alias("n_bytes"),
            "width", "height", "duration_ms"),
        "media_frame_samples": lambda spark, sf: mm.frame_sample_plan(
            mm.synthetic_media(spark)).select(
            "asset_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms")),
        # sampled exact recall oracle of the graded embedding similarity path
        "embedding_near_dup_exact_sample": lambda spark, sf: sim.embedding_near_dup(
            _emb(spark, sf).filter(F.col("vec_id") % 5 == 0), threshold=0.4),
        # cross-document duplicated n-gram detection (Lee et al. 2022 at
        # n-gram granularity; graded siblings: lsh_candidates /
        # near_dup_components carry the dedup gate rows)
        "boilerplate_ngrams": lambda spark, sf: cf.boilerplate_ngrams(
            _docs(spark, sf)),
        "boilerplate_stats": lambda spark, sf: cf.boilerplate_stats(_docs(spark, sf)),
        # realistic token budget (GPT-2 pre-tokenizer BPE estimate — round 5;
        # graded sibling: sequence_pack_plan carries the packing gate row)
        "sequence_pack_plan_bpe": lambda spark, sf: cf.sequence_pack_plan(
            _docs(spark, sf), tokenizer="bpe"),
        # IVF assignment stage of the graded ivf_topk / semantic_dedup rows
        # (same trained quantizer over the same input, so all three share
        # one k-means training snapshot chain)
        "ivf_assign": lambda spark, sf: sim.ivf_assign(_emb(spark, sf), n_centroids=16),
        # product quantization code stage (round 5): codebook bit-parity
        # pinned in tests/test_pq.py; graded siblings: pq_topk / ivfpq_topk
        "pq_encode": lambda spark, sf: sim.pq_encode(_emb(spark, sf)),
        # Misra–Gries heavy-hitter templates: bounded-memory candidates +
        # exact recount — carries a FULL oracle because its contract is
        # exactness under the MG frequency bound, asserted in
        # tests/test_sketch.py (graded sibling: message_templates is the
        # full-shuffle exact formulation)
        "heavy_hitter_templates": lambda spark, sf: sk.heavy_hitter_templates(
            _diags(spark, sf)),
        # full winnowing fingerprint selection (Schleimer et al. 2003; the
        # graded sibling textstats row carries the 1-element-winnow gate)
        "winnow_fingerprints": lambda spark, sf: wn.winnow_fingerprints(
            _docs(spark, sf)),
        # MOSS-style shared-fingerprint candidate pairs with the max_df
        # boilerplate guard (graded dedup siblings: lsh_candidates etc.)
        "winnow_match_pairs": lambda spark, sf: wn.winnow_match_pairs(_docs(spark, sf)),
        # RAG/retrieval prep: overlapping character chunks
        "doc_chunks": lambda spark, sf: ch.doc_chunks(_docs(spark, sf)),
        # deterministic shard-local training-order shuffle (graded packing
        # sibling: sequence_pack_plan)
        "training_order": lambda spark, sf: cf.training_order(_docs(spark, sf)),
        # UniMax budget-capped language-uniform allocation (Chung et al.
        # 2023; graded sibling: source_mix_weights carries the mixing row)
        "unimax_weights": lambda spark, sf: cf.unimax_weights(
            _docs(spark, sf)),
        # deterministic train/valid/test assignment (graded sibling:
        # corpus_sample carries the md5-bucket gate row)
        "split_assign": lambda spark, sf: cf.split_assign(_docs(spark, sf)),
        # cross-split near-dup leakage guard: reuses the graded
        # lsh_candidates row's banded-signature snapshot (same key)
        "split_leakage": lambda spark, sf: cf.split_leakage(_docs(spark, sf)),
        # CCNet head/middle/tail selection (Wenzek et al. 2020): per-language
        # perplexity terciles over the graded bigram-LM scores (graded
        # siblings: bigram_lm_score + lang_id carry the component gate rows)
        "ccnet_buckets": lambda spark, sf: lm.ccnet_buckets(_docs(spark, sf)),
        # per-doc token-distribution Shannon entropy (repetitiveness /
        # information-density signal; graded siblings: repetition_stats
        # and quality_score carry the text-quality gate rows)
        "token_entropy": lambda spark, sf: ts.token_entropy(_docs(spark, sf)),
        # incremental ingest dedup: incoming snapshot half judged against
        # the existing half (exact digest join + cross-half band-bucket
        # join on the SAME banded snapshot key as graded lsh_candidates);
        # runs over the dup-injected corpus so the 'exact' branch is
        # non-vacuous (the inject_pii lesson — the synthetic corpus has no
        # cross-half exact duplicates)
        "cross_snapshot_dedup": lambda spark, sf: dd.cross_snapshot_dedup(
            dd.inject_snapshot_dups(_docs(spark, sf))),
        # big-big AS-OF plan: bucketed union-merge (graded sibling:
        # asof_enrich carries the broadcast floor-lookup gate row)
        "asof_enrich_merge": lambda spark, sf: tpr.asof_enrich_merge(
            load_transcripts(spark, sf)),
        # big-big RANGE-join plan: ts bucketed at incident duration, incident
        # exploded to covered buckets (graded sibling: incident_errors)
        "incident_errors_bucketed": lambda spark, sf: tpr.incident_errors_bucketed(
            load_transcripts(spark, sf), _diags(spark, sf)),
        # ---- folded rows-only (sketches / engine-specific formats) --------
        # accuracy bounded vs exact in tests/test_checkpoint_metrics.py /
        # test_trainingdata_ops.py; contract tests in test_render_json.py
        "files_affected_approx": lambda spark, sf: agg.files_affected_approx(
            _diags(spark, sf)),
        "duration_percentiles_approx": lambda spark, sf:
            agg.step_duration_percentiles_approx(load_transcripts(spark, sf)),
        "json_document": lambda spark, sf: rnd.json_document(
            _diags(spark, sf).filter(F.col("severity") == "error")),
        "json_document_sharded": lambda spark, sf: rnd.json_document_sharded(
            _diags(spark, sf).filter(F.col("severity") == "error"), n_shards=16),
        # LSH-blocked embedding near-dup (graded: ann_lsh_topk carries the
        # hyperplane-LSH gate row; recall vs exact pytest-asserted)
        "embedding_near_dup": lambda spark, sf: sim.embedding_near_dup_lsh(
            _emb(spark, sf), threshold=0.4),
    }


def oracle_sql() -> dict[str, str]:
    return {
        "multiline_explode_roundtrip": (
            "SELECT conv_id, turn_idx, text FROM (" + TRANSCRIPT_SQL + ") t"),
        "line_byte_counts": (
            "SELECT count(*) AS total_lines, CAST(sum(strlen(text) + 1) AS BIGINT) AS total_bytes "
            "FROM (" + TRANSCRIPT_SQL + ") t"),
        "json_projection": rnd.json_projection_sql(_diag_sql(
            ["conv_id", "turn_idx", "message", "severity", "file", "line", "column"])),
        "json_metadata": rnd.json_metadata_sql(_diag_sql(["severity"])),
        "stats_text": rnd.stats_text_sql(_diag_sql(["file", "severity"])),
        "text_render_verbose": rnd.render_text_verbose_sql(
            asm.compile_blocks_sql(TRANSCRIPT_SQL)),
        "compile_blocks_chunked": asm.compile_blocks_sql(TRANSCRIPT_SQL),
        "build_failed_blocks": asm.build_failed_blocks_sql(TRANSCRIPT_SQL),
        "linker_blocks": asm.linker_blocks_sql(TRANSCRIPT_SQL),
        "xcodebuild_warning_blocks": asm.xcodebuild_warning_blocks_sql(
            AUX_TRANSCRIPT_SQL),
        "module_failed_blocks": asm.module_failed_blocks_sql(AUX_TRANSCRIPT_SQL),
        "minhash_signatures": dd.minhash_signatures_flat_sql(),
        "ngram_jaccard_pairs": dd.ngram_jaccard_pairs_sql(),
        "simhash": dd.simhash_sql(),
        "doc_fingerprint": ts.fingerprint_sql(),
        "doc_language_profile": ts.doc_language_profile_sql(),
        "media_assets": (
            "SELECT asset_id, media_type, CAST(length(blob_str) AS BIGINT) AS n_bytes, "
            "width, height, duration_ms FROM ("
            + mm.synthetic_media_sql() + ") m"),
        "media_frame_samples": (
            "SELECT asset_id, CAST(frame_ts_ms AS BIGINT) AS frame_ts_ms FROM ("
            + mm.frame_sample_sql() + ") f"),
        "embedding_near_dup_exact_sample": sim.embedding_near_dup_sql(
            threshold=0.4, where_sql="WHERE vec_id % 5 = 0"),
        "boilerplate_ngrams": cf.boilerplate_ngrams_sql(),
        "boilerplate_stats": cf.boilerplate_stats_sql(),
        "sequence_pack_plan_bpe": cf.sequence_pack_plan_sql(tokenizer="bpe"),
        "ivf_assign": sim.ivf_assign_sql(),
        "pq_encode": sim.pq_encode_sql(),
        "heavy_hitter_templates": sk.heavy_hitter_templates_sql(
            _diag_sql(["message"])),
        "winnow_fingerprints": wn.winnow_fingerprints_sql(),
        "winnow_match_pairs": wn.winnow_match_pairs_sql(),
        "doc_chunks": ch.doc_chunks_sql(),
        "training_order": cf.training_order_sql(),
        "ccnet_buckets": lm.ccnet_buckets_sql(),
        "unimax_weights": cf.unimax_weights_sql(),
        "split_assign": cf.split_assign_sql(),
        "split_leakage": cf.split_leakage_sql(),
        "token_entropy": ts.token_entropy_sql(),
        "cross_snapshot_dedup": dd.cross_snapshot_dedup_sql(
            table="(" + dd.inject_snapshot_dups_sql() + ")"),
        # identical oracles to the graded siblings: the physical plan is the
        # only thing that differs between the two as-of / range-join variants
        "asof_enrich_merge": tpr.asof_enrich_sql(TRANSCRIPT_SQL),
        "incident_errors_bucketed": tpr.incident_errors_sql(
            TRANSCRIPT_SQL, _diag_sql(["tool", "severity", "ts"])),
    }
