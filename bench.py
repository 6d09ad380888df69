"""Benchmark harness (driver contract — prints ONE JSON line).

Measures the headline parse→enrich→route→aggregate pipeline plus the
operator library over the ``$SPARK_GRAFT_SF_DIR`` tables (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]``.

Protocol:
  * setup (untimed): derive the transcript table from ``events.parquet`` and
    materialize it as parquet in a temp dir — the local stand-in for the
    production Iceberg transcript table (BASELINE.json input_hint). File
    count = 4× cores so every parallelism level has splittable input.
  * one untimed warmup action absorbs JVM/codegen warmup.
  * each query timed once, wall-clock, action = collect/count/write.
  * headline metric: end-to-end seconds for the flagship pipeline chain;
    ``turns_per_sec`` reported alongside (turns / flagship seconds).

Scaling-evidence runs (BENCH/BASELINE.md): scripts/scaling_bench.py invokes
this file at two parallelism levels with SPARK_GRAFT_BENCH_TURNS set to a
fixed synthetic row count so both runs see identical input.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from buildlogparser_spark.session import get_spark  # noqa: E402
from buildlogparser_spark.datagen import gen_events_spark  # noqa: E402
from buildlogparser_spark.transcripts import derive_transcripts  # noqa: E402
from buildlogparser_spark.operators.classify import classify  # noqa: E402
from buildlogparser_spark.operators import aggregate as agg  # noqa: E402
from buildlogparser_spark.operators.assemble import (  # noqa: E402
    compile_blocks, parse_stateful, parse_stateful_auto, parse_stateful_chunked,
    swiftbuild_compile_blocks, xctest_blocks)
from buildlogparser_spark.operators.enrich import enrich  # noqa: E402
from buildlogparser_spark.operators.route import route_writes  # noqa: E402
from buildlogparser_spark.operators import (  # noqa: E402
    c4, corpus_filters, curate, dedup, drift, dsir, quality_clf, sft,
    similarity, spans, temporal, textstats)
from buildlogparser_spark.rules.table import default_stack  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    bench_turns = int(os.environ.get("SPARK_GRAFT_BENCH_TURNS", "0"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = get_spark("blp-bench", cores=cores, shuffle_partitions=cores)
    # splittable scan input at every parallelism level (tiny sf parquet is
    # one row group — without this the CPU-bound classify runs on 1 task)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))

    tmp = tempfile.mkdtemp(prefix="blp_bench_")
    tr_path = os.path.join(tmp, "transcripts")
    try:
        # ---- setup (untimed): materialize the transcript table ----------
        pre_materialized = os.environ.get("SPARK_GRAFT_BENCH_INPUT")
        if pre_materialized:
            # scaling runs share one generated table across parallelism levels
            tr_path = pre_materialized
        else:
            if bench_turns:
                events = gen_events_spark(spark, bench_turns,
                                          n_users=max(bench_turns // 64, 16))
            else:
                events = spark.read.parquet(f"{sf_dir}/events.parquet")
            derive_transcripts(events).repartition(cores * 4).write.parquet(tr_path)
        transcripts = spark.read.parquet(tr_path)
        n_turns = transcripts.count()
        documents = spark.read.parquet(f"{sf_dir}/documents.parquet")
        embeddings = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        # aux modern-toolchain stream for q15: the PRIMARY stream contains
        # no gutter/pointer continuations by design (transcripts.py), so
        # timing swiftbuild block assembly there would understate the real
        # collect cost. Falls back to the primary stream only when the input
        # was pre-materialized (scaling runs, which don't run q15 anyway).
        aux_path = os.path.join(tmp, "aux_transcripts")
        if pre_materialized:
            aux = transcripts
        else:
            from buildlogparser_spark.transcripts import derive_aux_transcripts
            if bench_turns:
                ev = gen_events_spark(spark, bench_turns,
                                      n_users=max(bench_turns // 64, 16))
            else:
                ev = spark.read.parquet(f"{sf_dir}/events.parquet")
            derive_aux_transcripts(ev).repartition(cores * 4).write.parquet(aux_path)
            aux = spark.read.parquet(aux_path)

        # warmup: compile the classify codegen once, untimed
        classify(transcripts.limit(1000)).count()

        queries: dict[str, float] = {}
        only = {q for q in os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "").split(",") if q}
        # reps>1 → steady-state timing (min of reps): first execution of a
        # plan shape pays JVM JIT + whole-stage-codegen compilation (~5s
        # fixed), which at sandbox scale swamps the actual work; production
        # jobs amortize it over hours. Every action is idempotent.
        # default 3: this host's vCPUs are oversubscribed and single timings
        # swing 2-5× between windows — min-of-3 rejects most noise bursts
        reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

        import statistics

        medians: dict[str, float] = {}
        raw_times: dict[str, list[float]] = {}

        # 3×-reps set: q1 defines the headline turns_per_sec; q7/q8/q9
        # recorded 15-30% r03 'regressions' on unchanged plans (VERDICT r03
        # perf §: same sweep-contention noise q1 exhibited in r02, where a
        # 9-rep quiet-window re-run reversed the number — BENCH/NOISE.md)
        hot = {"q1_flagship_pipeline", "q7_assemble_window",
               "q8_parse_stateful", "q9_route_writes"}

        def timed(name: str, fn) -> None:
            if only and name.split("_")[0] not in only and name not in only:
                return
            times = []
            n = reps * 3 if name in hot else reps
            for _ in range(n):
                t0 = time.time()
                fn()
                times.append(time.time() - t0)
            raw_times[name] = times
            # min = steady-state number of record; median recorded alongside
            # so a noise burst is visible instead of silently shaping the
            # narrative (VERDICT r02 item 5)
            queries[name] = round(min(times), 3)
            medians[name] = round(statistics.median(times), 3)

        diags = classify(transcripts)
        # flagship: parse → classify → enrich → per-sink aggregate
        timed("q1_flagship_pipeline", lambda: (
            enrich(diags).groupBy("diag_class", "severity", "tool_family")
            .agg(F.count("*").alias("n")).collect()))
        timed("q2_severity_counts", lambda: agg.severity_counts(diags).collect())
        timed("q3_errors_per_tool", lambda: agg.errors_per_tool(diags).collect())
        timed("q4_warnings_per_conv",
              lambda: agg.warnings_per_conversation(diags).count())
        timed("q5_top_files", lambda: agg.top_files(diags).collect())
        timed("q6_duration_histogram",
              lambda: agg.duration_histogram(transcripts).collect())
        # key kept from the windowed assembler for round-over-round diffs
        timed("q7_assemble_window",
              lambda: compile_blocks(transcripts).count())
        timed("q8_parse_stateful",
              lambda: parse_stateful(transcripts, default_stack).count())
        timed("q8b_parse_stateful_chunked",
              lambda: parse_stateful_chunked(transcripts, default_stack).count())
        timed("q8c_parse_stateful_auto",
              lambda: parse_stateful_auto(transcripts, default_stack).count())
        # month buckets + small salt at sandbox sf: keeps dir count sane for
        # tiny inputs; production keeps day granularity + 64 salt buckets.
        # Each rep writes a fresh root: route_writes skips sinks already done
        timed("q9_route_writes", lambda: route_writes(
            diags, tempfile.mkdtemp(prefix="sinks-", dir=tmp), n_salt=4,
            ts_granularity="month"))
        timed("q10_dedup_exact", lambda: dedup.dedup_exact(documents).count())
        timed("q11_minhash_lsh", lambda: dedup.lsh_candidates(documents).count())
        timed("q12_simhash", lambda: dedup.simhash(documents).count())
        timed("q13_cosine_topk", lambda: similarity.cosine_topk(
            embeddings, query_ids=[1, 2, 3, 4, 5], k=5).collect())
        timed("q14_quality_score", lambda: textstats.quality_score(documents).count())
        # round-3 additions (kept OUT of the r01/r02-comparable sum below):
        # the remaining multi-line shapes via the generic chunked assembler
        timed("q15_swiftbuild_blocks",
              lambda: swiftbuild_compile_blocks(aux).count())
        timed("q16_xctest_blocks", lambda: xctest_blocks(transcripts).count())
        # continuation-session addition (also outside the comparable sum):
        # the full composed corpus-curation pipeline — dedup, near-dup
        # components, decontaminate, quality/repetition gates, stratified
        # sample, PII redact — end to end over the documents table.
        # Its absolute number is FIXED-COST dominated at sandbox scale:
        # stage profile (sf0.1, this host) puts ~8 s in the star-components
        # rounds (each round = 2 joins + 2 snapshot writes + a fixed-point
        # check ≈ 5 small Spark jobs at ~0.3-0.5 s scheduler cost each,
        # over a KB-sized edge list) and most of the rest in per-stage
        # snapshot writes — per-job constants that vanish at cluster scale,
        # not data-proportional work (the data stages alone are <2 s)
        timed("q17_curation_pipeline", lambda: curate.curation_pipeline(documents).count())
        # late round-5 additions (outside the comparable sum): chat→SFT
        # pair extraction over the full transcript stream, and tf-idf
        # keyword extraction over the documents table
        timed("q18_sft_pairs", lambda: sft.sft_pairs(transcripts).count())
        timed("q19_tfidf_top_terms", lambda: textstats.tfidf_top_terms(
            documents).count())
        # final round-5 additions (outside the comparable sum): DSIR
        # selection weights, C4 page cleaning over structure-injected
        # docs, and the trained logistic quality classifier
        timed("q20_dsir_weights", lambda: dsir.dsir_weights(documents).count())
        timed("q21_c4_clean", lambda: c4.c4_clean(
            c4.inject_structure(documents)).count())
        timed("q22_quality_classifier", lambda: quality_clf.quality_classifier(
            documents).count())
        # temporal joins (outside the comparable sum): as-of versioned
        # registry enrich (broadcast floor-lookup) and incident-window
        # range attribution (broadcast equi-join + range post-filter)
        timed("q23_asof_enrich",
              lambda: temporal.asof_enrich(transcripts).count())
        timed("q24_incident_errors",
              lambda: temporal.incident_errors(transcripts, diags).collect())
        # closing-session additions (outside the comparable sum):
        # ExactSubstr span-removal plan over documents, stuck-agent loop
        # detection over loop-injected transcripts, and SFT context-window
        # assembly over the full transcript stream
        timed("q25_dup_span_removal",
              lambda: spans.dup_span_removal(documents).count())
        timed("q26_tool_call_loops", lambda: agg.tool_call_loops(
            agg.inject_loops(transcripts)).count())
        timed("q27_context_windows",
              lambda: sft.context_windows(transcripts).count())
        # final-session additions (outside the comparable sum): DPO-style
        # preference pairs over the transcript stream, embedding benchmark
        # decontamination, and snapshot-PSI corpus drift
        timed("q28_preference_pairs",
              lambda: sft.preference_pairs(transcripts).count())
        timed("q29_semantic_decontaminate",
              lambda: similarity.semantic_decontaminate(embeddings).count())
        timed("q30_corpus_drift",
              lambda: drift.corpus_drift(documents).count())
        timed("q31_weighted_sample",
              lambda: corpus_filters.weighted_sample(documents).count())
        timed("q32_token_entropy",
              lambda: textstats.token_entropy(documents).count())

        flagship = queries.get("q1_flagship_pipeline", 0.0)
        total = round(sum(queries.values()), 3)
        # the r02-comparable set is the queries r02 ran, q1-q14 (the q8b/q8c
        # evidence twins excluded); any later bench query stays outside it
        r02_ids = {f"q{i}" for i in range(1, 15)}
        r02_set = {q: s for q, s in queries.items() if q.split("_")[0] in r02_ids}
        # the r02-comparable figure must use r02's methodology: the hot set
        # there was min-of-3, so take the min of this run's FIRST three reps
        # (not min-of-9 — more reps monotonically lowers the min on a noisy
        # host, which would bias the 'comparable' sum faster than r02's)
        for q in hot:
            if q in r02_set:
                r02_set[q] = round(min(raw_times[q][:reps]), 3)
        print(json.dumps({
            "metric": "e2e_bench_sec",
            "value": total,
            "unit": "sec",
            "queries": queries,
            "queries_median": medians,
            "value_r02_comparable": round(sum(r02_set.values()), 3),
            "sf": sf,
            "cores": cores,
            "n_turns": n_turns,
            "turns_per_sec": round(n_turns / flagship, 1) if flagship else None,
        }))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
