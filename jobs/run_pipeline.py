"""spark-submit entrypoint for the full parse→enrich→route→aggregate job.

Cluster usage (BASELINE.json north_rule)::

    python -c "from buildlogparser_spark.shipping import package_zip; print(package_zip())"
    spark-submit --py-files /tmp/buildlogparser_spark.zip jobs/run_pipeline.py \\
        --input  <transcript parquet dir | iceberg table path> \\
        --output <sink warehouse root> \\
        [--n-salt 64] [--ts-granularity day] [--streaming]

Local smoke (also exercised by tests/test_submit_job.py)::

    spark-submit --master 'local[4]' --py-files <zip> jobs/run_pipeline.py \\
        --input /tmp/tr --output /tmp/sinks

The job classifies once: the dead-letter write scans the input, and one
persisted classify + enrich pass then feeds the route fan-out, the
aggregates and the reports (the reference parses a log once and fans that
parse out to every output, BuildLogParser.swift:285,375-384). The cache is
dropped before ``main`` returns.

The job is resumable: rerunning with the same --output skips every sink
whose ``_SUCCESS`` holds its record (``route_writes``) and writes the rest.
With --streaming, a micro-batch replayed from the stream checkpoint is
skipped the same way, sink by sink. Emits one JSON line of
per-stage lineage/row-count metrics on success (``scan``, ``dead_letter``,
``classify_enrich``), plus per-sink rows and the shared sink write's ``secs``.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession, functions as F


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="transcript table path (parquet dir) or, with "
                         "--input-format logs, a dir/glob of raw log files")
    ap.add_argument("--input-format", choices=["parquet", "logs"],
                    default="parquet",
                    help="'logs' ingests raw text log files exactly like the "
                         "reference CLI (whole-file read, UTF-8 validation "
                         "with dead-lettering, newline split; one "
                         "conversation per file)")
    ap.add_argument("--output", required=True, help="sink warehouse root")
    ap.add_argument("--n-salt", type=int, default=64)
    ap.add_argument("--ts-granularity", choices=["day", "month"], default="day")
    ap.add_argument("--streaming", action="store_true",
                    help="consume --input incrementally (availableNow)")
    # the reference CLI's sink options (BuildLogParserCommand.swift:27-46):
    # --format {text,json,summary}, --verbose, --errors-only, --show-stats
    ap.add_argument("--format", choices=["none", "text", "json", "summary"],
                    default="none",
                    help="additionally write the reference's formatted "
                         "report under {output}/report")
    ap.add_argument("--verbose", action="store_true",
                    help="verbose report (summary per-file breakdown / "
                         "json metadata flag)")
    ap.add_argument("--errors-only", action="store_true",
                    help="formatted report covers errors only "
                         "(OutputFormatters errorsOnly flag)")
    ap.add_argument("--show-stats", action="store_true",
                    help="also write the StatsCollector detailed report")
    args = ap.parse_args(argv)
    if args.streaming and args.input_format == "logs":
        ap.error("--streaming reads a parquet table; it cannot take --input-format logs")

    # spark-submit provides master/conf; only session-level SQL knobs here
    spark = (
        SparkSession.builder.appName("blp-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    from buildlogparser_spark.checkpoint import route_writes_resumable
    from buildlogparser_spark.metrics import StageMetrics
    from buildlogparser_spark.operators import aggregate as agg
    from buildlogparser_spark.operators.classify import classify
    from buildlogparser_spark.operators.enrich import enrich
    from buildlogparser_spark.operators.route import split_dead_letter

    if args.streaming:
        from buildlogparser_spark.streaming import stream_route, stream_transcripts

        q = stream_route(stream_transcripts(spark, args.input), args.output,
                         checkpoint_dir=f"{args.output}/_stream_ckpt",
                         n_salt=args.n_salt, ts_granularity=args.ts_granularity)
        q.awaitTermination()
        print(json.dumps({"mode": "streaming", "sinks_root": args.output}))
        return 0

    mx = StageMetrics()
    if args.input_format == "logs":
        from buildlogparser_spark.operators.lines import log_files_as_transcripts

        source = log_files_as_transcripts(spark, args.input)
    else:
        source = spark.read.parquet(args.input)
    transcripts = mx.observe(source, "scan")
    good, dead = split_dead_letter(transcripts)
    mx.observe(dead, "dead_letter").write.mode("overwrite").parquet(
        f"{args.output}/dead_letter")

    # the job's one classify pass: every sink, aggregate and report below
    # reads this persisted copy instead of re-scanning the input; the
    # finally drops it so a long-lived application (a test session, a
    # benchmark JVM) keeps no cache after main returns
    diags = mx.observe(enrich(classify(good)), "classify_enrich").persist()
    try:
        routed = route_writes_resumable(
            diags, args.output, n_salt=args.n_salt,
            ts_granularity=args.ts_granularity)

        # sink-side aggregate metadata (the reference's JSON metadata /
        # SummaryOutput counters) written next to the sinks
        aggs = {
            "severity_counts": agg.severity_counts(diags),
            "errors_per_tool": agg.errors_per_tool(diags),
            "warnings_per_conversation": agg.warnings_per_conversation(diags),
            "top_files": agg.top_files(diags),
        }
        for name, df in aggs.items():
            df.coalesce(1).write.mode("overwrite").json(
                f"{args.output}/aggregates/{name}")

        # formatted report sinks (the reference CLI's TextOutput/JSONOutput/
        # SummaryOutput formats). Single-file text outputs: these are
        # bounded-size reports (the reference buffers them in memory), so
        # coalesce(1) + total sort is the honest equivalent, not a scale path.
        if args.format != "none" or args.show_stats:
            from datetime import datetime, timezone

            from buildlogparser_spark.operators import render as rnd

            report_dir = f"{args.output}/report"
            fmt_df = None
            if args.format == "text":
                fmt_df = (rnd.render_text(diags, errors_only=args.errors_only)
                          .coalesce(1).sortWithinPartitions("conv_id", "turn_idx")
                          .select("rendered"))
            elif args.format == "json":
                src = diags.filter(F.col("severity") == "error") \
                    if args.errors_only else diags
                stamp = datetime.now(timezone.utc).isoformat(timespec="seconds")
                fmt_df = rnd.json_document(src, verbose=args.verbose,
                                           timestamp=stamp)
            elif args.format == "summary":
                fmt_df = rnd.summary_text(diags, verbose=args.verbose,
                                          errors_only=args.errors_only)
            if fmt_df is not None:
                fmt_df.write.mode("overwrite").text(f"{report_dir}/{args.format}")
            if args.show_stats:
                rnd.stats_text(diags).write.mode("overwrite").text(
                    f"{report_dir}/stats")
    finally:
        diags.unpersist()

    report = mx.report()
    print(json.dumps({
        "mode": "batch",
        "sinks": {k: {kk: v[kk] for kk in ("rows", "secs", "skipped") if kk in v}
                  for k, v in routed.items()},
        "stages": {k: {m: int(x) if isinstance(x, (int, float)) else x
                       for m, x in v.items()} for k, v in report.items()},
        "wall_s": mx.wall_s(),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
