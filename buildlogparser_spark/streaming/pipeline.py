"""Structured Streaming surface — the reference's async path, Spark-native.

The reference's ``AsyncDiagnosticInput``/``parse(input:) async``
(BuildLogParser.swift:17-21, 128-188, 314-323) pushes lines incrementally
through the same consumeLine machine. Our equivalent: ``readStream`` over
the transcript table's directory (or Kafka/Iceberg CDC on a cluster), the
SAME stateless classify cascade (operators/classify.py works unchanged on a
streaming DataFrame — it is pure per-row projection), watermarked windowed
aggregates for the sink-side counters, and ``foreachBatch`` fan-out reusing
the batch router.

Deliberate divergence, mirrored from the reference: its async path trims
whitespace and drops blank lines (BuildLogParser.swift:156-169) while the
sync path preserves them — SURVEY.md §1.3 declares the sync semantics
authoritative, so our streaming path does NOT replicate the async trimming:
batch and streaming classify agree row-for-row (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import route
from ..operators.classify import classify

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp_ntz"
)


def stream_transcripts(spark: SparkSession, path: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a transcript parquet directory."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_severity_counts(transcripts: DataFrame, window: str = "1 hour",
                             watermark: str = "1 day") -> DataFrame:
    """Per-event-time-window severity counts with late-data handling.

    The watermark bounds state: windows older than max(ts) - watermark are
    finalized and evicted — mandatory for an unbounded 10^12-turn stream.
    """
    diags = classify(transcripts)
    return (
        diags.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("severity"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "severity", "n")
    )


def stream_asof_enrich(transcripts: DataFrame,
                       versions: DataFrame) -> DataFrame:
    """AS-OF registry enrich on a STREAM: each incoming turn picks the
    latest ``versions`` row (static DataFrame, e.g.
    ``temporal.registry_versions(batch_df)`` or a real registry table) with
    ``valid_from_us <= ts_us`` for its tool. A stream-static broadcast
    join + array floor-pick — no state store, no watermark needed (the
    lookup is stateless per row), so it composes with any downstream
    streaming agg. Batch/stream parity asserted in
    tests/test_streaming.py."""
    from ..operators.temporal import asof_enrich_against

    return asof_enrich_against(transcripts, versions)


def stream_route(transcripts: DataFrame, root: str, checkpoint_dir: str,
                 n_salt: int = route.DEFAULT_N_SALT, ts_granularity: str = "day"):
    """foreachBatch fan-out: every micro-batch runs the batch router (same
    sink layout, same salting), each batch under its own
    ``batch_id={N}`` subpartition of every sink. Batch-disjoint subdirs make
    multi-batch runs additive (a bare overwrite at the sink root would keep
    only the LAST batch's rows). A batch that Spark replays from the
    checkpoint (same id, same offsets) is skipped sink by sink, not
    overwritten: a sink whose ``_SUCCESS`` holds its record is done, and
    only the sinks a crash left pending are rewritten, so the sinks are
    exactly-once. Readers scan ``{root}/{sink}`` and partition discovery
    surfaces batch_id alongside (ts_bucket, conv_bucket).

    Returns the started StreamingQuery (caller awaits/stops)."""
    diags = classify(transcripts)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        route.route_writes(batch_df, root, n_salt=n_salt,
                           ts_granularity=ts_granularity, subdir=f"batch_id={batch_id}")

    return (
        diags.writeStream
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_exact(documents: DataFrame,
                       watermark: tuple[str, str] | None = None) -> DataFrame:
    """First-seen exact dedup on a document stream — the continuous-
    ingestion twin of :func:`~..operators.dedup.dedup_exact_unique`: a
    document survives iff its md5(text) has not been seen before.

    ``watermark=(ts_col, delay)`` uses ``dropDuplicatesWithinWatermark``:
    the hash-keyed state store evicts entries older than the watermark —
    MANDATORY on an unbounded stream (global dropDuplicates state grows
    with every distinct document forever; at 10^12 docs that is the whole
    corpus in state). The trade-off is windowed semantics: a duplicate
    arriving later than ``delay`` after its original re-surfaces — the
    standard streaming-dedup contract; exact global dedup stays a batch
    job over the landed corpus. ``watermark=None`` keeps global state for
    bounded backfills only.

    State shuffles on text_hash (Spark partitions the state store by the
    dedup key), so survivors are decided per-key with no cross-partition
    coordination — the same partitioning argument as the batch hash-agg."""
    hashed = documents.withColumn("text_hash", F.md5(F.col("text")))
    if watermark is not None:
        ts_col, delay = watermark
        return (hashed.withWatermark(ts_col, delay)
                .dropDuplicatesWithinWatermark(["text_hash"]))
    return hashed.dropDuplicates(["text_hash"])
