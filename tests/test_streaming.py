"""Structured Streaming parity: micro-batch results must equal the batch
pipeline on the same input (the reference's batch/streaming-callback parity
test — BuildLogParserTests.swift:33-82 — re-expressed)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE, part_mtimes, write_ids

from buildlogparser_spark.operators.classify import classify
from buildlogparser_spark.streaming import stream_transcripts, windowed_severity_counts
from buildlogparser_spark.transcripts import load_transcripts


@pytest.fixture(scope="module")
def tr_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "transcripts")
    load_transcripts(spark, SF_SMOKE).repartition(4).write.parquet(path)
    return path


def _run_to_memory(spark, df, name, output_mode):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode).trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.table(name)


def test_stream_classify_equals_batch(spark, tr_dir):
    stream = classify(stream_transcripts(spark, tr_dir))
    got = _run_to_memory(spark, stream, "stream_diags", "append")
    batch = classify(spark.read.parquet(tr_dir))
    cols = ["conv_id", "turn_idx", "severity", "category", "message"]
    assert got.count() == batch.count()
    assert batch.select(*cols).exceptAll(got.select(*cols)).count() == 0


def test_windowed_counts_equal_batch_windows(spark, tr_dir):
    stream = windowed_severity_counts(
        stream_transcripts(spark, tr_dir), window="1 hour", watermark="1 day")
    got = _run_to_memory(spark, stream, "stream_wins", "append")
    batch = (
        classify(spark.read.parquet(tr_dir))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "severity")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "severity", "n")
    )
    # availableNow + append emits only watermark-closed windows; every
    # emitted window must match its batch twin, and most windows must close
    got_rows = {(r.window_start, r.severity): r.n for r in got.collect()}
    batch_rows = {(r.window_start, r.severity): r.n for r in batch.collect()}
    assert got_rows, "no windows closed — watermark/trigger wiring broken"
    for k, v in got_rows.items():
        assert batch_rows[k] == v
    assert len(got_rows) >= len(batch_rows) * 0.5


def test_stream_route_fanout_multibatch(spark, tr_dir, tmp_path):
    """Multi-batch parity: with maxFilesPerTrigger=1 the 4-file source yields
    4 micro-batches — every batch's rows must survive in the sinks (the
    regression here: a bare overwrite per batch keeps only the last batch),
    and a crash replay must not duplicate, drop or rewrite anything: with
    the last batch's commit deleted from the checkpoint, a second
    availableNow run re-delivers that batch, and every one of its sinks is
    skipped on its ``_SUCCESS`` record."""
    from buildlogparser_spark.streaming import stream_route

    root = str(tmp_path / "sinks")
    ckpt = str(tmp_path / "ckpt")
    q = stream_route(stream_transcripts(spark, tr_dir, max_files_per_trigger=1),
                     root, ckpt, n_salt=4, ts_granularity="month")
    # oversubscribed-host flake guard: fail loudly on timeout instead of
    # reading a half-written sink and reporting a confusing count mismatch
    assert q.awaitTermination(600), "stream_route did not finish in 600s"
    batch = classify(spark.read.parquet(tr_dir))
    back = spark.read.parquet(f"{root}/diagnostics")
    assert back.select("batch_id").distinct().count() > 1, "expected >1 micro-batch"
    assert back.count() == batch.count()
    errors = spark.read.parquet(f"{root}/severity=error")
    assert errors.count() == batch.filter(F.col("severity") == "error").count()

    # crash replay: the run died after batch N's sinks, before its commit
    last = max(int(os.path.basename(p)) for p in glob.glob(f"{ckpt}/commits/[0-9]*"))
    os.remove(f"{ckpt}/commits/{last}")
    os.remove(f"{ckpt}/commits/.{last}.crc")
    mtimes, writes = part_mtimes(root), write_ids(spark)
    assert mtimes
    q2 = stream_route(stream_transcripts(spark, tr_dir, max_files_per_trigger=1),
                      root, ckpt, n_salt=4, ts_granularity="month")
    assert q2.awaitTermination(600), "replay run did not finish in 600s"
    # batch N ran its foreachBatch again; its input rows read 0, as the
    # skipped fan-out never scans the batch
    assert [p["batchId"] for p in q2.recentProgress
            if "addBatch" in p["durationMs"]] == [last]
    assert write_ids(spark) == writes
    assert part_mtimes(root) == mtimes
    assert spark.read.parquet(f"{root}/diagnostics").count() == batch.count()
    assert spark.read.parquet(f"{root}/severity=error").count() == \
        batch.filter(F.col("severity") == "error").count()


def test_stream_dedup_exact_across_microbatches(spark, tmp_path):
    """Cross-batch dedup state: a duplicate text arriving in a LATER
    micro-batch must be dropped; every distinct text keeps exactly its
    first-seen row. Batch order is pinned STRUCTURALLY (ADVICE r04): the
    second file is written only after a first availableNow run against the
    same checkpoint has fully completed, so the ordering cannot silently
    degrade into a file-listing-order assumption."""
    from buildlogparser_spark.streaming import stream_dedup_exact

    base = "2026-01-01 00:00:"
    f0 = [(0, "alpha beta", base + "00"), (1, "gamma delta", base + "01")]
    f1 = [(2, "alpha beta", base + "05"),   # dup of doc 0, later batch
          (3, "epsilon", base + "06")]
    src = tmp_path / "docs"
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def write_batch(i, rows):
        (spark.createDataFrame(rows, "doc_id long, text string, ts_s string")
         .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
         .coalesce(1).write.parquet(str(src / f"f{i}")))

    def run_cycle():
        stream = (spark.readStream
                  .schema("doc_id long, text string, ts timestamp")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(src / "f*")))
        out = stream_dedup_exact(stream, watermark=("ts", "1 hour"))
        q = (out.writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120), "stream cycle did not finish"

    write_batch(0, f0)
    run_cycle()                  # f0 fully processed and committed first …
    write_batch(1, f1)
    run_cycle()                  # … then f1, resuming dedup state from ckpt
    got = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert 3 in got and 1 in got          # uniques survive
    # FIRST-seen survives: the dup pair's survivor must be doc 0, not the
    # later arrival — a last-seen regression would keep doc 2 and still
    # pass a weaker either-of check
    assert 0 in got and 2 not in got
    assert len(got) == 3


def test_stream_asof_enrich_equals_batch(spark, tr_dir):
    """Streaming as-of registry enrich (stream-static broadcast join):
    the multi-micro-batch streaming result must equal the batch
    asof_enrich on the same input and the same synthesized registry —
    including the NULL cases (unregistered tools don't occur in the
    derived stream, but pre-lo turns can't either, so the parity here is
    over the full 4-version spread; the NULL semantics are pinned in
    tests/test_temporal.py)."""
    from buildlogparser_spark.operators import temporal as tp
    from buildlogparser_spark.streaming import stream_asof_enrich

    batch_tr = spark.read.parquet(tr_dir)
    registry = tp.registry_versions(batch_tr)
    stream = stream_asof_enrich(
        stream_transcripts(spark, tr_dir, max_files_per_trigger=1), registry)
    got = _run_to_memory(spark, stream, "stream_asof", "append")
    batch = tp.asof_enrich(batch_tr)
    assert got.count() == batch.count()
    assert batch.exceptAll(got).count() == 0
    # non-vacuity: the stream saw more than one registry version
    assert got.select("registry_version").distinct().count() > 1
