"""Streaming loop detection (streaming/loops.py): the alert stream across
micro-batch boundaries must equal the batch tool_call_loops answer on the
same landed corpus, with at least one run SPANNING the boundary (carried by
the persisted run state, not visible within any single batch). Batch order
is pinned structurally: each availableNow run terminates before the next
file is written (the ADVICE r04 test_streaming.py lesson)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from buildlogparser_spark.operators import aggregate as agg
from buildlogparser_spark.streaming.loops import stream_loop_alerts
from buildlogparser_spark.streaming.stateful import EOF_MARKER
from buildlogparser_spark.transcripts import load_transcripts
from conftest import SF_SMOKE

SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
          "tool string")


@pytest.fixture(scope="module")
def injected_pdf(spark):
    return (agg.inject_loops(load_transcripts(spark, SF_SMOKE))
            .select("conv_id", "turn_idx", "role", "text", "tool")
            .toPandas())


def test_stream_alerts_equal_batch_across_microbatches(
        spark, tmp_path, injected_pdf):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # injected runs start at turn 6 and reach turn 8-10 → splitting at
    # turn 8 guarantees every flagged run spans the batch boundary
    first = injected_pdf[injected_pdf["turn_idx"] < 8]
    second = injected_pdf[injected_pdf["turn_idx"] >= 8]
    eofs = (injected_pdf.groupby("conv_id", as_index=False)["turn_idx"]
            .max())
    eofs["turn_idx"] += 1
    eofs["role"] = "system"
    eofs["text"] = EOF_MARKER
    eofs["tool"] = "none"

    def write(pdf):
        spark.createDataFrame(pdf, SCHEMA).coalesce(1).write.mode(
            "append").parquet(in_dir)

    def run_once():
        stream = spark.readStream.schema(SCHEMA).parquet(in_dir)
        q = (stream_loop_alerts(stream)
             .writeStream.format("parquet").option("path", out_dir)
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(180), "stream run did not finish"

    write(first)
    run_once()
    mid = {tuple(r) for r in spark.read.parquet(out_dir).collect()}

    write(second)
    run_once()
    write(eofs[["conv_id", "turn_idx", "role", "text", "tool"]])
    run_once()

    got = {(r.conv_id, r.role, r.tool, r.first_turn_idx,
            r.last_turn_idx, r.run_len)
           for r in spark.read.parquet(out_dir).collect()}

    batch_df = spark.createDataFrame(injected_pdf, SCHEMA)
    expected = {(r.conv_id, r.role, r.tool, r.first_turn_idx,
                 r.last_turn_idx, r.run_len)
                for r in agg.tool_call_loops(batch_df).collect()}

    assert got == expected
    assert len(expected) > 0
    # every flagged run spans the turn-8 boundary (first < 8 <= last),
    # so NONE was emittable from the first batch alone: boundary-carried
    assert all(f < 8 <= l for _, _, _, f, l, _ in expected)
    assert mid == set()


def test_trailing_run_flushes_only_on_eof(spark, tmp_path):
    """A conversation that ends mid-run must NOT alert until its EOF
    sentinel arrives (the reference's explicit finish() protocol)."""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    turns = [("X", i, "tool", "retrying", "swiftc") for i in range(4)]

    def write(rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append").parquet(in_dir)

    def run_once():
        stream = spark.readStream.schema(SCHEMA).parquet(in_dir)
        q = (stream_loop_alerts(stream)
             .writeStream.format("parquet").option("path", out_dir)
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    write(turns)
    run_once()
    assert spark.read.parquet(out_dir).count() == 0  # still in-flight

    write([("X", 4, "system", EOF_MARKER, "none")])
    run_once()
    rows = spark.read.parquet(out_dir).collect()
    assert [(r.conv_id, r.first_turn_idx, r.last_turn_idx, r.run_len)
            for r in rows] == [("X", 0, 3, 4)]
