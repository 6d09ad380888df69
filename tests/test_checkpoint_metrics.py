"""Checkpoint/resume + observe-metrics tests (M6)."""

from __future__ import annotations

import glob
import os
import re

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE

from buildlogparser_spark.checkpoint import Manifest, route_writes_resumable
from buildlogparser_spark.metrics import StageMetrics
from buildlogparser_spark.operators.classify import classify
from buildlogparser_spark.operators.enrich import enrich
from buildlogparser_spark.operators.route import route_writes
from buildlogparser_spark.transcripts import load_transcripts


@pytest.fixture()
def diags(spark):
    return classify(load_transcripts(spark, SF_SMOKE))


def _executions(spark) -> dict[int, str]:
    """Physical plan text of the SQL executions in Spark's status store, by
    id, once the listener bus has delivered every event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    plans = {}
    while it.hasNext():
        e = it.next()
        plans[e.executionId()] = e.physicalPlanDescription()
    return plans


def _write_ids(spark) -> set[int]:
    """Ids of the file-write executions (one per ``DataFrameWriter`` call)."""
    return {i for i, plan in _executions(spark).items()
            if "InsertIntoHadoopFsRelationCommand" in plan}


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _part_mtimes(root: str) -> dict[str, float]:
    return {p: os.path.getmtime(p)
            for p in glob.glob(f"{root}/**/part-*", recursive=True)}


def test_stage_metrics_row_counts(spark, diags):
    mx = StageMetrics()
    d = mx.observe(diags, "classify")
    e = mx.observe(enrich(d), "enrich")
    n = e.count()
    rep = mx.report()
    assert rep["classify"]["rows"] == n
    assert rep["enrich"]["rows"] == n


def test_route_resumable_full_and_skip(spark, diags, tmp_path):
    root = str(tmp_path / "sinks")
    res1 = route_writes_resumable(diags, root, n_salt=4, ts_granularity="month")
    assert not any(r["skipped"] for r in res1.values())
    total = diags.count()
    assert res1["diagnostics"]["rows"] == total
    sev_sum = sum(res1[f"severity={s}"]["rows"]
                  for s in ("error", "warning", "info", "note"))
    assert sev_sum == total
    # routed-row equality: re-read the diagnostics sink, same rows
    back = spark.read.parquet(res1["diagnostics"]["path"])
    assert back.count() == total
    key = ["conv_id", "turn_idx", "severity", "category"]
    assert diags.select(*key).exceptAll(back.select(*key)).count() == 0

    # second run: everything skipped, nothing rewritten — no Spark job
    # runs when no sink is pending
    ids, mtimes = set(_executions(spark)), _part_mtimes(root)
    assert mtimes
    res2 = route_writes_resumable(diags, root, n_salt=4, ts_granularity="month")
    assert all(r["skipped"] for r in res2.values())
    assert res2["diagnostics"]["rows"] == total
    assert set(_executions(spark)) <= ids
    assert _part_mtimes(root) == mtimes


def test_route_writes_rows_match_sinks(spark, diags, tmp_path):
    """The one fan-out returns each sink's observed row count, and it equals
    what the sink holds on disk under the caller's subdir. The layout is the
    sink contract: every sink dir has ``_SUCCESS``, part files sit under
    ts_bucket=…/conv_bucket=…, files hold the input's columns (routing
    columns included, no sink index), empty sinks hold only ``_SUCCESS``,
    and a repeated subdir replaces only itself."""
    root = str(tmp_path / "sinks")
    res0 = route_writes(diags, root, n_salt=4, ts_granularity="month",
                        subdir="batch_id=0")
    route_writes(diags, root, n_salt=4, ts_granularity="month", subdir="batch_id=1")
    sibling = _part_mtimes(f"{root}/diagnostics/batch_id=0")
    res = route_writes(diags, root, n_salt=4, ts_granularity="month",
                       subdir="batch_id=1")
    assert _part_mtimes(f"{root}/diagnostics/batch_id=0") == sibling
    assert {s: r["rows"] for s, r in res.items()} == \
        {s: r["rows"] for s, r in res0.items()}
    assert len(res) == 10 and not any(r["skipped"] for r in res.values())
    assert sorted(os.listdir(root)) == sorted(res)
    want_cols = diags.columns + ["ts_bucket", "conv_bucket"]
    assert {"severity", "diag_class"} <= set(want_cols)
    for sink, r in res.items():
        path = f"{root}/{sink}/batch_id=1"
        assert r["path"] == path
        assert os.path.isfile(f"{path}/_SUCCESS"), sink
        parts = glob.glob(f"{path}/**/part-*", recursive=True)
        for p in parts:
            assert re.fullmatch(r"ts_bucket=[^/]+/conv_bucket=\d+/part-[^/]+\.parquet",
                                os.path.relpath(p, path)), p
        if parts:
            back = spark.read.parquet(path)
            assert back.columns == want_cols, sink
            assert r["rows"] == back.count(), sink
        else:
            assert r["rows"] == 0, sink
            assert [f for f in os.listdir(path) if not f.startswith(".")] == \
                ["_SUCCESS"], sink
    assert res["severity=note"]["rows"] == res["class=note"]["rows"] == 0
    assert res["diagnostics"]["rows"] == diags.count() > 0
    assert spark.read.parquet(f"{root}/diagnostics").count() == \
        2 * res["diagnostics"]["rows"]


def test_route_writes_one_job_per_call(spark, diags, tmp_path, monkeypatch):
    """A call with pending sinks is one write execution that caches nothing
    and leaves no staging directory, also when the write raises."""
    root = str(tmp_path / "sinks")
    rdds, writes = _persistent_rdds(spark), _write_ids(spark)
    res = route_writes(diags, root, n_salt=4, ts_granularity="month")
    assert len(_write_ids(spark) - writes) == 1
    assert _persistent_rdds(spark) == rdds
    assert sorted(os.listdir(root)) == sorted(res)  # no staging dir left

    from pyspark.sql.readwriter import DataFrameWriter

    def write_then_fail(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        raise RuntimeError("forced write failure")

    real_parquet = DataFrameWriter.parquet
    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_fail)
    bad_root = str(tmp_path / "failed")
    with pytest.raises(RuntimeError, match="forced write failure"):
        route_writes(diags, bad_root, n_salt=4, ts_granularity="month")
    # the staging dir was written in full, then removed; no sink was moved
    assert os.listdir(bad_root) == []
    assert _persistent_rdds(spark) == rdds


def test_route_resume_after_partial_failure(spark, diags, tmp_path):
    """Simulate a mid-job crash: pre-mark 3 sinks done, run, verify only the
    remaining units execute — in one write, leaving the done sinks' files
    alone — and the manifest converges to all-done."""
    root = str(tmp_path / "sinks")
    m = Manifest(root)
    done = ("diagnostics", "severity=error", "class=warning")
    for unit in done:
        m.mark_done("route", unit, rows=-42, secs=0.0)
        os.makedirs(f"{root}/{unit}")
        with open(f"{root}/{unit}/marker", "w") as f:
            f.write(unit)
    marks = {u: os.path.getmtime(f"{root}/{u}/marker") for u in done}
    writes = _write_ids(spark)
    res = route_writes_resumable(diags, root, n_salt=4, ts_granularity="month")
    assert len(_write_ids(spark) - writes) == 1
    assert res["diagnostics"]["skipped"] and res["diagnostics"]["rows"] == -42
    assert res["severity=error"]["skipped"]
    assert not res["severity=warning"]["skipped"]
    for u in done:
        assert os.listdir(f"{root}/{u}") == ["marker"], u
        assert os.path.getmtime(f"{root}/{u}/marker") == marks[u]
    pending = [s for s, r in res.items() if not r["skipped"]]
    assert len(pending) == 7
    for s in pending:
        assert os.path.isfile(f"{root}/{s}/_SUCCESS"), s
    m2 = Manifest(root)
    assert len(m2.records()) == len(res)


def test_decode_text_invalid_utf8_dead_letters(spark):
    """The reference raises invalidEncoding on bad bytes
    (BuildLogParser.swift:65-67); our pipeline routes the row aside."""
    from buildlogparser_spark.operators.route import decode_text, split_dead_letter

    rows = [
        (1, bytearray("plain ascii".encode())),
        (2, bytearray("snowman ☃ utf8".encode())),
        (3, bytearray(b"\xff\xfe broken")),        # invalid UTF-8
        (4, bytearray(b"trunc \xe2\x98")),          # truncated multibyte
    ]
    df = spark.createDataFrame(rows, "id int, text_bytes binary")
    decoded = decode_text(df)
    good, dead = split_dead_letter(decoded)
    assert {r.id for r in good.collect()} == {1, 2}
    assert {r.id for r in dead.collect()} == {3, 4}
    assert good.filter(F.col("id") == 2).collect()[0].text == "snowman ☃ utf8"


def test_dead_letter_routing(spark):
    from buildlogparser_spark.operators.route import split_dead_letter

    tr = load_transcripts(spark, SF_SMOKE)
    corrupted = tr.withColumn(
        "text", F.when(F.col("turn_idx") % 97 == 3, F.lit(None)).otherwise(F.col("text")))
    good, dead = split_dead_letter(corrupted)
    assert good.count() + dead.count() == tr.count()
    assert dead.filter(F.col("text").isNotNull()).count() == 0
    assert dead.count() > 0


def test_route_writes_iceberg_plan_construction(spark, diags):
    """No Iceberg catalog in this sandbox: the V2 writer with native
    days/bucket partition transforms must build, and executing must fail
    with the missing-catalog analysis error — not an API error in our
    wiring (the construct path is what a cluster run exercises before
    Iceberg takes over)."""
    import pytest

    from buildlogparser_spark.operators.route import route_writes_iceberg

    with pytest.raises(Exception) as ei:
        route_writes_iceberg(diags.limit(10), "blp_test")
    msg = str(ei.value)
    assert "catalog" in msg.lower() or "iceberg" in msg.lower() or \
        "TABLE_OR_VIEW_NOT_FOUND" in msg


def test_sessionize_gap_semantics(spark):
    """New session exactly when idle gap exceeds the threshold; bounds and
    duration from min/max epoch within the session."""
    from buildlogparser_spark.operators.aggregate import session_stats

    rows = [
        ("c1", 0, 0), ("c1", 1, 60), ("c1", 2, 120),       # session 0
        ("c1", 3, 120 + 31 * 60),                           # 31 min gap → 1
        ("c1", 4, 120 + 31 * 60 + 10),
        ("c2", 0, 50),                                      # own conv
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, sec long") \
        .withColumn("ts", F.timestamp_seconds(F.col("sec"))).drop("sec")
    got = {(r.conv_id, r.session_id): (r.n_turns, r.duration_s)
           for r in session_stats(df, gap_minutes=30).collect()}
    assert got == {("c1", 0): (3, 120), ("c1", 1): (2, 10), ("c2", 0): (1, 0)}


def test_files_affected_approx_within_rsd(spark, diags):
    from buildlogparser_spark.operators.aggregate import (
        files_affected, files_affected_approx)

    exact = files_affected(diags).collect()[0].files_affected
    approx = files_affected_approx(diags, rsd=0.05).collect()[0] \
        .files_affected_approx
    assert abs(approx - exact) <= max(3, 0.15 * exact)


def test_duration_percentiles_approx_accuracy(spark):
    """The approx sibling must land within 5% relative error of the exact
    interpolated percentiles on the sf0.001 stream (p50/p90; p99 of a
    discrete distribution may snap to a neighboring observed value, so it
    gets a looser 10% bound)."""
    from buildlogparser_spark.operators.aggregate import (
        step_duration_percentiles, step_duration_percentiles_approx)
    from buildlogparser_spark.transcripts import load_transcripts

    tr = load_transcripts(spark, "/root/testdata/sf0.001")
    exact = {r.tool: r for r in step_duration_percentiles(tr).collect()}
    approx = {r.tool: r for r in step_duration_percentiles_approx(tr).collect()}
    assert set(exact) == set(approx) and len(exact) >= 5
    for tool, e in exact.items():
        a = approx[tool]
        assert a.n == e.n and a.max_us == e.max_us
        for fld, tol in (("p50_us", 0.05), ("p90_us", 0.05), ("p99_us", 0.10)):
            ev, av = getattr(e, fld), getattr(a, fld)
            assert abs(av - ev) <= tol * max(ev, 1), (tool, fld, ev, av)
