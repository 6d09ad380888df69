"""End-to-end spark-submit --py-files test: the job must run from a clean
cwd with the package shipped ONLY via the zip (the cluster deployment path
of BASELINE.json's north_rule)."""

from __future__ import annotations

import json
import shutil
import subprocess

import pytest
from pyspark.sql import functions as F

from conftest import REPO, SF_SMOKE


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_pipeline(spark, tmp_path):
    from buildlogparser_spark.shipping import package_zip
    from buildlogparser_spark.operators.classify import classify
    from buildlogparser_spark.transcripts import load_transcripts

    tr_path = str(tmp_path / "transcripts")
    load_transcripts(spark, SF_SMOKE).repartition(4).write.parquet(tr_path)
    out_root = str(tmp_path / "sinks")
    zip_path = package_zip(str(tmp_path))

    proc = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path,
         str(REPO / "jobs" / "run_pipeline.py"),
         "--input", tr_path, "--output", out_root,
         "--n-salt", "4", "--ts-granularity", "month"],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path))
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(
        [l for l in proc.stdout.splitlines() if l.startswith("{")][-1])
    assert report["mode"] == "batch"

    batch = classify(load_transcripts(spark, SF_SMOKE))
    total = batch.count()
    assert report["sinks"]["diagnostics"]["rows"] == total
    assert report["stages"]["classify_enrich"]["rows"] == total
    n_null = load_transcripts(spark, SF_SMOKE) \
        .filter(F.col("text").isNull()).count()
    assert report["stages"]["dead_letter"]["rows"] == n_null

    back = spark.read.parquet(f"{out_root}/diagnostics")
    assert back.count() == total
    errors = spark.read.parquet(f"{out_root}/severity=error")
    assert errors.count() == batch.filter(F.col("severity") == "error").count()
    # aggregate metadata present and readable
    agg_df = spark.read.json(f"{out_root}/aggregates/severity_counts")
    row = agg_df.collect()[0]
    assert row.total_count == total


def test_cli_formatted_reports(spark, tmp_path):
    """The reference CLI's --format/--verbose/--errors-only/--show-stats
    surface (BuildLogParserCommand.swift:27-46) on the job entrypoint,
    run in-process."""
    import sys

    sys.path.insert(0, str(REPO / "jobs"))
    import run_pipeline

    from buildlogparser_spark.operators.classify import classify
    from buildlogparser_spark.transcripts import load_transcripts

    tr_path = str(tmp_path / "tr")
    load_transcripts(spark, SF_SMOKE).limit(2000).coalesce(2) \
        .write.parquet(tr_path)
    out = str(tmp_path / "out")
    rc = run_pipeline.main([
        "--input", tr_path, "--output", out, "--n-salt", "4",
        "--ts-granularity", "month", "--format", "summary",
        "--verbose", "--show-stats"])
    assert rc == 0
    summary = "\n".join(
        r.value for r in spark.read.text(f"{out}/report/summary").collect())
    diags = classify(spark.read.parquet(tr_path))
    assert f"Total Issues Found: {diags.count()}" in summary
    # generateFileBreakdown prepends its section header before the
    # per-file 📄 sections (OutputFormatters.swift:344-345)
    assert "\n📋 Issue Breakdown by File:\n" in summary
    assert "📄" in summary      # verbose per-file breakdown present
    stats = "\n".join(
        r.value for r in spark.read.text(f"{out}/report/stats").collect())
    assert "🔥 Most issues by file:" in stats

    rc = run_pipeline.main([
        "--input", tr_path, "--output", str(tmp_path / "out2"),
        "--n-salt", "4", "--ts-granularity", "month",
        "--format", "json", "--errors-only"])
    assert rc == 0
    import json as _json

    doc = _json.loads("\n".join(
        r.value for r in spark.read.text(
            f"{tmp_path}/out2/report/json").collect()))
    n_err = diags.filter(F.col("severity") == "error").count()
    assert doc["metadata"]["totalCount"] == n_err
    assert doc["metadata"]["errorCount"] == n_err


def test_cli_logs_input_mode(spark, tmp_path):
    """--input-format logs: a directory of raw build-log files feeds the
    FULL batch pipeline (whole-file read → UTF-8 dead-letter → split →
    classify → route → aggregates), one conversation per file — the
    reference CLI's file-input world end-to-end."""
    import json as _json
    import sys

    sys.path.insert(0, str(REPO / "jobs"))
    import run_pipeline

    from buildlogparser_spark.datagen import gen_conversations

    logdir = tmp_path / "logs"
    logdir.mkdir()
    convs: dict[str, list[str]] = {}
    for conv_id, _i, _r, text, _tl, _ts in gen_conversations(123, 5):
        convs.setdefault(conv_id, []).append(text)
    for cid, ls in convs.items():
        (logdir / f"{cid}.log").write_text("\n".join(ls), encoding="utf-8")
    (logdir / "bad.log").write_bytes(b"\xff\xfe nope")

    out = str(tmp_path / "out")
    rc = run_pipeline.main([
        "--input", str(logdir), "--input-format", "logs",
        "--output", out, "--n-salt", "2", "--ts-granularity", "month"])
    assert rc == 0

    dead = spark.read.parquet(f"{out}/dead_letter")
    assert dead.count() == 1
    diags = spark.read.parquet(f"{out}/diagnostics")
    assert diags.count() > 10
    # one conversation per file, none from the dead-lettered one
    cids = {r.conv_id.rsplit("/", 1)[-1] for r in
            diags.select("conv_id").distinct().collect()}
    assert cids <= {f"{c}.log" for c in convs}
    sev = _json.loads(
        spark.read.text(f"{out}/aggregates/severity_counts").collect()[0].value)
    assert sev["total_count"] == diags.count()


def test_cli_rejects_streaming_logs(tmp_path, capsys):
    """--streaming reads a parquet table, so it cannot take raw log files:
    the flag pair is a usage error before any Spark work starts."""
    import sys

    sys.path.insert(0, str(REPO / "jobs"))
    import run_pipeline

    with pytest.raises(SystemExit) as exc:
        run_pipeline.main([
            "--input", str(tmp_path), "--input-format", "logs", "--streaming",
            "--output", str(tmp_path / "out")])
    assert exc.value.code == 2
    assert "--input-format logs" in capsys.readouterr().err


def _seq(coll) -> list:
    """A Scala Seq/Iterable from the py4j gateway as a Python list."""
    it, out = coll.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def test_job_classifies_once(spark, tmp_path, capsys):
    """The batch job scans its input in at most two SQL executions (the
    dead-letter write and the one persisted classify pass), runs the
    classify cascade on rows in exactly one, and drops its cache before
    ``main`` returns. Read from Spark's SQL status store, which records
    every execution's plan graph and per-operator row metrics."""
    import re
    import sys

    sys.path.insert(0, str(REPO / "jobs"))
    import run_pipeline

    from buildlogparser_spark.transcripts import load_transcripts

    tr_path = str(tmp_path / "tr")
    (load_transcripts(spark, SF_SMOKE).limit(2000)
     .withColumn("text", F.when(F.col("turn_idx") % 17 != 0, F.col("text")))
     .coalesce(2).write.parquet(tr_path))
    n_null = spark.read.parquet(tr_path).filter(F.col("text").isNull()).count()
    assert n_null > 0

    jsc = spark.sparkContext._jsc
    bus = jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()
    bus.waitUntilEmpty(30_000)
    seen = {e.executionId() for e in _seq(store.executionsList())}
    n_persisted = jsc.getPersistentRDDs().size()
    capsys.readouterr()

    rc = run_pipeline.main([
        "--input", tr_path, "--output", str(tmp_path / "out"),
        "--n-salt", "4", "--ts-granularity", "month",
        "--format", "json", "--show-stats"])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["stages"]["dead_letter"]["rows"] == n_null
    assert jsc.getPersistentRDDs().size() == n_persisted

    bus.waitUntilEmpty(30_000)
    loc = f"file:{tr_path}"
    scans = cascades = 0
    for e in _seq(store.executionsList()):
        eid = e.executionId()
        if eid in seen:
            continue
        values = store.executionMetrics(eid)

        def rows(node) -> int:
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    total = re.search(r"\d[\d,]*", v.get().splitlines()[-1])
                    return int(total.group().replace(",", ""))
            return 0

        nodes = _seq(store.planGraph(eid).allNodes())
        scans += any(n.name().startswith("Scan parquet") and loc in n.desc()
                     and rows(n) > 0 for n in nodes)
        cascades += any(n.name() == "Filter" and "CASE WHEN" in n.desc()
                        and "RLIKE(text" in n.desc() and rows(n) > 0
                        for n in nodes)
    assert scans <= 2, f"input scanned in {scans} executions"
    assert cascades == 1, f"classify cascade ran in {cascades} executions"
