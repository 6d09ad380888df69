"""The benchmark's own tests, on tiny inputs.

Run with ``python3 -m pytest perfbench/checks_perfbench.py -q`` from the
checkout root (about 3 minutes). The file name keeps these checks out of the
repo's default ``pytest`` collection. The end-to-end checks start the
benchmark in a subprocess (it starts and stops its own JVM), shrinking the
generated tables first so a run takes about a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

# tiny tables; the hot conversation stays under the 65,536-turn chunk
_SHRINK = """
import sys
sys.path.insert(0, {root!r})
from perfbench import run, workloads as w
from perfbench.gen import TableSpec
w.BatchJob.spec = TableSpec(turns=1_000, null_text_frac=0.01, files=2)
w.StreamDrain.spec = TableSpec(turns=400, null_text_frac=0.01, files=2)
w.StatefulAssembly.spec = TableSpec(turns=900, hot_turns=300, files=2)
"""


def _bench(argv: list[str], extra: str = ""):
    code = _SHRINK.format(root=ROOT) + textwrap.dedent(extra) + \
        f"\nsys.exit(run.main({argv!r}))\n"
    return subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                          capture_output=True, text=True, timeout=600)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check_printed(proc, workload: str, declared: list[dict]) -> dict:
    result = _result(proc)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == {m["name"] for m in declared}
    lines = proc.stdout.strip().splitlines()[:-1]
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        row = [ln.split() for ln in lines if ln.split()[1:2] == [m["name"]]]
        assert row, f"no line for {m['name']}"
        workload_col, _, value, unit, samples = row[0]
        assert workload_col == workload and unit == m["unit"]
        assert float(value) == pytest.approx(got["value"], rel=1e-3, abs=1e-3)
        assert samples.startswith("n=") and int(samples[2:]) >= 1
    return result


def test_one_command_prints_every_end_to_end_metric():
    proc = _bench(["--workload", "batch_job", "--seed", "3", "--seconds", "0",
                   "--trace", "0"])
    result = _check_printed(proc, "batch_job", BENCH["end_to_end"])
    assert result["correct"] and result["failed"] == 0
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    proc = _bench(["--workload", "stream_assembly", "--seed", "4",
                   "--seconds", "0", "--trace", "1"])
    result = _check_printed(proc, "stream_assembly", BENCH["per_layer"])
    assert result["correct"]
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert metrics["streaming.batches"] == 2
    assert metrics["classify.passes"] == 2
    assert metrics["assemble.parse_stateful_s"] > 0
    assert abs(metrics["trace.reconcile_gap_s"]) < 0.005


def test_sink_missing_a_file_is_a_failed_run():
    remove_one_file = """
    import glob, os
    _run = w.BatchJob.run
    def run_then_corrupt(self, ctx, out):
        _run(self, ctx, out)
        os.remove(sorted(glob.glob(f"{out}/diagnostics/**/part-*", recursive=True))[0])
    w.BatchJob.run = run_then_corrupt
    """
    proc = _bench(["--workload", "batch_job", "--seed", "5", "--seconds", "0",
                   "--trace", "0"], extra=remove_one_file)
    result = _result(proc)
    assert result["attempted"] == 1 and result["failed"] == 1
    assert result["correct"] is False
    assert "diagnostics" in proc.stderr


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    t0 = time.time()
    proc = subprocess.run(
        BENCH["command"] + ["--workload", "batch_job", "--seed", "1",
                            "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
    assert time.time() - t0 < 180


def test_metric_parsing():
    from perfbench.sparkstore import metric_values

    assert metric_values("74,000") == [74000.0]
    assert metric_values("9 ms") == [pytest.approx(0.009)]
    assert metric_values(
        "total (min, med, max (stageId: taskId))\n"
        "380.6 MiB (64.0 KiB, 64.0 KiB, 16.1 MiB (stage 8.0: task 220))"
    ) == [380.6, 0.0625, 0.0625, 16.1]
    assert metric_values(None) == []


def test_self_times_add_up_to_the_root():
    from perfbench.trace import Tracer

    tr = Tracer("t")
    tr.add("job", 0.0, 10.0)
    tr.add("checkpoint", 1.0, 4.0)
    tr.add("aggregate", 5.0, 6.0)
    tr.add("route", 2.0, 3.0)  # inside checkpoint
    tr.nest()
    assert tr.spans[3].parent == 1 and tr.spans[1].parent == 0
    assert tr.self_times(0) == {"job": 6.0, "checkpoint": 2.0,
                                "aggregate": 1.0, "route": 1.0}
    assert tr.reconcile(0) == 0.0
    tr.add("stray", 3.5, 5.5)  # overlaps two siblings: time counted twice
    tr.nest()
    with pytest.raises(ValueError):
        tr.reconcile(0)


def test_process_tree_counts_children():
    from perfbench.procs import PeakSampler, ProcessTree

    tree = ProcessTree()
    sampler = PeakSampler(tree)
    sampler.start()
    child = subprocess.Popen([sys.executable, "-c",
                              "x = bytearray(200 * 2**20); import time; time.sleep(1)"])
    try:
        time.sleep(0.7)
        assert child.pid in tree.seen and child.pid in tree.alive_descendants()
    finally:
        child.wait(timeout=10)
    peak = sampler.stop()
    assert tree.hwm[child.pid] >= 200
    assert peak >= tree.hwm[child.pid] + tree.hwm[os.getpid()]
    assert child.pid not in tree.alive_descendants()
