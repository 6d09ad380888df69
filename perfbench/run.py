"""Benchmark of the transcript pipeline, end to end and layer by layer.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload batch_job --seed 1 --seconds 5 --trace 0

One process runs one workload at ``local[4]``, closed loop: one unit of work
at a time, the next starting when the previous one has finished, until
``--seconds`` have passed (always whole units, at least one). Set-up starts
the Spark session and generates the seeded input, five times (the first
launches the JVM, the others restart the session in it; the median counts as
set-up time), then computes the expected outputs with the DuckDB twins.
Every unit writes to a fresh output root, and its outputs are checked
against those expectations.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (spans around the calls into each layer, plus
Spark's status stores). Human-readable lines with the sample count of each
metric come first; the last line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 5  # a restart plus generation takes under a second: take 5


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """{name: unit} of the end-to-end and per-layer metrics BENCHMARK.json
    declares; a run reports exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def _program_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "jobs", "run_pipeline.py"))
            and os.path.isfile(os.path.join(ROOT, "buildlogparser_spark", "__init__.py")))


def _start_session(work: str):
    from pyspark.sql import SparkSession

    from perfbench.workloads import CORES

    spark = (
        SparkSession.builder.master(f"local[{CORES}]").appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        # the repo's session factory sizes shuffles to the cores at hand
        # (session.get_spark: max(cores, 8)); the 200 default would make
        # every small shuffle pay 200 tasks
        .config("spark.sql.shuffle.partitions", str(max(CORES, 8)))
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
        # plan descriptions keep full paths, so scans and writes can be
        # matched to the input table and the sinks
        .config("spark.sql.maxMetadataStringLength", "1000")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    return spark


def _stop_session(spark, tree) -> None:
    """Stop Spark and the JVM, then wait for every process of the tree."""
    from pyspark import SparkContext

    from perfbench.procs import wait_gone

    descendants = tree.alive_descendants()
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    wait_gone(descendants + tree.alive_descendants())


class LogTail:
    """Counts lines matching a pattern appended to a log file since mark()."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.offset = 0

    def mark(self) -> None:
        self.offset = os.path.getsize(self.path)

    def count(self, needle: str) -> int:
        with open(self.path, errors="replace") as f:
            f.seek(self.offset)
            return sum(1 for line in f if needle in line)


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def run(args, say) -> dict:
    from perfbench import twins
    from perfbench.procs import PeakSampler, ProcessTree
    from perfbench.sparkstore import StatusStores
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx, count_output_files

    end_to_end, per_layer_units = declared_metrics()
    work = args.work
    tree = ProcessTree()
    log = LogTail(args.log)
    parts = [cls() for cls in WORKLOADS[args.workload]]
    con = twins.connect()
    # set-up = session start + input generation, repeated; the first
    # repetition also launches the JVM, the others restart the session in it
    setup_s, spark = [], None
    try:
        for rep in range(SETUP_REPS):
            t = time.time()
            if spark is not None:
                spark.stop()
            spark = _start_session(work)
            for p in parts:
                path = os.path.join(work, f"input{rep}", p.name)
                p.generate(con, args.seed, path)
                p.use(path)
            setup_s.append(time.time() - t)
        ctx = Ctx(spark=spark, stores=StatusStores(spark), tree=tree, tracer=None,
                  con=con, root=ROOT)
        for p in parts:
            p.expect(ctx)
        turns = sum(p.turns for p in parts)
        say(f"set-up: {[round(x, 2) for x in setup_s]} s")

        units, per_layer = [], []
        start = time.time()
        while not units or time.time() - start < args.seconds:
            k = len(units)
            out = os.path.join(work, f"out{k}")
            ctx.tracer = Tracer(f"{args.workload}-seed{args.seed}-unit{k}") \
                if args.trace else None
            last_exec = ctx.stores.last_execution_id()
            log.mark()
            # peak memory is a per-layer metric: sample only when tracing
            sampler = PeakSampler(tree) if args.trace else None
            cpu0 = tree.snapshot()["cpu_s"]
            if sampler:
                sampler.start()
            t = time.time()
            problems = []
            try:
                if ctx.tracer:
                    with ctx.tracer.span("unit"):
                        for p in parts:
                            p.run(ctx, os.path.join(out, p.name))
                else:
                    for p in parts:
                        p.run(ctx, os.path.join(out, p.name))
            except Exception:
                problems.append("raised: " + traceback.format_exc(limit=3))
            wall = time.time() - t
            cpu = tree.snapshot()["cpu_s"] - cpu0
            peak = sampler.stop() if sampler else None
            if not problems:
                for p in parts:
                    problems += [f"{p.name}: {x}" for x in p.check(ctx, os.path.join(out, p.name))]
            unit = {"wall_s": wall, "turns_per_s": turns / wall, "cpu_s": cpu,
                    "output_files": count_output_files(out), "ok": not problems}
            if peak is not None:
                unit["peak_rss_mb"] = peak
            units.append(unit)
            say(f"unit {k}: {json.dumps({k2: round(v, 3) if isinstance(v, float) else v for k2, v in unit.items()})}")
            for x in problems:
                say(f"  FAILED {x}")
            if args.trace and not problems:
                per_layer.append(_layers(ctx, parts, out, last_exec, unit, log,
                                         per_layer_units))
            if ctx.tracer:
                ctx.tracer.dump(os.path.join(args.traces, f"{ctx.tracer.run_id}.json"))
            shutil.rmtree(out, ignore_errors=True)
    finally:
        if spark is not None:
            _stop_session(spark, tree)

    failed = sum(1 for u in units if not u["ok"])
    if args.trace:
        metrics = {n: {"value": _median([pl[n] for pl in per_layer]), "unit": unit}
                   for n, unit in per_layer_units.items()}
        samples = {n: len(per_layer) for n in per_layer_units}
    else:
        for u in units:
            u["setup_s"] = _median(setup_s)
        metrics = {n: {"value": _median([u[n] for u in units]), "unit": unit}
                   for n, unit in end_to_end.items()}
        samples = {n: len(units) for n in end_to_end}
        samples["setup_s"] = len(setup_s)
    return {"metrics": metrics, "samples": samples, "attempted": len(units),
            "failed": failed}


def _layers(ctx, parts, out, last_exec, unit, log, names) -> dict:
    from perfbench.workloads import spark_metrics

    execs = ctx.stores.executions_after(last_exec)
    m = {n: 0.0 for n in names}
    for p in parts:
        m.update(p.layers(ctx, os.path.join(out, p.name), execs))
    m.update(spark_metrics(execs))
    m["classify.codegen_fallbacks"] = log.count("grows beyond 64 KB")
    tr = ctx.tracer
    tr.nest()
    root = max(i for i, s in enumerate(tr.spans) if s.name == "unit")
    m["trace.reconcile_gap_s"] = tr.reconcile(root)
    m["trace.turns_per_s"] = unit["turns_per_s"]
    m["spark.peak_rss_mb"] = unit["peak_rss_mb"]
    unknown = set(m) - set(names)
    if unknown:
        raise ValueError(f"per-layer metrics not declared: {sorted(unknown)}")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not _program_present():
        print(f"perfbench: no program to benchmark under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    args.work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    args.traces = os.path.join(base, "traces")
    for d in (os.path.join(args.work, "tmp"), args.traces):
        os.makedirs(d, exist_ok=True)
    # everything this process and its children put in temp dirs stays here;
    # no JVM (spark-submit's launcher included) writes a perf-data file,
    # which would go to /tmp whatever the temp dir
    os.environ["TMPDIR"] = os.path.join(args.work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # the JVM inherits fd 2: its log lands in a file (codegen fallbacks are
    # counted there); this process keeps the terminal on a duplicate
    args.log = os.path.join(args.work, "driver.log")
    err = os.fdopen(os.dup(2), "w", buffering=1)
    log_fd = os.open(args.log, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)

    def say(msg: str) -> None:
        print(f"[{args.workload} seed={args.seed}] {msg}", file=err)

    try:
        result = run(args, say)
    except Exception:
        say("benchmark failed:\n" + traceback.format_exc())
        with open(args.log, errors="replace") as f:
            say("driver log tail:\n" + "".join(f.readlines()[-40:]))
        return 1
    finally:
        shutil.rmtree(args.work, ignore_errors=True)

    for name, m in result["metrics"].items():
        print(f"{args.workload}  {name:30s} {m['value']:14.4f} {m['unit']:8s} "
              f"n={result['samples'][name]}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": result["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
