"""The benchmark's workloads: what each generates, runs, checks and traces.

A workload is a list of parts run back to back as one timed unit:

* ``BatchJob`` runs ``jobs/run_pipeline.main`` (scan, dead-letter, classify,
  enrich, resumable 10-sink fan-out, 4 aggregates, 2 reports) on a fresh
  output root.
* ``StreamDrain`` drains a backlog of parquet files through
  ``streaming.stream_route`` at one file per micro-batch.
* ``StatefulAssembly`` runs the graded multi-line entry points
  ``parse_stateful_auto_flat``, ``compile_blocks_flat`` and
  ``xctest_blocks`` over a table with one conversation longer than the
  65,536-turn chunk of ``parse_stateful_auto``, and writes each result.

Each part measures its layers from outside: spans around the calls it makes,
and the SQL executions and stages Spark recorded while they ran.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import statistics
from dataclasses import dataclass

from . import twins
from .gen import TableSpec, write_table
from .sparkstore import Execution

# sink layout of both workloads: 8 salt buckets, month ts buckets (the
# production defaults, 64 and day, make a tiny-file storm at these sizes)
N_SALT, TS_GRANULARITY = 8, "month"
JOB_FLAGS = ["--n-salt", str(N_SALT), "--ts-granularity", TS_GRANULARITY,
             "--format", "json", "--show-stats"]
CORES = 4


@dataclass
class Ctx:
    """What a part needs from the runner."""

    spark: object
    stores: object       # sparkstore.StatusStores
    tree: object         # procs.ProcessTree
    tracer: object       # trace.Tracer, or None when not tracing
    con: object          # DuckDB connection for the twins
    root: str            # checkout root (holds the program)


def _maybe_span(ctx: Ctx, name: str):
    return ctx.tracer.span(name) if ctx.tracer else contextlib.nullcontext()


def _maybe_patch(ctx: Ctx, module, attr: str, name: str):
    return ctx.tracer.patched(module, attr, name) if ctx.tracer \
        else contextlib.nullcontext()


# -- execution helpers ---------------------------------------------------------

def _abs(path: str) -> str:
    return os.path.abspath(path)


def _writes_to(e: Execution, path: str) -> bool:
    """True if ``e`` is a write whose target lies under ``path``."""
    return any(n.name == "Execute InsertIntoHadoopFsRelationCommand"
               and f"file:{_abs(path)}" in n.desc for n in e.nodes)


def _scan_rows(execs: list[Execution], table: str) -> float:
    """Rows read from ``table`` by the executions (cached re-reads excluded)."""
    loc = f"file:{_abs(table)}"
    return sum(n.number("number of output rows") for e in execs for n in e.nodes
               if n.name.startswith("Scan parquet") and loc in n.desc and n.ran())


def _is_classify(node) -> bool:
    """The classify cascade's row filter (``rule_id IS NOT NULL`` with the
    first-match-wins regex cascade inlined)."""
    return node.name == "Filter" and "CASE WHEN" in node.desc and "RLIKE(text" in node.desc


def _classify_execs(execs: list[Execution]) -> list[Execution]:
    return [e for e in execs if any(_is_classify(n) and n.ran() for n in e.nodes)]


def _written(execs: list[Execution]) -> tuple[float, float]:
    """(files, rows) written by the executions' write commands."""
    files = rows = 0.0
    for e in execs:
        for n in e.nodes:
            if n.name == "Execute InsertIntoHadoopFsRelationCommand":
                files += n.number("number of written files")
                rows += n.number("number of output rows")
    return files, rows


def _stage_sum(execs: list[Execution], attr: str) -> float:
    seen: dict[int, float] = {}
    for e in execs:
        for s in e.stages:
            seen[s.stage_id] = getattr(s, attr)
    return sum(seen.values())


def _during(execs: list[Execution], spans) -> list[Execution]:
    """Executions submitted while one of ``spans`` was open (the JVM clock
    has millisecond resolution)."""
    return [e for e in execs
            if any(s.start * 1e3 <= e.start_ms <= s.end * 1e3 + 1 for s in spans)]


def _wall(execs: list[Execution]) -> float:
    return sum(e.wall_s for e in execs)


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def count_output_files(path: str) -> int:
    """Data files (``part-*``) under a sink root."""
    return sum(1 for _, _, files in os.walk(path)
               for f in files if f.startswith("part-"))


def classify_metrics(execs: list[Execution], table: str) -> dict:
    cls = _classify_execs(execs)
    return {
        "classify.rows_in": _scan_rows(cls, table),
        "classify.rows_out": sum(n.number("number of output rows")
                                 for e in cls for n in e.nodes if _is_classify(n)),
        "classify.passes": len(cls),
        "enrich.broadcast_joins": sum(1 for e in execs for n in e.nodes
                                      if n.name == "BroadcastHashJoin" and n.ran()),
    }


def spark_metrics(execs: list[Execution]) -> dict:
    return {
        "spark.failed_tasks": _stage_sum(execs, "failed_tasks"),
        "spark.gc_s": _stage_sum(execs, "gc_s"),
        "spark.shuffle_fetch_wait_s": _stage_sum(execs, "fetch_wait_s"),
    }


# -- parts -----------------------------------------------------------------------

class Part:
    name = ""
    spec: TableSpec

    def generate(self, con, seed: int, path: str) -> None:
        write_table(con, self.spec, seed, path)

    def use(self, table: str) -> None:
        self.table = table

    @property
    def turns(self) -> int:
        return self.spec.turns


class BatchJob(Part):
    name = "batch_job"
    spec = TableSpec(turns=80_000, null_text_frac=0.001, files=4)

    def expect(self, ctx: Ctx) -> None:
        self.want = twins.job_expectations(ctx.con, self.table, N_SALT,
                                           TS_GRANULARITY)

    def _main(self, ctx: Ctx):
        spec = importlib.util.spec_from_file_location(
            "run_pipeline", os.path.join(ctx.root, "jobs", "run_pipeline.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.main

    def run(self, ctx: Ctx, out: str) -> None:
        import buildlogparser_spark.checkpoint as ckpt

        main = self._main(ctx)
        buf = io.StringIO()
        with _maybe_span(ctx, "job"), \
                _maybe_patch(ctx, ckpt, "route_writes_resumable", "checkpoint"), \
                contextlib.redirect_stdout(buf):
            rc = main(["--input", self.table, "--output", out] + JOB_FLAGS)
        if rc != 0:
            raise RuntimeError(f"run_pipeline exited {rc}")
        self.report = json.loads(buf.getvalue().strip().splitlines()[-1])

    def check(self, ctx: Ctx, out: str) -> list[str]:
        return twins.check_job(ctx.con, out, self.want)

    def layers(self, ctx: Ctx, out: str, execs: list[Execution]) -> dict:
        tr = ctx.tracer
        job_i = max(i for i, s in enumerate(tr.spans) if s.name == "job")
        job = tr.spans[job_i]
        ck = [s for s in tr.spans if s.name == "checkpoint"]
        # each execution goes to exactly one span: by the path it writes,
        # else the checkpoint call it ran in, else the job itself
        groups: dict[str, list[Execution]] = {
            "route.dead_letter": [], "aggregate": [], "render": [],
            "checkpoint": [], "job": []}
        for e in execs:
            if _writes_to(e, os.path.join(out, "dead_letter")):
                key = "route.dead_letter"
            elif _writes_to(e, os.path.join(out, "aggregates")):
                key = "aggregate"
            elif _writes_to(e, os.path.join(out, "report")):
                key = "render"
            elif _during([e], ck):
                key = "checkpoint"
            else:
                key = "job"
            groups[key].append(e)
            if key in ("route.dead_letter", "aggregate", "render"):
                # executions with no eager call to wrap become spans of
                # their own, clipped into the job span
                tr.add(key, max(e.start_ms / 1e3, job.start),
                       min(e.end_ms / 1e3, job.end), execution=e.execution_id)
        tr.nest()
        tr.reconcile(job_i)  # layer self times + job.other_s == job wall
        self_t = tr.self_times(job_i)
        n_in = self.want["input_rows"]
        dl, agg, rnd, cp = (groups["route.dead_letter"], groups["aggregate"],
                            groups["render"], groups["checkpoint"])
        sinks = self.report["sinks"].values()
        dirs = sum(1 for sink in twins.ROUTE_SINKS
                   for _d, sub, _f in os.walk(os.path.join(out, sink)) if not sub)
        cp_files, _ = _written(cp)
        dl_files, dl_rows = _written(dl)
        probes = [n for e in agg for n in e.nodes
                  if n.name == "HashAggregate" and n.ran("avg hash probes per key")]
        m = {
            "job.sql_executions": len(execs),
            "job.scan_passes": _scan_rows(execs, self.table) / n_in,
            "job.classify_passes": len(_classify_execs(execs)),
            "job.cpu_util": _stage_sum(execs, "executor_cpu_s") / (job.duration * CORES),
            "job.other_s": self_t.get("job", 0.0),
            "checkpoint.wall_s": sum(s.duration for s in ck),
            "checkpoint.executor_cpu_s": _stage_sum(cp, "executor_cpu_s"),
            "checkpoint.jobs": sum(e.jobs for e in cp),
            "checkpoint.sinks_written": sum(1 for s in sinks if not s["skipped"]),
            "checkpoint.sinks_skipped": sum(1 for s in sinks if s["skipped"]),
            "checkpoint.files_per_dir": cp_files / max(dirs, 1),
            "checkpoint.shuffle_write_mb": _stage_sum(cp, "shuffle_write_mb"),
            "checkpoint.spill_mb": _stage_sum(cp, "spill_mb"),
            "route.dead_letter_s": _wall(dl),
            "route.dead_letter_rows": dl_rows,
            "route.jobs": sum(e.jobs for e in dl + cp),
            "route.files_written": dl_files + cp_files,
            "aggregate.wall_s": _wall(agg),
            "aggregate.executor_cpu_s": _stage_sum(agg, "executor_cpu_s"),
            "aggregate.scan_passes": _scan_rows(agg, self.table) / n_in,
            "aggregate.shuffle_write_mb": _stage_sum(agg, "shuffle_write_mb"),
            "aggregate.avg_hash_probes": statistics.mean(
                n.task_max("avg hash probes per key") for n in probes) if probes else 0.0,
            "aggregate.peak_mem_mb": max(
                (n.task_max("peak memory") for e in agg for n in e.nodes
                 if n.name == "HashAggregate" and n.ran("peak memory")), default=0.0),
            "render.wall_s": _wall(rnd),
            "render.executor_cpu_s": _stage_sum(rnd, "executor_cpu_s"),
            "render.output_mb": _du_mb(os.path.join(out, "report")),
        }
        m.update(classify_metrics(execs, self.table))
        m.update(spark_metrics(execs))
        return m


class StreamDrain(Part):
    name = "stream_drain"
    spec = TableSpec(turns=4_000, null_text_frac=0.001, files=2)

    def expect(self, ctx: Ctx) -> None:
        self.want = twins.route_expectations(
            ctx.con, self.table, N_SALT, TS_GRANULARITY, drop_null_text=False)

    def run(self, ctx: Ctx, out: str) -> None:
        import buildlogparser_spark.operators.route as route
        from buildlogparser_spark import streaming

        with _maybe_span(ctx, "streaming"), _maybe_patch(ctx, route, "route_writes", "route"):
            q = streaming.stream_route(
                streaming.stream_transcripts(ctx.spark, self.table,
                                             max_files_per_trigger=1),
                os.path.join(out, "sinks"),
                checkpoint_dir=os.path.join(out, "stream_checkpoint"),
                n_salt=N_SALT, ts_granularity=TS_GRANULARITY)
            q.awaitTermination()
        self.progress = [p for p in q.recentProgress if p["numInputRows"]]

    def check(self, ctx: Ctx, out: str) -> list[str]:
        bad = twins.check_route(ctx.con, os.path.join(out, "sinks"), self.want,
                                subdirs="batch_id=*")
        if len(self.progress) != self.spec.files:
            bad.append(f"{len(self.progress)} micro-batches, expected {self.spec.files}")
        return bad

    def layers(self, ctx: Ctx, out: str, execs: list[Execution]) -> dict:
        tr = ctx.tracer
        spans = [s for s in tr.spans if s.name == "streaming"]
        routes = [s for s in tr.spans if s.name == "route"]
        inside = _during(execs, spans)
        in_route = _during(inside, routes)
        dur = [p["durationMs"] for p in self.progress]
        files, _ = _written(in_route)
        m = {
            "streaming.batches": len(self.progress),
            "streaming.batch_s": statistics.median(d["triggerExecution"] for d in dur) / 1e3,
            "streaming.overhead_s": statistics.median(
                d["triggerExecution"] - d.get("addBatch", 0) for d in dur) / 1e3,
            "streaming.wal_commit_s": statistics.median(d.get("walCommit", 0) for d in dur) / 1e3,
            "streaming.input_rows": sum(p["numInputRows"] for p in self.progress),
            "route.write_s": sum(r.duration for r in routes),
            "route.jobs": sum(e.jobs for e in in_route),
            "route.files_written": files,
        }
        # foreachBatch hands route_writes an RDD-backed batch, so classify
        # runs inside the micro-batch's own execution, whose operator
        # metrics Spark files under the child executions that ran it:
        # count the passes there, rows at the stream source and the sink
        batch_execs = [e for e in inside if e not in in_route
                       and any(_is_classify(n) for n in e.nodes)]
        m["classify.passes"] = len(batch_execs)
        m["classify.rows_in"] = m["streaming.input_rows"]
        m["classify.rows_out"] = sum(
            n.number("number of output rows") for e in in_route for n in e.nodes
            if n.name == "Execute InsertIntoHadoopFsRelationCommand"
            and "/diagnostics/" in n.desc)
        return m


class StatefulAssembly(Part):
    name = "stateful_assembly"
    HOT = 65_600  # > parse_stateful_auto's 65,536-turn chunk
    spec = TableSpec(turns=HOT + 4_096, hot_turns=HOT, files=4)
    CALLS = ("parse_stateful", "compile_blocks", "xctest_blocks")

    def expect(self, ctx: Ctx) -> None:
        self.want = twins.assembly_expectations(ctx.con, self.table)

    def run(self, ctx: Ctx, out: str) -> None:
        from buildlogparser_spark.operators import assemble as asm
        from buildlogparser_spark.rules.table import default_stack

        tr = ctx.spark.read.parquet(self.table)
        calls = {
            "parse_stateful": lambda: asm.parse_stateful_auto_flat(tr, default_stack),
            "compile_blocks": lambda: asm.compile_blocks_flat(tr),
            "xctest_blocks": lambda: asm.xctest_blocks(tr),
        }
        py0 = ctx.tree.snapshot()["python_cpu_s"]
        for name in self.CALLS:
            with _maybe_span(ctx, f"assemble.{name}"):
                calls[name]().write.mode("overwrite").parquet(os.path.join(out, name))
        self.python_cpu_s = ctx.tree.snapshot()["python_cpu_s"] - py0

    def check(self, ctx: Ctx, out: str) -> list[str]:
        return twins.check_assembly(ctx.con, out, self.want)

    def layers(self, ctx: Ctx, out: str, execs: list[Execution]) -> dict:
        tr = ctx.tracer
        spans = {n: [s for s in tr.spans if s.name == f"assemble.{n}"] for n in self.CALLS}
        inside = _during(execs, [s for ss in spans.values() for s in ss])
        ps = _during(inside, spans["parse_stateful"])
        # parse_stateful_auto sends conversations over its chunk size to
        # the chunked path; its size probe filters on the turn count
        chunked = max((n.number("number of output rows") for e in ps for n in e.nodes
                       if n.name == "Filter" and "n_turns" in n.desc), default=0.0)
        max_task, skew = 0.0, 0.0  # skew: max / median task of a stage
        for st in (st for e in inside for st in e.stages if st.num_tasks):
            med, top = ctx.stores.task_median_max(st.stage_id)
            max_task = max(max_task, top)
            if st.num_tasks > 1 and med > 0:
                skew = max(skew, top / med)
        m = {f"assemble.{n}_s": sum(s.duration for s in spans[n]) for n in self.CALLS}
        m.update({
            "assemble.python_cpu_s": self.python_cpu_s,
            "assemble.executor_cpu_s": _stage_sum(inside, "executor_cpu_s"),
            "assemble.shuffle_write_mb": _stage_sum(inside, "shuffle_write_mb"),
            "assemble.max_task_s": max_task,
            "assemble.task_skew": skew,
            "assemble.chunked_convs": chunked,
        })
        return m


WORKLOADS = {
    "batch_job": [BatchJob],
    "stream_assembly": [StreamDrain, StatefulAssembly],
}
