"""Read Spark's status stores from the driver, with the web UI disabled.

Two stores are read through the py4j gateway:

* the SQL store (``sharedState().statusStore()``): one record per SQL
  execution, with its physical plan text, its stage ids and the final value
  of every per-operator metric (rows, hash probes, spill, peak memory);
* the core store (``SparkContext.statusStore()``): one record per stage,
  with executor CPU, GC time, shuffle fetch wait, shuffle write, spill,
  failed tasks, and task run-time quantiles.

Values in the SQL store are preformatted strings ("74,000", "1.2 s",
"total (min, med, max ...)\\n380.6 MiB (...)"); :func:`metric_number` turns
them back into numbers in seconds, MiB or plain counts.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}
_FLUSH_MS = 30_000  # listener bus drain timeout
_NUM = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]+)?")


def metric_values(text: str | None) -> list[float]:
    """Numbers of a formatted SQL metric, in seconds for timings, MiB for
    sizes: ``[value]`` for a single value, ``[total, min, med, max]`` for
    per-task statistics. ``None`` (operator not run) gives ``[]``."""
    if not text:
        return []
    if "\n" in text:  # "total (min, med, max (stageId: taskId))\n<numbers>"
        text = text.split("\n", 1)[1]
    text = re.sub(r"\(stage [^)]*\)", "", text)
    return [float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2) or "", 1.0)
            for m in _NUM.finditer(text)]


def metric_number(text: str | None) -> float:
    """First number (the total) of a formatted SQL metric; 0 if not run."""
    values = metric_values(text)
    return values[0] if values else 0.0


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


@dataclass
class PlanNode:
    name: str
    desc: str
    metrics: dict[str, str | None]

    def number(self, metric: str) -> float:
        return metric_number(self.metrics.get(metric))

    def task_max(self, metric: str) -> float:
        """Largest per-task value of a metric (the value itself when the
        metric has no per-task statistics)."""
        values = metric_values(self.metrics.get(metric))
        return values[-1] if values else 0.0

    def ran(self, metric: str = "number of output rows") -> bool:
        """True when this execution, not an earlier one, ran the operator:
        the plan of a cached relation repeats in every reader's graph, but
        only the execution that filled the cache reports its metrics."""
        return self.metrics.get(metric) is not None


@dataclass
class StageStats:
    stage_id: int
    executor_cpu_s: float
    gc_s: float
    fetch_wait_s: float
    shuffle_write_mb: float
    spill_mb: float
    failed_tasks: int
    num_tasks: int


@dataclass
class Execution:
    execution_id: int
    start_ms: int
    end_ms: int
    nodes: list[PlanNode]
    stages: list[StageStats] = field(default_factory=list)
    jobs: int = 0

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class StatusStores:
    """Snapshot reader over one SparkSession's status stores."""

    def __init__(self, spark) -> None:
        self._spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._core = self._sc.statusStore()

    def flush(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the final metrics of every finished execution."""
        self._sc.listenerBus().waitUntilEmpty(_FLUSH_MS)

    def last_execution_id(self) -> int:
        """Highest execution id seen so far (-1 if none)."""
        execs = self._sql.executionsList()
        n = execs.size()
        return max((execs.apply(i).executionId() for i in range(n)), default=-1)

    def executions_after(self, execution_id: int) -> list[Execution]:
        """Finished executions with an id greater than ``execution_id``."""
        self.flush()
        out = []
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= execution_id or not e.completionTime().isDefined():
                continue
            out.append(self._execution(e))
        return sorted(out, key=lambda x: x.execution_id)

    def _execution(self, e) -> Execution:
        eid = e.executionId()
        values = self._sql.executionMetrics(eid)
        nodes = []
        for n in _scala_iter(self._sql.planGraph(eid).allNodes()):
            metrics = {}
            for m in _scala_iter(n.metrics()):
                v = values.get(m.accumulatorId())
                metrics[m.name()] = v.get() if v.isDefined() else None
            nodes.append(PlanNode(n.name(), n.desc(), metrics))
        stages = [self.stage(int(s)) for s in _scala_iter(e.stages())]
        return Execution(
            execution_id=eid,
            start_ms=e.submissionTime(),
            end_ms=e.completionTime().get().getTime(),
            nodes=nodes,
            stages=[s for s in stages if s is not None],
            jobs=e.jobs().size(),
        )

    def stage(self, stage_id: int) -> StageStats | None:
        try:
            s = self._core.lastStageAttempt(stage_id)
        except Exception:  # py4j error: stage evicted from the store
            return None
        return StageStats(
            stage_id=stage_id,
            executor_cpu_s=s.executorCpuTime() / 1e9,
            gc_s=s.jvmGcTime() / 1e3,
            fetch_wait_s=s.shuffleFetchWaitTime() / 1e3,
            shuffle_write_mb=s.shuffleWriteBytes() / 2**20,
            spill_mb=(s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
            failed_tasks=s.numFailedTasks(),
            num_tasks=s.numTasks(),
        )

    def task_median_max(self, stage_id: int) -> tuple[float, float]:
        """Median and largest task executor run time (s) of one stage."""
        gw = self._spark.sparkContext._gateway
        arr = gw.new_array(gw.jvm.double, 2)
        arr[0], arr[1] = 0.5, 1.0
        attempt = self._core.lastStageAttempt(stage_id).attemptId()
        dist = self._core.taskSummary(stage_id, attempt, arr)
        if not dist.isDefined():
            return 0.0, 0.0
        run = dist.get().executorRunTime()
        return run.apply(0) / 1e3, run.apply(1) / 1e3
