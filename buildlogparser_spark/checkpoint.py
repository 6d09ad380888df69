"""Per-sink checkpoint/resume for the batch job (SURVEY.md §4 custom-work
item 3; BASELINE.json: "resumable from per-partition checkpoints with
lineage + row-count metrics emitted per task").

The resumable unit is one sink, replaced whole by a rename. Its record is
the sink's own ``_SUCCESS``, written by :func:`~.operators.route.route_writes`
right after the rename through the path's Hadoop ``FileSystem``, so it lands
next to the sink for any root URI. A killed job reruns, skips every sink
whose ``_SUCCESS`` holds a record and writes the rest in one job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .operators.route import DEFAULT_N_SALT, route_writes


def route_writes_resumable(
    diags: DataFrame, root: str, n_salt: int = DEFAULT_N_SALT,
    ts_granularity: str = "day",
) -> dict[str, dict]:
    """The batch job's call into :func:`route_writes`, which resumes per
    sink by itself. It keeps its own name because ``perfbench`` patches
    this name to trace the job's ``checkpoint`` layer."""
    return route_writes(diags, root, n_salt, ts_granularity)
