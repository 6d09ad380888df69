"""Per-unit checkpoint/resume manifest (SURVEY.md §4 custom-work item 3;
BASELINE.json: "resumable from per-partition checkpoints with lineage +
row-count metrics emitted per task").

The resumable unit is one sink, replaced whole by a rename: a killed job
restarts, consults the manifest, skips completed units and writes the rest
in one job. The manifest is a JSON-lines file updated with atomic
write-then-rename from the driver — the same pattern works against object
storage via a _manifest prefix (one object per unit) on a real cluster.

The fan-out itself is :func:`~.operators.route.route_writes`; this module
adds only the manifest it resumes from.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame

from .operators.route import DEFAULT_N_SALT, route_writes


class Manifest:
    """Driver-side JSON-lines manifest of completed (stage, unit) pairs."""

    def __init__(self, root: str) -> None:
        self.path = os.path.join(root, "_manifest.jsonl")
        self._done: dict[tuple[str, str], dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                for line in f:
                    if line.strip():
                        rec = json.loads(line)
                        self._done[(rec["stage"], rec["unit"])] = rec

    def get(self, stage: str, unit: str) -> dict | None:
        """The stored record of a completed unit, or None."""
        return self._done.get((stage, unit))

    def mark_done(self, stage: str, unit: str, **meta) -> None:
        rec = {"stage": stage, "unit": unit, "ts": time.time(), **meta}
        self._done[(stage, unit)] = rec
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            for r in self._done.values():
                f.write(json.dumps(r) + "\n")
        os.replace(tmp, self.path)

    def records(self) -> list[dict]:
        return list(self._done.values())


def route_writes_resumable(
    diags: DataFrame, root: str, n_salt: int = DEFAULT_N_SALT,
    ts_granularity: str = "day",
) -> dict[str, dict]:
    """:func:`route_writes` resumable per sink from ``{root}/_manifest.jsonl``:
    a sink already in the manifest is skipped and its record returned."""
    return route_writes(diags, root, n_salt, ts_granularity, manifest=Manifest(root))
