"""Per-stage lineage + row-count metrics (SURVEY.md §4 custom-work item 3).

Spark's ``observe`` API attaches named aggregates to a DataFrame that are
computed DURING the action (no extra pass, no extra shuffle) — the Spark
analog of the reference's per-sink counters
(StatsCollector — OutputFormatters.swift:366-428, which counts rows as they
flow through ``write``).

Usage::

    mx = StageMetrics()
    diags = mx.observe(classify(tr), "classify")
    routed = mx.observe(enrich(diags), "enrich")
    routed.write...           # action triggers both observations
    mx.report()               # {"classify": {"rows": ..., "null_text": 0}, ...}
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, functions as F


class StageMetrics:
    """Collects named per-stage observations; ``report()`` after an action."""

    def __init__(self) -> None:
        self._obs: dict[str, Observation] = {}
        self._t0 = time.time()

    def observe(self, df: DataFrame, stage: str, *extra_aggs) -> DataFrame:
        """Attach a row-count (plus optional extra aggregates) observation.

        Stage names must be unique per StageMetrics instance; the returned
        DataFrame is otherwise identical to the input.
        """
        obs = Observation(stage)
        self._obs[stage] = obs
        aggs = [F.count(F.lit(1)).alias("rows"), *extra_aggs]
        return df.observe(obs, *aggs)

    def report(self) -> dict[str, dict]:
        """Metric values for every stage whose action has completed.

        ``Observation.get`` blocks until the observed DataFrame has been
        acted on — only call after the job ran. Contains stage rows only;
        wall-clock comes from :meth:`wall_s` (it is a duration, not a stage
        row count, and must not be mixed into the per-stage map).
        """
        return {stage: self.get(stage) for stage in self._obs}

    def get(self, stage: str) -> dict:
        """Metric values of one stage; blocks until its action has run."""
        return dict(self._obs[stage].get)

    def wall_s(self) -> float:
        """Seconds since this StageMetrics was constructed."""
        return round(time.time() - self._t0, 3)
