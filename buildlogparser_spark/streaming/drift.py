"""Streaming corpus drift monitor — per-micro-batch PSI against a fixed
reference histogram.

The streaming sibling of :func:`~..operators.drift.corpus_drift`: an
ingest stream's categorical profile (language mix, source mix) is
compared batch-by-batch against the accepted reference distribution, and
a (batch_id, dim, psi, alert) row is emitted per dimension — the
"did today's crawl change under me" gate running continuously instead of
between snapshots. PSI arithmetic is byte-identical to the batch
operator's (:func:`~..operators.drift.psi_value`: Laplace smoothing over
the union bin set, 9-dp portable rounding around ``ln``, bin-ordered
fold, 6-dp total), so a stream batch and the same rows run through the
batch operator agree exactly.

Scale shape (10^9-doc/day ingest): the per-batch histogram is a plain
DataFrame hash-agg (map-side combinable) — only the |dims|·|bins|-row
RESULT crosses to the driver, where the PSI fold over a few hundred bins
is O(bins). The reference histogram is config-sized state (it describes
the accepted corpus profile, not the corpus) held driver-side, exactly
as production would load it from a metrics table. ``foreachBatch`` is
the right tool here — there is no per-key cross-batch state to carry
(each batch is judged independently against the reference), so the
state-store machinery of the loop/near-dup monitors is not needed.

Reference analog: none (the reference is a diagnostics parser); this is
a driver-brief telemetry/training-data op.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from ..operators.drift import dim_bins, psi_value


def reference_histogram(documents: DataFrame) -> dict[str, dict[str, int]]:
    """{dim: {bin: count}} from a static corpus — the accepted profile the
    stream is judged against. The collect is of the |dims|·|bins|-row
    AGGREGATE only (config-sized), never corpus rows."""
    from pyspark.sql import functions as F

    hist: dict[str, dict[str, int]] = {}
    for r in (dim_bins(documents).groupBy("dim", "bin")
              .agg(F.count("*").alias("n")).collect()):
        hist.setdefault(r["dim"], {})[r["bin"]] = r["n"]
    return hist


def stream_drift_monitor(doc_stream: DataFrame,
                         reference: dict[str, dict[str, int]],
                         on_result: Callable[[int, str, float, bool], None],
                         threshold: float = 0.25,
                         checkpoint_dir: str | None = None):
    """Start the monitor: per micro-batch, per dimension, call
    ``on_result(batch_id, dim, psi, alert)``. ``threshold`` follows the
    standard PSI reading (≥0.25 = shifted). Dimensions absent from a batch
    (e.g. an empty batch) are still judged — their batch histogram is
    empty, which PSI handles through the smoothing. The query runs with an
    ``availableNow`` trigger: it drains what is available and stops (a
    bounded run). Returns the started StreamingQuery (callers await it).
    ``on_result`` is the test/callback sink; production
    swaps in a metrics-table writer — the contract is the emitted tuples,
    not the transport."""
    def fb(batch_df: DataFrame, batch_id: int) -> None:
        # the batch profile is computed by the SAME function as the
        # reference profile — a drift monitor whose two histograms can
        # drift from each other measures nothing (review finding)
        hist = reference_histogram(batch_df)
        for dim in sorted(set(reference) | set(hist)):
            psi = psi_value(reference.get(dim, {}), hist.get(dim, {}))
            on_result(batch_id, dim, psi, psi >= threshold)

    w = doc_stream.writeStream.foreachBatch(fb).trigger(availableNow=True)
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w.start()
