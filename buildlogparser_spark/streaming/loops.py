"""Streaming stuck-agent loop detection: run-length state over an
unbounded transcript stream via ``applyInPandasWithState``.

The streaming twin of :func:`~..operators.aggregate.tool_call_loops`: a
run of identical (role, tool, md5(text)) turns can span micro-batches, so
the in-flight run (its key, bounds and length) lives in the per-group
state store keyed by ``conv_id``, surviving across batches and restarts.
An alert row is emitted when a run *closes* — a differing turn arrives, or
the conversation's EOF sentinel lands — and only if the closed run reached
``min_run``; the emitted rows therefore equal the batch operator's maximal
runs exactly (asserted batch-vs-stream in tests/test_streaming_loops.py).

Contract: within one conversation, turns arrive batch-over-batch in
``turn_idx`` order (each batch's rows are sorted internally). Unlike
``stream_parse_stateful``, which buffers early turns until the gap before
them fills, this operator keeps no turn buffer: its state stays one row.
End-of-conversation is the same explicit ``EOF_MARKER`` protocol (a timer
would close runs mid-stream between availableNow runs — the documented
Spark 4.1 timeout behavior in streaming/stateful.py).

Scale shape (10^12 turns): state is ONE bounded row per live conversation
(a 3-string key + 3 ints — never buffered turns), hash-partitioned by
conv_id across executors by the state store itself.
"""

from __future__ import annotations

import hashlib
from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType)

from .stateful import EOF_MARKER

ALERT_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("role", StringType()),
    StructField("tool", StringType()),
    StructField("first_turn_idx", IntegerType()),
    StructField("last_turn_idx", IntegerType()),
    StructField("run_len", LongType()),
])

# state: the single in-flight run
_RUN_STATE_SCHEMA = StructType([
    StructField("run_role", StringType()),
    StructField("run_tool", StringType()),
    StructField("run_fp", StringType()),
    StructField("first_turn", IntegerType()),
    StructField("last_turn", IntegerType()),
    StructField("run_len", IntegerType()),
])

_COLS = [f.name for f in ALERT_SCHEMA.fields]


def _fp(text: object) -> str:
    s = "" if text is None or (isinstance(text, float) and pd.isna(text)) \
        else str(text)
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def stream_loop_alerts(transcripts: DataFrame, min_run: int = 3) -> DataFrame:
    """transcripts must be a STREAMING DataFrame with at least
    (conv_id, turn_idx, role, text, tool). Returns the alert stream
    (ALERT_SCHEMA): one row per closed run of >= min_run identical turns."""
    from ..shipping import ensure_shipped

    ensure_shipped(transcripts.sparkSession)

    def fn(key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        conv = key[0]
        run = state.get if state.exists else None  # (role,tool,fp,f,l,n)
        out: list[dict] = []

        def close(r) -> None:
            if r is not None and r[5] >= min_run:
                out.append({
                    "conv_id": conv, "role": r[0], "tool": r[1],
                    "first_turn_idx": r[3], "last_turn_idx": r[4],
                    "run_len": r[5]})

        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("turn_idx")
        finished = False
        for turn, role, text, tool in zip(
                rows["turn_idx"], rows["role"], rows["text"], rows["tool"]):
            if text == EOF_MARKER:
                close(run)
                run = None
                finished = True
                continue
            finished = False
            k = (None if role is None else str(role),
                 None if tool is None else str(tool), _fp(text))
            if run is not None and (run[0], run[1], run[2]) == k:
                run = (run[0], run[1], run[2], run[3], int(turn),
                       run[5] + 1)
            else:
                close(run)
                run = (k[0], k[1], k[2], int(turn), int(turn), 1)

        if finished or run is None:
            state.remove()
        else:
            state.update(run)
        yield pd.DataFrame(out, columns=_COLS)

    return (
        transcripts.select("conv_id", "turn_idx", "role", "text", "tool")
        .groupBy("conv_id")
        .applyInPandasWithState(fn, ALERT_SCHEMA, _RUN_STATE_SCHEMA,
                                "append", GroupStateTimeout.NoTimeout)
    )
