"""Custom stateful streaming operator: the consumeLine state machine over an
unbounded transcript stream via ``applyInPandasWithState``.

This is the true streaming twin of the reference's async parse path
(``parse(input: AsyncDiagnosticInput)`` — BuildLogParser.swift:314-323): a
diagnostic can span micro-batches, so the in-flight ``current`` diagnostic
(the parser's single piece of state — BuildLogParser.swift:284) lives in
Spark's per-group state store, keyed by ``conv_id``, surviving across
batches AND across query restarts (state-store checkpointing).

Contract: within one conversation, turns must arrive batch-over-batch in
``turn_idx`` order (each batch's rows are sorted internally; cross-batch
reordering would need a watermark-buffered sort upstream — out of scope,
matching the reference's strictly-ordered line stream).

End-of-conversation: the reference flushes the trailing in-flight
diagnostic on an EXPLICIT ``finish()`` call (BuildLogParser.swift:366-373),
not on a timer — so the streaming twin does the same: a sentinel row whose
``text`` equals ``eof_marker`` flushes and clears the conversation's state.
An optional ProcessingTimeTimeout flush (``idle_timeout_ms``) exists for
continuous deployments where producers may die without an EOF; note that
under ``Trigger.AvailableNow`` Spark fires processing-time timeouts in the
run's final batch regardless of the configured duration (observed on Spark
4.1), which would flush mid-block state between runs — with an EOF-marker
protocol leave it off.
"""

from __future__ import annotations

import json
from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..operators.assemble import STATEFUL_SCHEMA, _diag_row

#: default end-of-conversation sentinel (ASCII EOT) — never a real log line
DEFAULT_EOF_MARKER = "\x04"

# state: one row — the serialized in-flight diagnostic (or null) + its turn
STATE_SCHEMA = StructType([
    StructField("current_json", StringType()),
    StructField("current_turn", IntegerType()),
])

_COLS = [f.name for f in STATEFUL_SCHEMA.fields]


def stream_parse_stateful(transcripts: DataFrame, rules_factory,
                          eof_marker: str = DEFAULT_EOF_MARKER,
                          idle_timeout_ms: int | None = None) -> DataFrame:
    """transcripts must be a STREAMING DataFrame with at least
    (conv_id, turn_idx, text). Returns the diagnostics stream
    (STATEFUL_SCHEMA)."""
    from ..shipping import ensure_shipped

    ensure_shipped(transcripts.sparkSession)

    def fn(key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        from buildlogparser_spark.oracle import ParserOracle
        from buildlogparser_spark.rules.table import Diagnostic as D

        conv = key[0]
        if state.hasTimedOut:
            # idle-producer flush (only reachable with idle_timeout_ms set)
            (cur_json, cur_turn) = state.get if state.exists else (None, None)
            state.remove()
            if cur_json:
                d = D(**json.loads(cur_json))
                yield pd.DataFrame([_diag_row(conv, cur_turn, d)],
                                   columns=_COLS)
            return

        oracle = ParserOracle(rules_factory())
        if state.exists:
            (cur_json, cur_turn) = state.get
            if cur_json:
                oracle.current = D(**json.loads(cur_json))
                oracle.current_line_no = cur_turn

        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("turn_idx")
        finished = False
        for turn, text in zip(rows["turn_idx"], rows["text"]):
            if text == eof_marker:
                oracle.finish()   # flush trailing in-flight (finish())
                finished = True
            else:
                oracle.consume_line(text, int(turn))

        out = [_diag_row(conv, t, d)
               for t, d in zip(oracle.out_line_nos, oracle.out)]
        if finished and oracle.current is None:
            state.remove()
        else:
            state.update((
                json.dumps(oracle.current.__dict__) if oracle.current else None,
                oracle.current_line_no))
            if idle_timeout_ms is not None:
                state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(out, columns=_COLS)

    timeout_conf = (GroupStateTimeout.ProcessingTimeTimeout
                    if idle_timeout_ms is not None
                    else GroupStateTimeout.NoTimeout)
    return (
        transcripts.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(fn, STATEFUL_SCHEMA, STATE_SCHEMA, "append",
                                timeout_conf)
    )


# ---------------------------------------------------------------------------
# Out-of-order arrival (ROADMAP: watermark-buffered assembly)
# ---------------------------------------------------------------------------

# state: in-flight diagnostic + next expected turn + buffered future turns
UNORDERED_STATE_SCHEMA = StructType([
    StructField("current_json", StringType()),
    StructField("current_turn", IntegerType()),
    StructField("next_turn", IntegerType()),
    StructField("buffer_json", StringType()),   # {turn: text} for turns > next
])


def stream_parse_stateful_unordered(
        transcripts: DataFrame, rules_factory,
        eof_marker: str = DEFAULT_EOF_MARKER,
        max_buffer: int = 100_000) -> DataFrame:
    """:func:`stream_parse_stateful` without the in-order arrival contract:
    turns may arrive shuffled ACROSS micro-batches (late/early data). The
    per-conversation state buffers turns that arrive ahead of the next
    expected ``turn_idx`` and feeds the parser only the contiguous prefix —
    the event-time analog of a watermark-buffered sort, with the watermark
    driven by turn-idx contiguity instead of a clock (exact, not heuristic:
    turn_idx is dense per conversation, 0-based — the transcript table's
    ordering contract, FIXTURES.md §1).

    ``max_buffer`` bounds state per conversation: a producer hole older
    than ``max_buffer`` buffered turns raises rather than silently
    reordering (bounded state is mandatory on an unbounded stream).
    Output rows appear once their full causal prefix has arrived, so the
    result equals the batch parser on the same (completed) input."""
    from ..shipping import ensure_shipped

    ensure_shipped(transcripts.sparkSession)

    def fn(key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        from buildlogparser_spark.oracle import ParserOracle
        from buildlogparser_spark.rules.table import Diagnostic as D

        conv = key[0]
        oracle = ParserOracle(rules_factory())
        next_turn = 0
        buffer: dict[int, str] = {}
        if state.exists:
            (cur_json, cur_turn, nxt, buf_json) = state.get
            next_turn = nxt or 0
            if cur_json:
                oracle.current = D(**json.loads(cur_json))
                oracle.current_line_no = cur_turn
            if buf_json:
                buffer = {int(k): v for k, v in json.loads(buf_json).items()}

        rows = pd.concat(list(pdfs), ignore_index=True)
        for turn, text in zip(rows["turn_idx"], rows["text"]):
            t = int(turn)
            if t >= next_turn:          # duplicates/stale turns are dropped
                buffer[t] = text
        if len(buffer) > max_buffer:
            raise RuntimeError(
                f"conv {conv}: {len(buffer)} buffered turns exceed "
                f"max_buffer={max_buffer} — producer hole at turn {next_turn}")

        finished = False
        while next_turn in buffer:
            text = buffer.pop(next_turn)
            if text == eof_marker:
                oracle.finish()
                finished = True
            else:
                oracle.consume_line(text, next_turn)
            next_turn += 1

        out = [_diag_row(conv, t, d)
               for t, d in zip(oracle.out_line_nos, oracle.out)]
        if finished and oracle.current is None and not buffer:
            state.remove()
        else:
            state.update((
                json.dumps(oracle.current.__dict__) if oracle.current else None,
                oracle.current_line_no, next_turn,
                json.dumps(buffer) if buffer else None))
        yield pd.DataFrame(out, columns=_COLS)

    return (
        transcripts.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(fn, STATEFUL_SCHEMA, UNORDERED_STATE_SCHEMA,
                                "append", GroupStateTimeout.NoTimeout)
    )
