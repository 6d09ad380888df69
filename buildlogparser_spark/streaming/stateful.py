"""Custom stateful streaming operator: the consumeLine state machine over an
unbounded transcript stream via ``applyInPandasWithState``.

This is the streaming twin of the reference's async parse path
(``parse(input: AsyncDiagnosticInput)`` — BuildLogParser.swift:314-323): a
diagnostic can span micro-batches, so the in-flight ``current`` diagnostic
(the parser's single piece of state — BuildLogParser.swift:284, carried as
``ParserOracle.state()``) lives in Spark's per-group state store, keyed by
``conv_id``, surviving across batches AND across query restarts
(state-store checkpointing).

Arrival order: turns may arrive in any order across micro-batches. The
state buffers turns ahead of the next expected ``turn_idx`` and feeds the
parser only the contiguous prefix — a watermark driven by turn-idx
contiguity instead of a clock, exact because ``turn_idx`` is a dense
0-based position per conversation (FIXTURES.md §1). In-order arrival is
the case where the buffer stays empty. A duplicate or late turn (below the
next expected one) is dropped; a producer hole raises once
``MAX_BUFFERED_TURNS`` turns wait behind it, since state on an unbounded
stream must stay bounded.

End-of-conversation: the reference flushes the trailing in-flight
diagnostic on an EXPLICIT ``finish()`` call (BuildLogParser.swift:366-373),
not on a timer, and so does this operator: a sentinel turn whose ``text``
equals ``EOF_MARKER`` flushes and clears the conversation's state. There
is no timeout: under ``Trigger.AvailableNow`` Spark fires processing-time
timeouts in the run's final batch regardless of the configured duration
(observed on Spark 4.1), which would flush mid-block state between runs.
"""

from __future__ import annotations

import json
from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..operators.assemble import STATEFUL_SCHEMA, _diag_row

#: end-of-conversation sentinel (ASCII EOT) — never a real log line
EOF_MARKER = "\x04"
#: per-conversation bound on turns waiting behind a producer hole
MAX_BUFFERED_TURNS = 100_000

# state: the parser's resume state + next expected turn + buffered turns
_STATE_SCHEMA = StructType([
    StructField("parser_state", StringType()),
    StructField("next_turn", IntegerType()),
    StructField("buffer_json", StringType()),   # {turn: text} for turns > next
])

_COLS = [f.name for f in STATEFUL_SCHEMA.fields]


def stream_parse_stateful(transcripts: DataFrame, rules_factory) -> DataFrame:
    """transcripts must be a STREAMING DataFrame with at least
    (conv_id, turn_idx, text). Returns the diagnostics stream
    (STATEFUL_SCHEMA). A diagnostic is emitted once its full causal prefix
    has arrived, so the completed stream equals the batch parser on the
    same input."""
    from ..shipping import ensure_shipped

    ensure_shipped(transcripts.sparkSession)

    def fn(key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        from buildlogparser_spark.oracle import ParserOracle

        conv = key[0]
        (parser_state, next_turn, buf_json) = (
            state.get if state.exists else (None, 0, None))
        oracle = ParserOracle(rules_factory(), parser_state)
        buffer = ({int(k): v for k, v in json.loads(buf_json).items()}
                  if buf_json else {})

        rows = pd.concat(list(pdfs), ignore_index=True)
        for turn, text in zip(rows["turn_idx"], rows["text"]):
            t = int(turn)
            if t >= next_turn:          # duplicates/stale turns are dropped
                buffer[t] = text

        finished = False
        while next_turn in buffer:
            text = buffer.pop(next_turn)
            if text == EOF_MARKER:
                oracle.finish()
                finished = True
            else:
                oracle.consume_line(text, next_turn)
            next_turn += 1
        if len(buffer) > MAX_BUFFERED_TURNS:
            raise RuntimeError(
                f"conv {conv}: {len(buffer)} buffered turns exceed "
                f"{MAX_BUFFERED_TURNS} — producer hole at turn {next_turn}")

        out = [_diag_row(conv, t, d)
               for t, d in zip(oracle.out_line_nos, oracle.out)]
        if finished and oracle.current is None and not buffer:
            state.remove()
        else:
            state.update((oracle.state(), next_turn,
                          json.dumps(buffer) if buffer else None))
        yield pd.DataFrame(out, columns=_COLS)

    return (
        transcripts.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(fn, STATEFUL_SCHEMA, _STATE_SCHEMA,
                                "append", GroupStateTimeout.NoTimeout)
    )
