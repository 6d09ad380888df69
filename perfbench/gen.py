"""Seeded transcript tables for the benchmark's workloads.

A seeded events table ``(event_id, ts, user_id, event_type)`` is turned into
transcripts by ``transcripts.TRANSCRIPT_SQL``, the DuckDB twin of the
program's ``derive_transcripts`` (the repo's tests assert the two produce
identical rows). The twin runs in DuckDB, so set-up starts no Spark job:
a cold first Spark job would add about ten seconds to every run's set-up.

``datagen.gen_events_spark`` takes no seed, so the seed is mixed in here,
into every column that shapes the output: event ids (which pick the
log-line parameters), the conversation each event lands in, timestamps
(turn order and sink buckets), event types (roles), which turns get NULL
text (dead-letter rows) and which file each row lands in. The same seed
gives the same table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_P = 2_147_483_647  # prime: i -> (a * i + b) mod P is a bijection for a != 0
_EVENT_TYPES = np.array(["signup", "click", "view", "purchase", "error"])
_TURNS_PER_CONV = 64  # mean size of an ordinary conversation
_SPAN_DAYS = 90       # timestamp range (sets the sink ts buckets)


@dataclass(frozen=True)
class TableSpec:
    """Shape of one generated transcript table."""

    turns: int                   # total rows
    null_text_frac: float = 0.0  # share of turns with NULL text
    hot_turns: int = 0           # rows of the single hot conversation
    files: int = 4               # parquet files written


def events(spec: TableSpec, seed: int) -> pa.Table:
    from buildlogparser_spark.datagen import BASE_TS

    rng = np.random.default_rng(seed)
    n = spec.turns
    i = np.arange(n, dtype=np.int64)
    a, b = (int(x) for x in rng.integers(1, _P, size=2))
    n_conv = max(1, (n - spec.hot_turns) // _TURNS_PER_CONV)
    user = rng.integers(1, n_conv + 1, size=n)
    user[: spec.hot_turns] = 0
    secs = BASE_TS + rng.integers(0, _SPAN_DAYS * 86_400, size=n)
    return pa.table({
        "event_id": (a * i + b) % _P,
        "ts": pa.array(secs * 1_000_000, pa.timestamp("us")),
        "user_id": user,
        "event_type": _EVENT_TYPES[rng.integers(0, 5, size=n)],
    })


def transcripts(con, spec: TableSpec, seed: int) -> pa.Table:
    """The seeded transcript table (conv_id, turn_idx, role, text, tool, ts),
    ordered by (conv_id, turn_idx)."""
    from buildlogparser_spark.transcripts import TRANSCRIPT_SQL

    ev = events(spec, seed)  # noqa: F841  (read by DuckDB below)
    con.execute("CREATE OR REPLACE TEMP VIEW events AS SELECT * FROM ev")
    tr = con.execute(f"SELECT * FROM ({TRANSCRIPT_SQL}) t ORDER BY conv_id, turn_idx").arrow()
    con.execute("DROP VIEW events")
    if spec.null_text_frac > 0:
        rng = np.random.default_rng([seed, 1])
        null = rng.random(tr.num_rows) < spec.null_text_frac
        text = pc.if_else(pa.array(null), pa.scalar(None, pa.string()),
                          tr.column("text"))
        tr = tr.set_column(tr.schema.get_field_index("text"), "text", text)
    return tr


def write_table(con, spec: TableSpec, seed: int, path: str) -> None:
    """Write the table as ``spec.files`` parquet files under ``path``, each
    row in a seeded-random file."""
    tr = transcripts(con, spec, seed)
    rng = np.random.default_rng([seed, 2])
    which = rng.integers(0, spec.files, size=tr.num_rows)
    os.makedirs(path, exist_ok=True)
    for k in range(spec.files):
        pq.write_table(tr.filter(pa.array(which == k)),
                       os.path.join(path, f"part-{k:05d}.parquet"))
