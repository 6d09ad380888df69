"""Expected outputs from the program's DuckDB twins, and the checks that
compare a run's sinks against them.

Expectations are computed once per benchmark run, in set-up, over the same
parquet table the program reads. Each check returns a list of human-readable
mismatches; an empty list means the outputs are correct.
"""

from __future__ import annotations

import glob
import json
import os
from collections import Counter

import duckdb

ROUTE_SINKS = (
    ["diagnostics"]
    + [f"severity={s}" for s in ("error", "warning", "info", "note")]
    + [f"class={c}" for c in ("error", "warning", "note", "tool-invocation",
                              "step-boundary")]
)
_ROUTE_KEYS = ["conv_id", "turn_idx", "severity", "diag_class", "ts_bucket",
               "conv_bucket"]


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # small: it runs beside the Spark JVM
    con.execute("SET threads=2")
    con.execute("SET memory_limit='1GB'")
    return con


def _scan(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning=true)"


def _files(path: str) -> list[str]:
    return glob.glob(f"{path}/**/*.parquet", recursive=True)


def _select(cols: list[str]) -> str:
    return ", ".join(f'"{c}"' for c in cols)


def _rows(con, sql: str) -> list[tuple]:
    return con.execute(sql).fetchall()


def _multiset(rows) -> Counter:
    return Counter(tuple(str(v) for v in r) for r in rows)


def _diff(name: str, got: Counter, want: Counter) -> list[str]:
    if got == want:
        return []
    extra = sum((got - want).values())
    missing = sum((want - got).values())
    return [f"{name}: {missing} expected rows missing, {extra} unexpected rows"]


# -- routing ---------------------------------------------------------------

def route_expectations(con, table: str, n_salt: int, ts_granularity: str,
                       drop_null_text: bool) -> dict:
    """Per-sink row counts and the routed-row keys of the diagnostics sink,
    from ``classified_sql`` + ``sink_partitions_sql`` over ``table``."""
    from buildlogparser_spark.operators.classify import classified_sql
    from buildlogparser_spark.operators.route import sink_partitions_sql

    where = " WHERE text IS NOT NULL" if drop_null_text else ""
    cte = f"SELECT * FROM read_parquet('{table}/*.parquet'){where}"
    diag = classified_sql(cte, cols=["conv_id", "turn_idx", "ts", "tool",
                                     "severity", "diag_class"])
    con.execute(f"CREATE OR REPLACE TEMP TABLE twin_diag AS {diag}")
    counts = {"diagnostics": _rows(con, "SELECT count(*) FROM twin_diag")[0][0]}
    for sink in ROUTE_SINKS[1:]:
        col, val = sink.split("=")
        col = "diag_class" if col == "class" else col
        counts[sink] = _rows(
            con, f"SELECT count(*) FROM twin_diag WHERE {col} = '{val}'")[0][0]
    keys = _rows(con, f"SELECT {_select(_ROUTE_KEYS)} FROM ("
                 + sink_partitions_sql("SELECT * FROM twin_diag", n_salt,
                                       ts_granularity) + ") p")
    return {"counts": counts, "keys": _multiset(keys)}


def check_route(con, sinks_root: str, want: dict, subdirs: str = "") -> list[str]:
    """Row count of every sink, plus the routed keys of the diagnostics sink.
    ``subdirs`` is a glob under each sink (``batch_id=*`` for streaming)."""
    bad = []
    for sink, n in want["counts"].items():
        path = os.path.join(sinks_root, sink, subdirs) if subdirs else \
            os.path.join(sinks_root, sink)
        if not _files(path):
            if n:
                bad.append(f"{sink}: no files, expected {n} rows")
            continue
        got = _rows(con, f"SELECT count(*) FROM {_scan(path)}")[0][0]
        if got != n:
            bad.append(f"{sink}: {got} rows, expected {n}")
    diag = os.path.join(sinks_root, "diagnostics", subdirs) if subdirs else \
        os.path.join(sinks_root, "diagnostics")
    if _files(diag):
        keys = _rows(con, f"SELECT {_select(_ROUTE_KEYS)} FROM {_scan(diag)}")
        bad += _diff("diagnostics keys", _multiset(keys), want["keys"])
    return bad


# -- batch job -------------------------------------------------------------

def job_expectations(con, table: str, n_salt: int, ts_granularity: str) -> dict:
    src = f"read_parquet('{table}/*.parquet')"
    n_in, n_null = _rows(con, f"SELECT count(*), count(*) - count(text) FROM {src}")[0]
    route = route_expectations(con, table, n_salt, ts_granularity,
                               drop_null_text=True)
    sev = _rows(con, """
        SELECT count(*),
               count(*) FILTER (WHERE severity = 'error'),
               count(*) FILTER (WHERE severity = 'warning'),
               count(*) FILTER (WHERE severity = 'info'),
               count(*) FILTER (WHERE severity = 'note')
        FROM twin_diag""")[0]
    ept = _rows(con, "SELECT tool, count(*) FROM twin_diag "
                     "WHERE severity = 'error' GROUP BY tool")
    return {
        "input_rows": n_in, "dead_rows": n_null, "route": route,
        "unmatched_rows": n_in - n_null - route["counts"]["diagnostics"],
        "severity_counts": dict(zip(
            ["total_count", "error_count", "warning_count", "info_count",
             "note_count"], sev)),
        "errors_per_tool": _multiset(ept),
    }


def _json_rows(path: str) -> list[dict]:
    rows = []
    for fn in sorted(glob.glob(f"{path}/*.json")):
        with open(fn) as f:
            rows += [json.loads(line) for line in f if line.strip()]
    return rows


def check_job(con, out: str, want: dict) -> list[str]:
    bad = check_route(con, out, want["route"])
    dead = os.path.join(out, "dead_letter")
    n_dead = _rows(con, f"SELECT count(*) FROM {_scan(dead)}")[0][0] \
        if _files(dead) else 0
    if n_dead != want["dead_rows"]:
        bad.append(f"dead_letter: {n_dead} rows, expected {want['dead_rows']}")
    diag = os.path.join(out, "diagnostics")
    n_diag = _rows(con, f"SELECT count(*) FROM {_scan(diag)}")[0][0] \
        if _files(diag) else 0
    if n_dead + n_diag + want["unmatched_rows"] != want["input_rows"]:
        bad.append(f"dead-letter {n_dead} + diagnostics {n_diag} + unmatched "
                   f"{want['unmatched_rows']} rows != {want['input_rows']} input rows")
    sev = _json_rows(os.path.join(out, "aggregates", "severity_counts"))
    if sev != [want["severity_counts"]]:
        bad.append(f"severity_counts: {sev} != {want['severity_counts']}")
    ept = _multiset((r["tool"], r["n_errors"]) for r in
                    _json_rows(os.path.join(out, "aggregates", "errors_per_tool")))
    bad += _diff("errors_per_tool", ept, want["errors_per_tool"])
    for name in ("warnings_per_conversation", "top_files"):
        if not glob.glob(os.path.join(out, "aggregates", name, "*.json")):
            bad.append(f"aggregates/{name}: missing")
    for name in ("json", "stats"):
        if not glob.glob(os.path.join(out, "report", name, "part-*")):
            bad.append(f"report/{name}: missing")
    return bad


# -- stateful assembly -----------------------------------------------------

_FLAT_COLS = ["conv_id", "start_turn_idx", "file", "line", "column", "severity",
              "message", "n_related", "related_joined", "source", "category"]
_XCTEST_COLS = ["conv_id", "start_turn_idx", "file", "line", "severity",
                "message", "source", "category", "raw", "build_target",
                "n_related", "related_joined"]
_STATEFUL_COLS = _FLAT_COLS + ["raw", "build_target"]


def assembly_expectations(con, table: str) -> dict:
    """compile_blocks / xctest_blocks from their SQL twins; parse_stateful
    from the pure-Python ``oracle.ParserOracle`` (it has no SQL twin)."""
    from buildlogparser_spark.operators.assemble import (
        compile_blocks_sql, xctest_blocks_sql)
    from buildlogparser_spark.oracle import parse_lines_with_turns
    from buildlogparser_spark.rules.table import default_stack

    cte = f"SELECT * FROM read_parquet('{table}/*.parquet')"
    want = {
        "compile_blocks": _multiset(_rows(
            con, f"SELECT {_select(_FLAT_COLS)} FROM ({compile_blocks_sql(cte)}) q")),
        "xctest_blocks": _multiset(_rows(
            con, f"SELECT {_select(_XCTEST_COLS)} FROM ({xctest_blocks_sql(cte)}) q")),
    }
    rows = []
    lines = con.execute(
        f"SELECT conv_id, list(text ORDER BY turn_idx), list(turn_idx ORDER BY turn_idx) "
        f"FROM read_parquet('{table}/*.parquet') GROUP BY conv_id").fetchall()
    for conv, texts, turns in lines:
        for t, d in parse_lines_with_turns(texts, turns, default_stack()):
            rows.append((conv, t, d.file, d.line, d.column, d.severity, d.message,
                         len(d.related_messages), "\n".join(d.related_messages),
                         d.source, d.category, d.raw, d.build_target))
    want["parse_stateful"] = _multiset(rows)
    return want


def check_assembly(con, out: str, want: dict) -> list[str]:
    cols = {"compile_blocks": _FLAT_COLS, "xctest_blocks": _XCTEST_COLS,
            "parse_stateful": _STATEFUL_COLS}
    bad = []
    for name, expected in want.items():
        path = os.path.join(out, name)
        if not _files(path):
            bad.append(f"{name}: no output files")
            continue
        got = _rows(con, f"SELECT {_select(cols[name])} FROM {_scan(path)}")
        bad += _diff(name, _multiset(got), expected)
    return bad
