"""CRLF log lines: Spark's Java regex engine must match as the DuckDB twins
(RE2) and the Python oracle do.

Java's ``$`` matches before a trailing ``\\r`` and its ``.`` excludes
``\\r``; RE2 and Python do neither. A CRLF log split on ``\\n`` reaches
classify with that ``\\r``, so without the UNIX_LINES flag ``(?d)`` (added by
``classify.java_re``) Spark classified R4/R5 lines the twins do not match
and cut the ``\\r`` off R3 messages. The differential test runs the sf0.001
transcript and aux streams with ``\\r`` appended to every line; the guard
test reads the optimized plans so that a new regex call site cannot drop
the flag."""

from __future__ import annotations

import json

import pytest

from buildlogparser_spark.operators.assemble import (
    compile_blocks_flat, compile_blocks_sql, xcodebuild_warning_blocks,
    xcodebuild_warning_blocks_sql)
from buildlogparser_spark.operators.classify import classified_sql, classify
from buildlogparser_spark.transcripts import AUX_TRANSCRIPT_SQL, TRANSCRIPT_SQL

from conftest import assert_frames_match, duck_df

_CLASSIFY_COLS = [
    "conv_id", "turn_idx", "text", "rule_id", "file", "line", "column",
    "severity", "message", "source", "category", "raw", "build_target",
    "diag_class",
]


@pytest.fixture(scope="module")
def crlf(spark, duck_smoke, tmp_path_factory):
    """(Spark frame, DuckDB CTE body) over one parquet of CRLF lines: the
    transcript stream and the aux stream (as ``aux_`` conversations)."""
    path = tmp_path_factory.mktemp("crlf") / "transcripts.parquet"
    duck_smoke.execute(f"""
COPY (
  SELECT conv_id, turn_idx, role, text || chr(13) AS text, tool, ts
  FROM ({TRANSCRIPT_SQL}) t
  UNION ALL
  SELECT 'aux_' || conv_id, turn_idx, 'tool', text || chr(13), NULL, ts
  FROM ({AUX_TRANSCRIPT_SQL}) a
) TO '{path}' (FORMAT parquet)""")
    return (spark.read.parquet(str(path)),
            f"SELECT * FROM read_parquet('{path}')")


def test_classify_matches_twin_on_crlf_lines(crlf, duck_smoke):
    df, cte = crlf
    got = classify(df).select(*_CLASSIFY_COLS)
    exp = duck_df(duck_smoke, classified_sql(cte, _CLASSIFY_COLS))
    assert_frames_match(got, exp, "classify")
    # the CRLF frame reaches the rules the flag changes: R3's message keeps
    # its '\r'; R4/R5 match in neither engine
    assert (exp["rule_id"] == "r3_xcb_warning").any()
    assert not exp["rule_id"].isin(
        ["r4_swiftcompile_task", "r5_build_command"]).any()
    assert exp.loc[exp["rule_id"] == "r3_xcb_warning", "message"].str.endswith(
        "\r").all()


@pytest.mark.parametrize("spark_fn, sql_fn", [
    (compile_blocks_flat, compile_blocks_sql),
    (xcodebuild_warning_blocks, xcodebuild_warning_blocks_sql),
], ids=["compile_blocks", "xcodebuild_warning_blocks"])
def test_blocks_match_twin_on_crlf_lines(crlf, duck_smoke, spark_fn, sql_fn):
    df, cte = crlf
    exp = duck_df(duck_smoke, sql_fn(cte))
    assert_frames_match(spark_fn(df), exp, spark_fn.__name__)
    assert len(exp) > 0


_REGEX_NODES = (".RLike", ".RegExpExtract", ".RegExpReplace")


def _subtree_size(flat: list, i: int) -> int:
    """Nodes in the pre-order subtree at ``flat[i]`` of a plan's JSON."""
    n = 1
    for _ in range(flat[i]["num-children"]):
        n += _subtree_size(flat, i + n)
    return n


def _regex_patterns(o):
    """Every pattern child (the second child) of a regex expression in a
    ``toJSON`` plan, as its node dict."""
    if isinstance(o, list):
        for i, x in enumerate(o):
            if isinstance(x, dict) and x.get("class", "").endswith(_REGEX_NODES):
                yield o[i + 1 + _subtree_size(o, i + 1)]
        for x in o:
            yield from _regex_patterns(x)
    elif isinstance(o, dict):
        for v in o.values():
            yield from _regex_patterns(v)


@pytest.mark.parametrize("op", [classify, compile_blocks_flat])
def test_every_spark_regex_carries_unix_lines_flag(spark, op):
    df = spark.createDataFrame(
        [("c", 0, "tool", "x", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    plan = json.loads(op(df)._jdf.queryExecution().optimizedPlan().toJSON())
    patterns = list(_regex_patterns(plan))
    assert len(patterns) >= 10
    bad = [p.get("value", p["class"]) for p in patterns
           if not (p["class"].endswith(".Literal")
                   and str(p.get("value", "")).startswith("(?d)"))]
    assert not bad, f"regex patterns without (?d): {sorted(set(bad))}"
