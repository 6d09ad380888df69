"""Differential tests for the stateful operators (applyInPandas state machine
and the chunked block assembler behind every multi-line rule) against the
pure-Python oracle on adversarial generated conversations, plus the plan
shape that keeps block assembly skew-proof."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from buildlogparser_spark.datagen import conversations_df, gen_conversations
from buildlogparser_spark.oracle import parse_lines_with_turns
from buildlogparser_spark.operators import assemble as asm
from buildlogparser_spark.operators.assemble import compile_blocks, parse_stateful
from buildlogparser_spark.rules.table import CompileErrorRule, default_stack
from buildlogparser_spark.rules.table import test_stack as _ref_test_stack

SEED = 1234
N_CONVS = 30


def _expected(rules_factory):
    convs: dict[str, list[str]] = {}
    for conv_id, _i, _r, text, _tl, _ts in gen_conversations(SEED, N_CONVS):
        convs.setdefault(conv_id, []).append(text)
    exp: Counter = Counter()
    for conv_id, lines in convs.items():
        for t, d in parse_lines_with_turns(lines, list(range(len(lines))), rules_factory()):
            exp[(conv_id, t, d.category, d.severity, d.message, d.file, d.line,
                 d.column, d.source, d.build_target, tuple(d.related_messages))] += 1
    return exp


def _got(df):
    got: Counter = Counter()
    for r in df.collect():
        d = r.asDict()
        got[(d["conv_id"], d["start_turn_idx"], d["category"], d["severity"],
             d["message"], d["file"], d["line"], d["column"], d["source"],
             d["build_target"], tuple(d["related_messages"]))] += 1
    return got


def _assert_equal(exp: Counter, got: Counter):
    missing = exp - got
    extra = got - exp
    assert not missing and not extra, (
        f"missing={list(missing.items())[:3]}\nextra={list(extra.items())[:3]}")
    assert sum(exp.values()) > 50  # the corpus is non-trivial


def test_stateful_test_stack_matches_oracle(spark):
    df = conversations_df(spark, SEED, N_CONVS)
    got = _got(parse_stateful(df, _ref_test_stack))
    _assert_equal(_expected(_ref_test_stack), got)


def test_stateful_default_stack_matches_oracle(spark):
    df = conversations_df(spark, SEED, N_CONVS)
    got = _got(parse_stateful(df, default_stack))
    _assert_equal(_expected(default_stack), got)


def test_compile_blocks_matches_oracle(spark):
    df = conversations_df(spark, SEED, N_CONVS)
    got = _got(compile_blocks(df))
    _assert_equal(_expected(lambda: [CompileErrorRule()]), got)


def test_chunked_assembly_matches_oracle(spark):
    """The skew-proof chunked formulation must equal the oracle — with a
    chunk size small enough (7) that every block straddles chunk
    boundaries, exercising the prefix-sum offset merge."""
    df = conversations_df(spark, SEED, N_CONVS)
    got = _got(compile_blocks(df, chunk_size=7))
    _assert_equal(_expected(lambda: [CompileErrorRule()]), got)


def test_chunked_equals_windowed(spark):
    """16-turn chunks == the default size, where every generated
    conversation is one chunk (one window per conversation)."""
    df = conversations_df(spark, SEED + 1, N_CONVS)
    a = _got(compile_blocks(df))
    b = _got(compile_blocks(df, chunk_size=16))
    assert a == b


# Window [exprs], [partition keys], [order keys] — one executed-plan line
_WINDOW_LINE = re.compile(r"\bWindow \[.*\], \[(.*?)\], \[(.*?)\]\s*$")


def _names(spec: str) -> list[str]:
    return [re.sub(r"#\d+L?$", "", k.split(" ")[0]) for k in spec.split(", ")]


@pytest.mark.parametrize("op", [
    "compile_blocks_flat", "build_failed_blocks", "linker_blocks",
    "xcodebuild_warning_blocks", "module_failed_blocks",
    "swiftbuild_compile_blocks", "xctest_blocks"])
def test_block_windows_sort_per_chunk(spark, op):
    """Skew immunity: every window that orders a conversation's turns is
    partitioned by (conv_id, chunk), so no task sorts a whole hot
    conversation — the per-chunk parallelism BENCH/SKEW.md measures."""
    df = getattr(asm, op)(conversations_df(spark, SEED, 4))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    turn_windows = [
        _names(m.group(1)) for m in map(_WINDOW_LINE.search, plan.splitlines())
        if m and _names(m.group(2)) == ["turn_idx"]]
    assert turn_windows, plan
    assert all(keys == ["conv_id", "chunk"] for keys in turn_windows), plan


def test_partition_count_invariance(spark):
    """Same answer at 2 vs 16 shuffle partitions (Spark analog of the
    reference's multi-input consistency test, BuildLogParserTests.swift:136-183)."""
    df = conversations_df(spark, SEED, 10)
    a = _got(parse_stateful(df.repartition(2), _ref_test_stack))
    b = _got(parse_stateful(df.repartition(16), _ref_test_stack))
    assert a == b


def _expected_proj(rules_factory, attrs, convs=None):
    """Oracle expectations projected to ``attrs`` + the flat related pair."""
    if convs is None:
        convs = {}
        for conv_id, _i, _r, text, _tl, _ts in gen_conversations(SEED, N_CONVS):
            convs.setdefault(conv_id, []).append(text)
    exp: Counter = Counter()
    for conv_id, lines in convs.items():
        for t, d in parse_lines_with_turns(lines, list(range(len(lines))), rules_factory()):
            exp[(conv_id, t) + tuple(getattr(d, a) for a in attrs)
                + (len(d.related_messages), "\n".join(d.related_messages))] += 1
    return exp


def _got_proj(df, attrs):
    got: Counter = Counter()
    for r in df.collect():
        d = r.asDict()
        got[(d["conv_id"], d["start_turn_idx"]) + tuple(d[a] for a in attrs)
            + (d["n_related"], d["related_joined"])] += 1
    return got


_SB_ATTRS = ["file", "line", "column", "severity", "message", "source",
             "category", "raw"]
_XW_ATTRS = ["severity", "message", "source", "category", "raw"]
_XT_ATTRS = ["file", "line", "severity", "message", "source", "category",
             "raw", "build_target"]


def test_build_failed_blocks_match_oracle(spark):
    """Single-rule BuildFailedRule consumeLine == the generic chunked block
    assembler: header + failed-command list collected, the '(N failures)'
    terminator NOT collected (isEnd beats matchContinuation)."""
    from buildlogparser_spark.operators.assemble import build_failed_blocks
    from buildlogparser_spark.rules.table import BuildFailedRule

    df = conversations_df(spark, SEED, N_CONVS)
    exp = _expected_proj(lambda: [BuildFailedRule()], _XW_ATTRS)
    got = _got_proj(build_failed_blocks(df), _XW_ATTRS)
    assert exp == got and sum(exp.values()) > 10
    # the failed-command lists are real content, not empty blocks
    assert any(k[-2] > 0 for k in exp)


def test_linker_blocks_match_oracle(spark):
    """Single-rule LinkerErrorRule consumeLine == the generic assembler,
    including the unguarded-isEnd quirk (a linker-failed close line with no
    open block is a no-op) and the close line's exclusion from related
    despite matching the clang: continuation prefix."""
    from buildlogparser_spark.operators.assemble import linker_blocks
    from buildlogparser_spark.rules.table import LinkerErrorRule

    df = conversations_df(spark, SEED, N_CONVS)
    exp = _expected_proj(lambda: [LinkerErrorRule()], _XW_ATTRS)
    got = _got_proj(linker_blocks(df), _XW_ATTRS)
    assert exp == got and sum(exp.values()) > 10
    assert any(k[-2] > 0 for k in exp)


def test_swiftbuild_compile_blocks_match_oracle(spark):
    """Single-rule SwiftBuildCompileErrorRule consumeLine == the generic
    assembler: gutter context / pointer / blank continuations collected,
    command-failed and progress closers NOT collected, non-matching lines
    dropped in place with the block open."""
    from buildlogparser_spark.operators.assemble import swiftbuild_compile_blocks
    from buildlogparser_spark.rules.table import SwiftBuildCompileErrorRule

    df = conversations_df(spark, SEED, N_CONVS)
    exp = _expected_proj(lambda: [SwiftBuildCompileErrorRule()], _SB_ATTRS)
    got = _got_proj(swiftbuild_compile_blocks(df), _SB_ATTRS)
    assert exp == got and sum(exp.values()) > 10
    assert any(k[-2] > 0 for k in exp)  # real gutter continuations collected


def test_swiftbuild_overflow_header_closes_block(spark, duck_smoke):
    """A header whose line/column overflows Int64 is NOT a valid start
    (matchStart's Int casts reject it, SwiftBuildCompileErrorRule.swift:66-70)
    but IS an isEnd (isEnd:118 matches the raw start regex): it must close
    the open block, and trailing continuation-shaped lines must be dropped —
    not collected into a stale block (ADVICE r03). Checked against the
    Python rule oracle AND the DuckDB SQL twin."""
    import pandas as pd

    from conftest import assert_frames_match, duck_df
    from buildlogparser_spark.operators.assemble import (
        swiftbuild_compile_blocks, swiftbuild_compile_blocks_sql)
    from buildlogparser_spark.rules.table import SwiftBuildCompileErrorRule

    lines = [
        "/app/a.swift:10:2: error: bad thing",                      # start
        "  11 |     let x = y1",                                    # gutter
        "/app/b.swift:99999999999999999999:3: error: overflow",     # close only
        "      |         `- error: would-be pointer",               # dropped
        "  12 |     stale gutter",                                  # dropped
    ]
    convs = {"ovf_0": lines}
    rows = [("ovf_0", i, t) for i, t in enumerate(lines)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    exp = _expected_proj(lambda: [SwiftBuildCompileErrorRule()], _SB_ATTRS,
                         convs=convs)
    got = _got_proj(swiftbuild_compile_blocks(df), _SB_ATTRS)
    assert exp == got
    # exactly one block: the valid header, with ONLY the pre-close gutter
    assert sum(exp.values()) == 1
    ((key, _),) = exp.items()
    assert key[-2] == 1 and key[-1] == "  11 |     let x = y1"
    # SQL twin agrees value-for-value
    duck_smoke.register("sb_ovf_pd", pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "text"]))
    sql = swiftbuild_compile_blocks_sql(
        "SELECT conv_id, turn_idx, text FROM sb_ovf_pd")
    assert_frames_match(swiftbuild_compile_blocks(df), duck_df(duck_smoke, sql),
                        "sb_overflow")


def test_xcodebuild_warning_blocks_match_oracle(spark):
    from buildlogparser_spark.operators.assemble import xcodebuild_warning_blocks
    from buildlogparser_spark.rules.table import XcodeBuildWarningRule

    df = conversations_df(spark, SEED, N_CONVS)
    exp = _expected_proj(lambda: [XcodeBuildWarningRule()], _XW_ATTRS)
    got = _got_proj(xcodebuild_warning_blocks(df), _XW_ATTRS)
    assert exp == got and sum(exp.values()) > 10
    assert any(k[-2] > 0 for k in exp)  # { platform: bodies collected


def test_xctest_blocks_match_oracle(spark):
    """Single-rule XCTestRule consumeLine == the otf-flagged assembler on
    the generated corpus (headers, assertion continuations, Expected:/
    Actual: details, 4-space indents)."""
    from buildlogparser_spark.operators.assemble import xctest_blocks
    from buildlogparser_spark.rules.table import XCTestRule

    df = conversations_df(spark, SEED, N_CONVS)
    exp = _expected_proj(lambda: [XCTestRule()], _XT_ATTRS)
    got = _got_proj(xctest_blocks(df), _XT_ATTRS)
    assert exp == got and sum(exp.values()) > 10
    assert any(k[-2] > 0 for k in exp)


def test_xctest_blocks_state_dependent_assert(spark):
    """The state-dependent shape: XCTAssert failures BEFORE any test header
    open assertion_failure blocks (which collect nothing — the continuation
    guard rejects 'assertion_failure', XCTestRule.swift:50); the same line
    shape AFTER a header is a continuation (matchContinuation wins)."""
    from buildlogparser_spark.operators.assemble import xctest_blocks
    from buildlogparser_spark.rules.table import XCTestRule

    lines = [
        "/app/tests/FooTests.swift:10: error: -[FooTests testA] : XCTAssertTrue failed",
        "    Expected: true",
        "/app/tests/FooTests.swift:12: error: -[FooTests testB] : "
        'XCTAssertEqual failed: ("1") is not equal to ("2")',
        "Test Suite 'FooTests' started at 2024-01-01 12:00:00.000",
        "Test Case '-[FooTests testA]' started.",
        "/app/tests/FooTests.swift:10: error: -[FooTests testA] : XCTAssertTrue failed",
        "    Expected: true",
        "    Actual: false",
        "Test Case '-[FooTests testA]' failed (0.105 seconds).",
        "some error: in test harness",
        "    Difference: nope",
        "Test Suite 'FooTests' failed at 2024-01-01 12:00:01.000.",
    ]
    convs = {"adv_0": lines}
    rows = [("adv_0", i, "tool", t) for i, t in enumerate(lines)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")
    exp = _expected_proj(lambda: [XCTestRule()], _XT_ATTRS, convs=convs)
    got = _got_proj(xctest_blocks(df), _XT_ATTRS)
    assert exp == got
    # pre-header asserts are starts with empty related...
    assert sum(1 for k in exp if k[7] == "assertion_failure" and k[-2] == 0) == 2
    # ...the same shape post-header is collected as a continuation (the
    # 'started.' block at turn 4 collects the assert + Expected + Actual)
    assert any(k[7] == "test_start" and k[-2] >= 3 for k in exp)


def test_swiftbuild_blocks_equal_stateful_on_aux_stream(spark):
    """End-to-end tie on the aux modern-toolchain stream (the actual graded
    input): the vectorized assembler == the exact applyInPandas state
    machine with the same single-rule stack (every aux conversation fits
    one chunk, so parse_stateful_auto takes the plain path)."""
    from buildlogparser_spark.operators.assemble import (
        parse_stateful_auto_flat, swiftbuild_compile_blocks)
    from buildlogparser_spark.rules.table import SwiftBuildCompileErrorRule
    from buildlogparser_spark.transcripts import load_aux_transcripts

    aux = load_aux_transcripts(spark, "/root/testdata/sf0.001")
    a = _got_proj(swiftbuild_compile_blocks(aux), _SB_ATTRS)
    b = _got_proj(
        parse_stateful_auto_flat(aux, lambda: [SwiftBuildCompileErrorRule()]),
        _SB_ATTRS)
    assert a == b and sum(a.values()) > 20
    assert any(k[-2] > 0 for k in a)


def test_module_failed_blocks_match_oracle(spark):
    """Single-rule SwiftBuildModuleFailedRule consumeLine == the generic
    assembler: space-prefixed 'use -v to see invocation' hints collected,
    compile-error/blank closers not collected."""
    from buildlogparser_spark.operators.assemble import module_failed_blocks
    from buildlogparser_spark.rules.table import SwiftBuildModuleFailedRule

    df = conversations_df(spark, SEED, N_CONVS)
    exp = _expected_proj(lambda: [SwiftBuildModuleFailedRule()], _XW_ATTRS)
    got = _got_proj(module_failed_blocks(df), _XW_ATTRS)
    assert exp == got and sum(exp.values()) > 5
    assert any(k[-2] > 0 for k in exp)  # hint continuations collected


def test_xctest_blocks_fuzz_random_interleavings(spark):
    """Randomized differential for the otf closed form: conversations built
    from an adversarial pool (headers without status words, asserts without
    file info, E-lines that are ALSO continuation-shaped, pre-header
    asserts, pure XCTAssert-mention lines, blanks, noise) in random order
    must equal the single-rule oracle exactly."""
    import random

    from buildlogparser_spark.operators.assemble import xctest_blocks
    from buildlogparser_spark.rules.table import XCTestRule

    rng = random.Random(20260817)
    pool = [
        lambda: f"Test Case '-[S{rng.randrange(5)}Tests t{rng.randrange(9)}]'"
                f" failed (0.{rng.randrange(99):02d} seconds).",
        lambda: f"Test Case '-[S{rng.randrange(5)}Tests t{rng.randrange(9)}]' started.",
        lambda: f"Test Case '-[S{rng.randrange(5)}Tests t{rng.randrange(9)}]'"
                f" passed (0.{rng.randrange(99):02d} seconds).",
        lambda: "Test Case bogus without a name or status word",
        lambda: f"Test Suite 'S{rng.randrange(5)}Tests' "
                f"{rng.choice(['failed', 'started', 'passed'])} at 2024-01-01.",
        lambda: "Test Suite unnamed crashed",
        lambda: f"/t/S{rng.randrange(5)}Tests.swift:{rng.randrange(1, 99)}: error:"
                f" -[S{rng.randrange(5)}Tests t{rng.randrange(9)}] :"
                f' XCTAssertEqual failed: ("{rng.randrange(9)}") is not equal'
                f' to ("{rng.randrange(9, 20)}")',
        lambda: "XCTAssertTrue failed - free-floating, no file info",
        lambda: f"error: something test related {rng.randrange(9)}",
        lambda: f"    error: indented test failure detail {rng.randrange(9)}",
        lambda: f"    Expected: {rng.randrange(9)}",
        lambda: f"    Actual: {rng.randrange(9, 20)}",
        lambda: "Difference: at index 0",
        lambda: "XCTAssert mentioned but nothing else matches",
        lambda: f"plain noise line {rng.randrange(99)}",
        lambda: "",
    ]
    convs = {f"fz_{c:03d}": [rng.choice(pool)() for _ in range(rng.randrange(5, 35))]
             for c in range(40)}
    rows = [(cid, i, "tool", t) for cid, ls in convs.items()
            for i, t in enumerate(ls)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")
    exp = _expected_proj(lambda: [XCTestRule()], _XT_ATTRS, convs=convs)
    got = _got_proj(xctest_blocks(df), _XT_ATTRS)
    missing, extra = exp - got, got - exp
    assert not missing and not extra, (
        f"missing={list(missing.items())[:3]}\nextra={list(extra.items())[:3]}")
    assert sum(exp.values()) > 200
    assert any(k[7] == "assertion_failure" for k in exp)  # pre-header asserts hit
    assert any(k[-2] > 0 for k in exp)
