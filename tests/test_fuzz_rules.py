"""Property-based fuzzing of the rule objects and the consumeLine oracle
(pure Python — no Spark), plus a mutated-corpus differential test of the
Spark paths vs the oracle.

The reference never fuzzes (SURVEY.md §5); we do, because the Spark
reimplementation has to agree with the oracle on inputs neither was
hand-tuned for: random junk, template fragments, mutated prefixes/suffixes,
blank/whitespace lines.
"""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from buildlogparser_spark.oracle import ParserOracle, parse_lines
from buildlogparser_spark.rules.table import (
    SEVERITIES, CompileErrorRule, default_stack, test_stack as ref_test_stack)

# fragments that steer random lines toward rule trigger territory
_FRAGMENTS = [
    "error:", "warning:", "note:", ".swift", ".cpp:12:5:", "Test Case '-[A b]'",
    "Test Suite 'X'", "** BUILD FAILED **", "SwiftCompile normal arm64",
    "(in target 'App' from project 'P')", "Undefined symbols for architecture",
    "clang: error: linker command failed", "[3/20] Compiling",
    "emit-module command failed with exit code 2", "XCTAssert", "failed",
    "    ", "\t", "^", "cd /x", "---", "99999999999999999999",
]

line_st = st.lists(
    st.one_of(st.sampled_from(_FRAGMENTS),
              st.text(alphabet=st.characters(codec="ascii",
                                             exclude_characters="\n\r"),
                      max_size=12)),
    max_size=8,
).map(" ".join)


@settings(max_examples=300, deadline=None)
@given(st.lists(line_st, max_size=30))
def test_oracle_total_and_deterministic(lines):
    """The parser never crashes, output is deterministic, and every emitted
    diagnostic is well-formed."""
    a = parse_lines(list(lines), default_stack())
    b = parse_lines(list(lines), default_stack())
    assert [d.__dict__ for d in a] == [d.__dict__ for d in b]
    for d in a:
        assert d.severity in SEVERITIES
        assert d.category
        assert d.raw in lines


@settings(max_examples=300, deadline=None)
@given(st.lists(line_st, max_size=30))
def test_default_stack_is_stateless(lines):
    """The load-bearing property behind the pure-column classify cascade:
    with the default CLI stack, no diagnostic ever accumulates
    continuations and per-line classification is history-independent."""
    whole = parse_lines(list(lines), default_stack())
    assert all(d.related_messages == [] for d in whole)
    per_line = [d for ln in lines for d in parse_lines([ln], default_stack())]
    assert [d.__dict__ for d in whole] == [d.__dict__ for d in per_line]


@settings(max_examples=200, deadline=None)
@given(line_st)
def test_compile_rule_int_guard(line):
    """matchStart never produces un-parseable ints; overflow rejects the
    whole match (CompileErrorRule.swift:57-63)."""
    r = CompileErrorRule()
    d = r.match_start(line)
    if d is not None:
        assert isinstance(d.line, int) and isinstance(d.column, int)
        assert abs(d.line) < 2 ** 63 and abs(d.column) < 2 ** 63


def _mutate(lines: list[str]) -> list[str]:
    """Deterministic adversarial mutations of a template corpus."""
    out = []
    for i, ln in enumerate(lines):
        out.append(ln)
        m = i % 7
        if m == 0:
            out.append("  " + ln)
        elif m == 1:
            out.append(ln + " trailing")
        elif m == 2:
            out.append(ln[: max(len(ln) // 2, 1)])
        elif m == 3:
            out.append("")
        elif m == 4:
            out.append(ln.upper())
    return out


def test_spark_stateful_on_mutated_corpus(spark):
    """The applyInPandas state machine equals the oracle on a corpus of
    mutated template lines (inputs neither implementation was tuned for)."""
    from buildlogparser_spark.datagen import gen_conversations
    from buildlogparser_spark.operators.assemble import parse_stateful
    from pyspark.sql import functions as F

    convs: dict[str, list[str]] = {}
    for conv_id, _i, _r, text, _tl, _ts in gen_conversations(777, 12):
        convs.setdefault(conv_id, []).append(text)
    convs = {c: _mutate(ls) for c, ls in convs.items()}

    rows = [(c, i, "user", t, "none")
            for c, ls in convs.items() for i, t in enumerate(ls)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.lit(None).cast("timestamp_ntz"))

    exp: Counter = Counter()
    for c, ls in convs.items():
        oracle = ParserOracle(ref_test_stack())
        for i, ln in enumerate(ls):
            oracle.consume_line(ln, i)
        for t, d in zip(oracle.out_line_nos, oracle.finish()):
            exp[(c, t, d.category, d.severity, d.message,
                 tuple(d.related_messages))] += 1

    got: Counter = Counter()
    for r in parse_stateful(df, ref_test_stack).collect():
        got[(r.conv_id, r.start_turn_idx, r.category, r.severity, r.message,
             tuple(r.related_messages))] += 1
    missing, extra = exp - got, got - exp
    assert not missing and not extra, (
        f"missing={list(missing.items())[:3]}\nextra={list(extra.items())[:3]}")
    assert sum(exp.values()) > 100


def test_packed_extraction_survives_separator_injection(spark):
    """classify and the block headers pack capture groups with an \\x01
    separator; adversarial text containing \\x01 INSIDE a group must still
    extract exactly (the clean-split check falls back to per-group
    extraction)."""
    from buildlogparser_spark.operators.assemble import (
        compile_blocks_flat, module_failed_blocks)
    from buildlogparser_spark.operators.classify import classify
    from buildlogparser_spark.oracle import parse_lines_with_turns
    from buildlogparser_spark.rules.table import (
        CompileErrorRule, SwiftBuildModuleFailedRule)

    texts = [
        "/app/F\x01ile.swift:12:3: error: bad \x01 separator in message",
        "/app/File.swift:7:1: warning: message with \x01\x01 twice",
        "[3/9] Compiling Mod\x01ule file\x01.swift",
        "error: emit-module command failed with exit code 2\x01 (tail)",
    ]
    rows = [("c0", i, "user", t, "none") for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.current_timestamp())
    got = {r.turn_idx: r for r in classify(df).collect()}

    rule = CompileErrorRule()
    d0 = rule.match_start(texts[0])
    assert (got[0].file, got[0].line, got[0].column, got[0].severity,
            got[0].message) == (d0.file, d0.line, d0.column, d0.severity, d0.message)
    d1 = rule.match_start(texts[1])
    assert (got[1].file, got[1].message) == (d1.file, d1.message)
    assert got[2].category == "progress" and "Mod\x01ule" in got[2].message
    assert got[3].category == "module_failed"
    assert got[3].message.endswith("2\x01 (tail)")

    # the same texts as single-rule block headers
    for op, rule_cls, attrs in [
        (compile_blocks_flat, CompileErrorRule,
         ["file", "line", "column", "severity", "message", "source", "category"]),
        (module_failed_blocks, SwiftBuildModuleFailedRule,
         ["severity", "message", "source", "category", "raw"]),
    ]:
        want = Counter(
            (t, *(getattr(d, a) for a in attrs), "\n".join(d.related_messages))
            for t, d in parse_lines_with_turns(texts, list(range(len(texts))), [rule_cls()]))
        got_blocks = Counter(
            (r.start_turn_idx, *(r[a] for a in attrs), r.related_joined)
            for r in op(df).collect())
        assert want and got_blocks == want, rule_cls.__name__
