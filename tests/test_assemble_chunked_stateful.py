"""Differential tests for parse_stateful_chunked (round 5 — VERDICT r04 #3):
the speculative-run + boundary-repair chunking of the general consumeLine
state machine must equal the pure-Python oracle and the unchunked
parse_stateful bit-for-bit, with chunk sizes small enough that every block
straddles chunk boundaries (the repair path runs constantly, not never)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from buildlogparser_spark.datagen import conversations_df, gen_conversations
from buildlogparser_spark.oracle import parse_lines_with_turns
from buildlogparser_spark.operators.assemble import (
    parse_stateful, parse_stateful_auto, parse_stateful_chunked)
from buildlogparser_spark.rules.table import default_stack
from buildlogparser_spark.rules.table import test_stack as _ref_test_stack

SEED = 1234
N_CONVS = 30


def _expected(rules_factory, seed=SEED, n=N_CONVS):
    convs: dict[str, list[str]] = {}
    for conv_id, _i, _r, text, _tl, _ts in gen_conversations(seed, n):
        convs.setdefault(conv_id, []).append(text)
    exp: Counter = Counter()
    for conv_id, lines in convs.items():
        for t, d in parse_lines_with_turns(
                lines, list(range(len(lines))), rules_factory()):
            exp[(conv_id, t, d.category, d.severity, d.message, d.file,
                 d.line, d.column, d.source, d.build_target,
                 tuple(d.related_messages))] += 1
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
    missing, extra = exp - got, got - exp
    assert not missing and not extra, (
        f"missing={list(missing.items())[:3]}\nextra={list(extra.items())[:3]}")
    assert sum(exp.values()) > 50


def test_chunked_stateful_test_stack_matches_oracle(spark):
    """chunk_size=7: blocks are longer than chunks, so almost every chunk
    is entered with an open diagnostic — the repair/splice path dominates."""
    df = conversations_df(spark, SEED, N_CONVS)
    got = _got(parse_stateful_chunked(df, _ref_test_stack, chunk_size=7))
    _assert_equal(_expected(_ref_test_stack), got)


def test_chunked_stateful_default_stack_matches_oracle(spark):
    df = conversations_df(spark, SEED, N_CONVS)
    got = _got(parse_stateful_chunked(df, default_stack, chunk_size=16))
    _assert_equal(_expected(default_stack), got)


def test_chunked_equals_unchunked(spark):
    df = conversations_df(spark, SEED + 1, N_CONVS)
    a = _got(parse_stateful(df, _ref_test_stack))
    b = _got(parse_stateful_chunked(df, _ref_test_stack, chunk_size=5))
    assert a == b


def test_chunked_on_mutated_corpus(spark):
    """Adversarially mutated template lines (same mutation scheme as
    test_fuzz_rules): inputs neither implementation was tuned for, with a
    chunk size that forces constant boundary repair."""
    from tests.test_fuzz_rules import _mutate

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
        for t, d in parse_lines_with_turns(
                ls, list(range(len(ls))), _ref_test_stack()):
            exp[(c, t, d.category, d.severity, d.message,
                 tuple(d.related_messages))] += 1
    got: Counter = Counter()
    for r in parse_stateful_chunked(df, _ref_test_stack, chunk_size=11).collect():
        got[(r.conv_id, r.start_turn_idx, r.category, r.severity, r.message,
             tuple(r.related_messages))] += 1
    missing, extra = exp - got, got - exp
    assert not missing and not extra, (
        f"missing={list(missing.items())[:3]}\nextra={list(extra.items())[:3]}")
    assert sum(exp.values()) > 100


def test_block_open_across_many_chunks(spark):
    """A diagnostic whose continuation body spans MANY chunks: the repair
    run must walk chunk after chunk without ever converging (the
    speculative runs all start mid-block and disagree) and still emit one
    exact diagnostic; the open block at end-of-conversation flushes once."""
    lines = ["/app/File.swift:1:2: error: the header"]
    lines += [f"  note: continuation {i}" for i in range(200)]
    rows = [("hot", i, "user", t, "none") for i, t in enumerate(lines)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.lit(None).cast("timestamp_ntz"))

    got = _got(parse_stateful_chunked(df, _ref_test_stack, chunk_size=8))
    exp = _got(parse_stateful(df, _ref_test_stack))
    assert got == exp
    (key,) = got
    assert key[10] == tuple(f"  note: continuation {i}" for i in range(200))


def test_null_text_turns_are_skipped(spark):
    """A turn with NULL text is a no-op for the state machine: the plain
    and the chunked path give the same diagnostics as on the frame without
    those turns (chunk_size=4 puts NULL turns at chunk edges and inside
    open blocks)."""
    nulled = conversations_df(spark, SEED, 12).withColumn(
        "text", F.when(F.col("turn_idx") % 3 == 1, F.lit(None))
        .otherwise(F.col("text")))
    without = nulled.filter(F.col("text").isNotNull())
    exp = _got(parse_stateful(without, _ref_test_stack))
    assert _got(parse_stateful(nulled, _ref_test_stack)) == exp
    for df in (nulled, without):
        assert _got(parse_stateful_chunked(
            df, _ref_test_stack, chunk_size=4)) == exp
    assert sum(exp.values()) > 20


def test_auto_routes_small_conversations_plain(spark):
    """No conversation exceeds the chunk size → auto must equal the plain
    path's answer (and take it: the probe finds nothing oversized)."""
    df = conversations_df(spark, SEED + 3, 12)
    a = _got(parse_stateful_auto(df, _ref_test_stack, chunk_size=65536))
    b = _got(parse_stateful(df, _ref_test_stack))
    assert a == b


def test_auto_routes_mixed_sizes_exactly(spark):
    """One conversation above the chunk threshold beside normal ones: auto
    must union the two paths without losing or duplicating either side —
    including a block straddling the hot conversation's chunk boundary."""
    lines = []
    for i in range(300):
        if i % 10 == 0:
            lines.append(f"/app/F{i}.swift:1:2: error: boom {i}")
        elif i % 10 in (1, 2):
            lines.append(f"  note: detail {i}")
        else:
            lines.append("")
    rows = [("hot", i, "user", t, "none") for i, t in enumerate(lines)]
    rows += [("cold", i, "user", t, "none")
             for i, t in enumerate(["/a/X.swift:1:2: error: e", "  note: n", ""])]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.lit(None).cast("timestamp_ntz"))

    a = _got(parse_stateful_auto(df, _ref_test_stack, chunk_size=64))
    b = _got(parse_stateful(df, _ref_test_stack))
    assert a == b
    assert any(k[0] == "hot" for k in a) and any(k[0] == "cold" for k in a)


def test_fallback_when_block_outlives_repair_cap(spark):
    """repair_cap smaller than the open block inside a FULL chunk: the
    merge can't converge within the stored prefix, so the conversation
    must take the exact sequential fallback — same answer, never wrong."""
    lines = ["/app/File.swift:1:2: error: the header"]
    lines += [f"  note: continuation {i}" for i in range(100)]
    lines += ["", "/app/Other.swift:9:9: warning: tail"]
    rows = [("hot", i, "user", t, "none") for i, t in enumerate(lines)]
    rows += [("cold", i, "user", t, "none")
             for i, t in enumerate(["/a/X.swift:1:2: error: e", ""])]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.lit(None).cast("timestamp_ntz"))

    got = _got(parse_stateful_chunked(
        df, _ref_test_stack, chunk_size=16, repair_cap=4))
    exp = _got(parse_stateful(df, _ref_test_stack))
    assert got == exp
    assert sum(v for k, v in got.items() if k[0] == "hot") == 2


def test_sparse_turn_idx_gaps(spark):
    """turn_idx gaps (non-contiguous) place lines into uneven chunks; the
    ordering contract is turn_idx, not density — results must not change."""
    base = conversations_df(spark, SEED + 2, 8)
    sparse = base.withColumn("turn_idx", F.col("turn_idx") * 97 + 13)
    dense_exp = {
        (k[0], *k[2:]): v
        for k, v in _got(parse_stateful(base, _ref_test_stack)).items()}
    sparse_got = {
        (k[0], *k[2:]): v
        for k, v in _got(parse_stateful_chunked(
            sparse, _ref_test_stack, chunk_size=64)).items()}
    assert dense_exp == sparse_got


def test_chunked_on_random_line_soup(spark):
    """Seeded random line soup from rule-trigger fragments (the pure-Python
    fuzz alphabet of test_fuzz_rules) across 60 conversations, chunk_size
    3 — inputs neither the chunking protocol nor the rules were tuned for;
    every chunk boundary lands mid-block somewhere in this corpus."""
    import random

    from tests.test_fuzz_rules import _FRAGMENTS

    rng = random.Random(20260818)
    rows = []
    for c in range(60):
        n = rng.randrange(1, 40)
        for i in range(n):
            parts = [rng.choice(_FRAGMENTS) if rng.random() < 0.7 else
                     "".join(rng.choice("ab:/. 0123") for _ in range(rng.randrange(0, 12)))
                     for _ in range(rng.randrange(0, 6))]
            rows.append((f"c{c}", i, "user", " ".join(parts), "none"))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.lit(None).cast("timestamp_ntz"))

    got = _got(parse_stateful_chunked(df, _ref_test_stack, chunk_size=3))
    exp = _got(parse_stateful(df, _ref_test_stack))
    assert got == exp
    assert sum(exp.values()) > 40  # the soup actually triggers rules
