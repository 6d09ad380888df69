"""applyInPandasWithState streaming assembly: diagnostics spanning
micro-batches must equal the batch oracle, with in-flight state carried in
the state store between availableNow runs (the checkpoint persists it),
turns arriving out of order buffered until their prefix fills, and
end-of-conversation flushed by an explicit EOF sentinel — the streaming
twin of the reference's finish() call."""

from __future__ import annotations

from collections import Counter

import pytest

from buildlogparser_spark.datagen import gen_conversations
from buildlogparser_spark.oracle import parse_lines_with_turns
from buildlogparser_spark.rules.table import test_stack as ref_test_stack
from buildlogparser_spark.streaming.stateful import (
    EOF_MARKER, MAX_BUFFERED_TURNS, stream_parse_stateful)

SEED, N_CONVS = 4242, 8
SCHEMA = "conv_id string, turn_idx int, text string"


class _Stream:
    """One input directory, output directory and checkpoint: ``write``
    appends rows as one parquet file, ``run_once`` drains everything new
    through :func:`stream_parse_stateful` in one availableNow run."""

    def __init__(self, spark, tmp_path, rules_factory=ref_test_stack):
        self.spark, self.rules_factory = spark, rules_factory
        self.in_dir, self.out_dir, self.ckpt = (
            str(tmp_path / d) for d in ("in", "out", "ckpt"))

    def write(self, rows):
        self.spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append").parquet(self.in_dir)

    def run_once(self):
        stream = self.spark.readStream.schema(SCHEMA).parquet(self.in_dir)
        q = (stream_parse_stateful(stream, self.rules_factory)
             .writeStream.format("parquet").option("path", self.out_dir)
             .outputMode("append").option("checkpointLocation", self.ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    def rows(self):
        return self.spark.read.parquet(self.out_dir).collect()


def _corpus():
    convs: dict[str, list[str]] = {}
    for conv_id, _i, _r, text, _tl, _ts in gen_conversations(SEED, N_CONVS):
        convs.setdefault(conv_id, []).append(text)
    return convs


def _expected(convs) -> Counter:
    exp: Counter = Counter()
    for conv_id, lines in convs.items():
        for t, d in parse_lines_with_turns(
                lines, list(range(len(lines))), ref_test_stack()):
            exp[(conv_id, t, d.category, d.message,
                 tuple(d.related_messages))] += 1
    return exp


def test_stateful_stream_across_batches(spark, tmp_path):
    """Three availableNow runs over one growing directory + one checkpoint:
    run 2 resumes per-conversation parser state from the state store, so
    blocks whose header arrived in run 1 and whose continuations arrive in
    run 2 still assemble; run 3 delivers EOF sentinels that flush trailing
    in-flight diagnostics (finish())."""
    convs = _corpus()
    st = _Stream(spark, tmp_path)

    half1 = [(c, i, t) for c, ls in convs.items()
             for i, t in enumerate(ls) if i < len(ls) // 2]
    half2 = [(c, i, t) for c, ls in convs.items()
             for i, t in enumerate(ls) if i >= len(ls) // 2]
    eofs = [(c, len(ls), EOF_MARKER) for c, ls in convs.items()]

    st.write(half1)
    st.run_once()
    n_after_1 = len(st.rows())

    st.write(half2)
    st.run_once()
    st.write(eofs)
    st.run_once()

    got: Counter = Counter()
    for r in st.rows():
        got[(r.conv_id, r.start_turn_idx, r.category, r.message,
             tuple(r.related_messages))] += 1
    exp = _expected(convs)
    missing, extra = exp - got, got - exp
    assert not missing and not extra, (
        f"after1={n_after_1}\nmissing={list(missing.items())[:3]}\n"
        f"extra={list(extra.items())[:3]}")
    total = sum(exp.values())
    assert 0 < n_after_1 < total  # output really spanned batches


def test_unordered_stream_buffers_out_of_order_turns(spark, tmp_path):
    """Out-of-order arrival: run 1 delivers only the EVEN turns of every
    conversation (holes at every odd index), run 2 the ODD turns, run 3 the
    EOF sentinels. The contiguity buffer must hold back everything after the
    first hole in run 1, then drain to exactly the batch-oracle output —
    nothing lost, nothing duplicated, blocks assembled across the shuffle."""
    import random

    convs = _corpus()
    st = _Stream(spark, tmp_path)
    rng = random.Random(7)

    evens = [(c, i, t) for c, ls in convs.items()
             for i, t in enumerate(ls) if i % 2 == 0]
    odds = [(c, i, t) for c, ls in convs.items()
            for i, t in enumerate(ls) if i % 2 == 1]
    rng.shuffle(evens)
    rng.shuffle(odds)
    eofs = [(c, len(ls), EOF_MARKER) for c, ls in convs.items()]

    st.write(evens)
    st.run_once()
    n_after_1 = len(st.rows())

    # the odd turns arrive with every even turn again: duplicates below
    # the next expected turn are dropped, not parsed a second time
    st.write(odds + evens)
    st.run_once()
    st.write(eofs)
    st.run_once()

    got: Counter = Counter()
    for r in st.rows():
        got[(r.conv_id, r.start_turn_idx, r.category, r.message,
             tuple(r.related_messages))] += 1
    exp = _expected(convs)
    missing, extra = exp - got, got - exp
    assert not missing and not extra, (
        f"after1={n_after_1}\nmissing={list(missing.items())[:3]}\n"
        f"extra={list(extra.items())[:3]}")
    # run 1 saw only turn 0 of each conversation (hole at turn 1) — at most
    # a handful of single-line diagnostics may emit, never the full corpus
    assert n_after_1 < sum(exp.values()) / 2


def test_stream_swiftbuild_gutter_block_spans_batches(spark, tmp_path):
    """R8 swift-build 5.9+ gutter block split mid-block across availableNow
    runs: the header + first context line arrive in run 1, the pointer /
    blank continuations and the progress closer in run 2 — the state store
    must carry the open block so the assembled diagnostic equals the batch
    oracle, and nothing may emit before the close."""
    from buildlogparser_spark.rules.table import SwiftBuildCompileErrorRule

    sb_stack = lambda: [SwiftBuildCompileErrorRule()]  # noqa: E731
    lines = [
        "Building for debugging... step 1",
        "/app/src/Mod1.swift:12:5: error: cannot find 'q1' in scope",
        "  12 |     let q1 = broken()",
        "      |         `- error: cannot find 'q1' in scope",
        "",
        "[3/20] Compiling Module1 file7.swift",
        "/app/src/Mod2.swift:3:1: warning: unused variable 'w'",
        "   3 | let w = 1",
    ]
    conv = "sb_stream"
    st = _Stream(spark, tmp_path, sb_stack)

    st.write([(conv, i, t) for i, t in enumerate(lines[:3])])
    st.run_once()
    assert len(st.rows()) == 0  # block still open

    st.write([(conv, i + 3, t) for i, t in enumerate(lines[3:])])
    st.run_once()
    st.write([(conv, len(lines), EOF_MARKER)])
    st.run_once()

    got = Counter(
        (r.conv_id, r.start_turn_idx, r.category, r.severity, r.message,
         tuple(r.related_messages))
        for r in st.rows())
    exp = Counter(
        (conv, t, d.category, d.severity, d.message, tuple(d.related_messages))
        for t, d in parse_lines_with_turns(
            lines, list(range(len(lines))), sb_stack()))
    assert got == exp
    # the gutter continuations really crossed the batch boundary
    assert (conv, 1, "compile_error", "error", "cannot find 'q1' in scope",
            ("  12 |     let q1 = broken()",
             "      |         `- error: cannot find 'q1' in scope",
             "")) in got


def test_producer_hole_raises_past_the_buffer_bound(spark, tmp_path):
    """Turn 0 never arrives: every later turn waits in the conversation's
    buffer, and one turn past MAX_BUFFERED_TURNS fails the query rather
    than growing state without bound."""
    st = _Stream(spark, tmp_path)
    spark.range(1, MAX_BUFFERED_TURNS + 2).selectExpr(
        "'hole' AS conv_id", "CAST(id AS INT) AS turn_idx", "'x' AS text",
    ).coalesce(1).write.parquet(st.in_dir)
    with pytest.raises(Exception, match="producer hole at turn 0"):
        st.run_once()


def test_null_text_turns_are_skipped(spark, tmp_path):
    """NULL-text turns advance the turn contiguity like any other turn but
    are a no-op for the parser: the stream equals the batch oracle over
    the same conversations without those turns."""
    convs = _corpus()
    rows = [(c, i, None if i % 3 == 1 else t)
            for c, ls in convs.items() for i, t in enumerate(ls)]
    st = _Stream(spark, tmp_path)
    st.write(rows[::2])
    st.run_once()
    st.write(rows[1::2] + [(c, len(ls), EOF_MARKER) for c, ls in convs.items()])
    st.run_once()

    exp: Counter = Counter()
    for c, ls in convs.items():
        kept = [(i, t) for i, t in enumerate(ls) if i % 3 != 1]
        for t, d in parse_lines_with_turns(
                [x for _, x in kept], [i for i, _ in kept], ref_test_stack()):
            exp[(c, t, d.category, d.message, tuple(d.related_messages))] += 1
    got = Counter((r.conv_id, r.start_turn_idx, r.category, r.message,
                   tuple(r.related_messages)) for r in st.rows())
    assert got == exp and sum(exp.values()) > 20
