"""Stateful multi-line assembly — the reference's streaming state machine at
Spark scale.

Two implementations with different generality/performance trade-offs:

1. :func:`parse_stateful` — the GENERAL operator: any rule stack, exact
   ``consumeLine`` semantics (BuildLogParser.swift:325-364), via
   ``groupBy(conv_id).applyInPandas`` running the pure-Python state machine
   once per conversation. Arrow-batched, rules compiled once per executor
   Python worker; no per-row Python calls crossing the JVM boundary.
   :func:`parse_stateful_chunked` / :func:`parse_stateful_auto` split an
   oversized conversation into chunks (speculative run + boundary repair).

2. :func:`assemble_flagged` — ONE vectorized block assembler for every
   single-rule multi-line shape the reference can run: R1 compile errors
   (:func:`compile_blocks`), R2 BUILD FAILED, R3 xcodebuild warnings, R6
   linker, R7 XCTest, R8 swift-build gutter blocks and R9 module-failed.
   Each shape supplies three stateless per-line booleans — ``is_start``,
   ``is_close``, ``is_cont`` — and the rule id its header is read under:
   the header's fields come from :func:`classify.rule_fields` (the SQL
   twins: :func:`classify.header_fields_sql`); no Python runs.
   Semantics proven equal to the single-rule ``ParserOracle`` stack by
   differential tests on adversarial generated logs (tests/test_assemble.py).

Vectorized formulation: a row's segment id is the running count of
``is_start`` up to it; a continuation belongs to its segment's block iff it
precedes the segment's first non-start ``is_close`` row (consumeLine checks
isEnd before matchContinuation, and lines matching nothing are dropped with
the block still open). The running count is a prefix sum over
(conv_id, chunk = turn_idx // chunk_size): a local window per chunk plus a
per-conversation sum of per-chunk start counts, so no task ever sorts more
than ``chunk_size`` rows of one conversation. One hash aggregate per
segment then takes the header, the first close and the continuations.

Known restriction (documented, tested): a line that BOTH starts with a
caret/``note:`` after trimming AND matches the full start regex (e.g.
``^x.swift:1:2: error: m``) is continuation-vs-start *state-dependent* in
the reference (matchContinuation wins only while a block is open) and is
treated as a start here. Such lines require the general
:func:`parse_stateful` path; they do not occur in realistic compiler output.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, IntegerType, LongType, StringType, StructField,
    StructType,
)
from pyspark.sql.window import Window

from ..rules.table import (
    BUILD_FAILED_RE,
    COMPILE_ERROR_RE,
    CONTEXT_LINE_RE,
    ERROR_POINTER_RE,
    MODULE_FAILED_RE,
    Rule,
    XCODEBUILD_WARNING_RE,
)
from .classify import header_fields_sql, java_re, rule_fields

STATEFUL_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("start_turn_idx", IntegerType()),
    StructField("file", StringType()),
    StructField("line", LongType()),
    StructField("column", LongType()),
    StructField("severity", StringType()),
    StructField("message", StringType()),
    StructField("related_messages", ArrayType(StringType())),
    StructField("source", StringType()),
    StructField("category", StringType()),
    StructField("raw", StringType()),
    StructField("build_target", StringType()),
])


def _diag_row(conv: str, turn: int | None, diag) -> dict:
    return {
        "conv_id": conv, "start_turn_idx": turn,
        "file": diag.file, "line": diag.line, "column": diag.column,
        "severity": diag.severity, "message": diag.message,
        "related_messages": diag.related_messages, "source": diag.source,
        "category": diag.category, "raw": diag.raw,
        "build_target": diag.build_target,
    }


def parse_stateful(
    transcripts: DataFrame, rules_factory: Callable[[], list[Rule]],
) -> DataFrame:
    """Exact consumeLine semantics for an arbitrary rule stack, one state
    machine run per conversation (vectorized per group via Arrow)."""

    from ..shipping import ensure_shipped

    ensure_shipped(transcripts.sparkSession)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        from buildlogparser_spark.oracle import parse_lines_with_turns

        pdf = pdf.sort_values("turn_idx")
        pairs = parse_lines_with_turns(
            pdf["text"].tolist(), pdf["turn_idx"].tolist(), rules_factory())
        conv = pdf["conv_id"].iloc[0] if len(pdf) else None
        out = [_diag_row(conv, t, d) for t, d in pairs]
        return pd.DataFrame(out, columns=[f.name for f in STATEFUL_SCHEMA.fields])

    return (
        transcripts
        .select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandas(run, STATEFUL_SCHEMA)
    )


def _flat_related(df: DataFrame) -> DataFrame:
    """Replace ``related_messages`` in place by (n_related, related_joined).
    The driver's canonicalization sorts every output column — an
    ``array<string>`` column is unsortable there (CORRECTNESS_r01
    ``unhashable type: 'list'``), and arrays stringify differently across
    engines anyway; the scalar pair value-hashes identically."""
    cols: list = []
    for c in df.columns:
        cols += ([F.size(c).cast("long").alias("n_related"),
                  F.concat_ws("\n", c).alias("related_joined")]
                 if c == "related_messages" else [c])
    return df.select(*cols)


# ---------------------------------------------------------------------------
# Chunked general state machine — parse_stateful without the one-task-per-
# conversation skew (VERDICT r04 #3 / SURVEY.md §7 hard-part 5 applied to
# the ARBITRARY-stack path, not just CompileErrorRule).
#
# Exactness argument: the oracle's only cross-line state is ``current`` (the
# one open Diagnostic — BuildLogParser.swift:303-384 keeps a single
# ``currentDiagnostic``). So two machine runs that both hold ``current is
# None`` after the same line are bit-identical from that line on. Pass 1
# runs every (conv, chunk) IN PARALLEL from the speculative empty state,
# emitting its diagnostics as ordinary distributed rows plus ONE slim
# summary row per chunk (a repair_cap-bounded line prefix, the per-line
# state-was-None flags for that prefix, and the exit state). Pass 2 walks a
# conversation's chunk SUMMARIES in order carrying the TRUE state — a chunk
# entered with state None adopts the speculative result wholesale (zero
# re-parsing); a chunk entered with an open diagnostic re-parses prefix
# lines only until the true run reaches None on a line where the
# speculative run was also None — and emits per-chunk keep/drop DECISIONS
# plus the few repaired diagnostics. The speculative diagnostics never
# funnel through the sequential merge: they flow straight from the parallel
# pass through a broadcast join against the tiny decisions table (v1 of
# this operator routed them through the merge task as JSON and the hot
# conversation's output serialized there — measured 1.1× instead of ~5×).
# Build-log blocks are short, so convergence is typically the first
# terminator line; a conversation that holds one block open past repair_cap
# lines inside a chunk falls back to the sequential exact path for that
# conversation only — never to wrong answers.
# ---------------------------------------------------------------------------

_DIAG_FIELDS = [f for f in STATEFUL_SCHEMA.fields if f.name != "conv_id"]

# pass-1 union schema: kind "d" = speculative diagnostic, "s" = chunk summary
_CHUNK_OUT_SCHEMA = StructType(
    [StructField("kind", StringType()),
     StructField("conv_id", StringType()),
     StructField("chunk_id", LongType())]
    + _DIAG_FIELDS
    + [StructField("p_lines", ArrayType(StringType())),
       StructField("p_turns", ArrayType(LongType())),
       StructField("p_none", ArrayType(BooleanType())),
       StructField("exit_state", StringType()),
       StructField("n_lines", LongType())])

# merge output: kind "k" = keep-decision, "d" = repaired diagnostic,
# "f" = whole-conversation fallback marker
_DECISION_SCHEMA = StructType(
    [StructField("kind", StringType()),
     StructField("conv_id", StringType()),
     StructField("chunk_id", LongType()),
     StructField("keep_after_turn", LongType())]
    + _DIAG_FIELDS)

_KEEP_ALL = -(1 << 62)


def parse_stateful_chunked(
    transcripts: DataFrame, rules_factory: Callable[[], list[Rule]],
    chunk_size: int = 65536, repair_cap: int = 4096,
) -> DataFrame:
    """Exact consumeLine semantics for an arbitrary rule stack, with the
    heavy per-line regex work parallelized ACROSS chunks of a conversation
    (speculative-run + boundary-repair; see module comment above). Output
    and semantics identical to :func:`parse_stateful` — differential-tested
    in tests/test_assemble_chunked_stateful.py. The sequential per-
    conversation merge sees only repair_cap-bounded chunk summaries, never
    the diagnostics or the full text, so a hot conversation costs
    O(chunks × convergence_depth) Python instead of O(lines)."""

    from ..materialize import materialize
    from ..shipping import ensure_shipped

    ensure_shipped(transcripts.sparkSession)
    diag_cols = [f.name for f in _DIAG_FIELDS]
    # missing dict keys would surface as float NaN in pandas, which Arrow
    # rejects for array<> columns — pad every row to the full schema
    _chunk_none = {f.name: None for f in _CHUNK_OUT_SCHEMA.fields}
    _dec_none = {f.name: None for f in _DECISION_SCHEMA.fields}

    def run_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        from buildlogparser_spark.oracle import ParserOracle

        pdf = pdf.sort_values("turn_idx")
        lines = pdf["text"].tolist()
        turns = [int(t) for t in pdf["turn_idx"]]
        conv = pdf["conv_id"].iloc[0]
        chunk = int(pdf["chunk_id"].iloc[0])
        oracle = ParserOracle(rules_factory())
        p_none = []
        for t, line in zip(turns, lines):
            oracle.consume_line(line, t)
            if len(p_none) < repair_cap:
                p_none.append(oracle.current is None)
        out = [dict(_chunk_none, **_diag_row(conv, t, d), kind="d",
                    chunk_id=chunk)
               for t, d in zip(oracle.out_line_nos, oracle.out)]
        # chunk 0 can only be a conversation's FIRST chunk (chunk ids are
        # non-negative and distinct per conv), and the merge enters the
        # first chunk with state None — adopted wholesale, repair prefix
        # never read. Skipping it halves pass-1 output bytes in the
        # balanced (single-chunk-per-conv) regime.
        first_chunk = chunk == 0
        out.append({
            **_chunk_none,
            "kind": "s", "conv_id": conv, "chunk_id": chunk,
            "p_lines": [] if first_chunk else lines[:repair_cap],
            "p_turns": [] if first_chunk else turns[:repair_cap],
            "p_none": [] if first_chunk else p_none,
            "exit_state": oracle.state(),
            "n_lines": len(lines),
        })
        return pd.DataFrame(out, columns=[f.name for f in _CHUNK_OUT_SCHEMA.fields])

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        from buildlogparser_spark.oracle import ParserOracle

        pdf = pdf.sort_values("chunk_id")
        conv = pdf["conv_id"].iloc[0] if len(pdf) else None
        out: list[dict] = []

        def decide(chunk: int, keep_after: int) -> None:
            out.append({**_dec_none, "kind": "k", "conv_id": conv,
                        "chunk_id": chunk, "keep_after_turn": keep_after})

        def repair(oracle: ParserOracle) -> None:
            for t, d in zip(oracle.out_line_nos, oracle.out):
                out.append(dict(_dec_none, **_diag_row(conv, t, d), kind="d"))

        state_json: str | None = None
        for row in pdf.itertuples(index=False):
            chunk = int(row.chunk_id)
            if state_json is None:
                # entering state empty == the speculative run's premise:
                # adopt its diagnostics and exit state, re-parse nothing
                decide(chunk, _KEEP_ALL)
                state_json = row.exit_state
                continue
            oracle = ParserOracle(rules_factory(), state_json)
            converged_turn = None
            for i, (t, line) in enumerate(zip(row.p_turns, row.p_lines)):
                oracle.consume_line(line, int(t))
                if oracle.current is None and row.p_none[i]:
                    converged_turn = int(t)
                    break
            if converged_turn is not None:
                # both runs empty after this line → identical tails: keep
                # speculative diagnostics starting strictly after it (none
                # can START on it: the state right after it is None), emit
                # the repair run's own flushes for the lines before it
                repair(oracle)
                decide(chunk, converged_turn)
                state_json = row.exit_state
            elif int(row.n_lines) == len(row.p_lines):
                # no convergence but the prefix WAS the whole chunk — the
                # repair run is complete and exact; drop all speculative
                repair(oracle)
                decide(chunk, 1 << 62)
                state_json = oracle.state()
            else:
                # one block open for > repair_cap lines into a full chunk:
                # this conversation re-parses sequentially (exact), nothing
                # chunk-level is trustworthy — emit ONLY the fallback marker
                return pd.DataFrame(
                    [{**_dec_none, "kind": "f", "conv_id": conv,
                      "chunk_id": chunk}],
                    columns=[f.name for f in _DECISION_SCHEMA.fields])
        if state_json is not None:  # end-of-conversation flush
            oracle = ParserOracle([], state_json)
            oracle.finish()
            repair(oracle)
        return pd.DataFrame(out, columns=[f.name for f in _DECISION_SCHEMA.fields])

    chunked = (
        transcripts
        .select("conv_id", "turn_idx", "text",
                F.floor(F.col("turn_idx") / chunk_size).alias("chunk_id"))
        .groupBy("conv_id", "chunk_id")
        .applyInPandas(run_chunk, _CHUNK_OUT_SCHEMA)
    )
    # snapshot once: the speculative-diag branch and the (tiny) summary
    # branch both scan it; without this the regex pass would run per branch
    chunked = materialize(chunked)
    summaries = chunked.filter(F.col("kind") == "s").drop(*diag_cols)
    spec = chunked.filter(F.col("kind") == "d").select(
        "conv_id", "chunk_id", *diag_cols)
    decisions = materialize(
        summaries.groupBy("conv_id").applyInPandas(merge, _DECISION_SCHEMA))

    keep = decisions.filter(F.col("kind") == "k").select(
        "conv_id", "chunk_id", "keep_after_turn")
    repaired = decisions.filter(F.col("kind") == "d").select(
        "conv_id", *diag_cols)
    fallback = decisions.filter(F.col("kind") == "f").select("conv_id")
    kept_spec = (
        spec.join(F.broadcast(keep), ["conv_id", "chunk_id"])
        .filter(F.col("start_turn_idx").cast("long") > F.col("keep_after_turn"))
        .select("conv_id", *diag_cols))
    resolved = kept_spec.unionByName(repaired)
    # conversations that defeated chunking (one > repair_cap-line block)
    # re-parse on the exact sequential path. Empty in practice — and the
    # operator is already eager (materialize writes above), so checking
    # the tiny decisions snapshot is one cheap control-plane action that
    # spares the common case a second transcripts scan + an empty
    # applyInPandas stage.
    if fallback.limit(1).count() == 0:
        return resolved
    fb = parse_stateful(
        transcripts.join(F.broadcast(fallback), "conv_id", "left_semi"),
        rules_factory)
    return resolved.unionByName(fb)


def parse_stateful_auto(
    transcripts: DataFrame, rules_factory: Callable[[], list[Rule]],
    chunk_size: int = 65536, repair_cap: int = 4096,
) -> DataFrame:
    """Route conversations by size: ones that fit in a single chunk take
    the plain one-task-per-conversation path (`parse_stateful` — its only
    skew risk IS the oversized conversation), oversized ones take the
    chunked speculative path. The size probe is one cheap count-by-conv
    hash-agg (a control-plane action, same spirit as AQE statistics); when
    nothing is oversized — the common balanced regime — the chunked
    machinery costs literally nothing. Exact either way; differential-
    tested beside the other two in tests/test_assemble_chunked_stateful.py."""
    counts = transcripts.groupBy("conv_id").agg(F.count("*").alias("n_turns"))
    hot = counts.filter(F.col("n_turns") > chunk_size).select("conv_id")
    if hot.limit(1).count() == 0:
        return parse_stateful(transcripts, rules_factory)
    from ..materialize import materialize

    hot = materialize(hot)  # consumed by both the semi and anti joins
    small = transcripts.join(F.broadcast(hot), "conv_id", "left_anti")
    big = transcripts.join(F.broadcast(hot), "conv_id", "left_semi")
    return parse_stateful(small, rules_factory).unionByName(
        parse_stateful_chunked(big, rules_factory, chunk_size, repair_cap))


def parse_stateful_auto_flat(
    transcripts: DataFrame, rules_factory: Callable[[], list[Rule]],
    chunk_size: int = 65536,
) -> DataFrame:
    return _flat_related(
        parse_stateful_auto(transcripts, rules_factory, chunk_size))


def _compile_start(T):
    """R1/R8 block start: the compile-error header, with the reference's
    Int-overflow guards on line and column (CompileErrorRule.swift,
    SwiftBuildCompileErrorRule.swift:66-70)."""
    return (
        (T.contains("error:") | T.contains("warning:"))
        & T.rlike(java_re(COMPILE_ERROR_RE))
        & (F.length(F.regexp_extract(T, java_re(COMPILE_ERROR_RE), 3)) <= 18)
        & (F.length(F.regexp_extract(T, java_re(COMPILE_ERROR_RE), 4)) <= 18)
    )


def _compile_start_sql() -> str:
    """DuckDB twin of :func:`_compile_start`."""
    ce = "'" + COMPILE_ERROR_RE.replace("'", "''") + "'"
    return (f"(contains(text, 'error:') OR contains(text, 'warning:')) "
            f"AND regexp_matches(text, {ce}) "
            f"AND length(regexp_extract(text, {ce}, 3)) <= 18 "
            f"AND length(regexp_extract(text, {ce}, 4)) <= 18")


def _header_select(blocks: DataFrame, fields: dict[str, Column],
                   cols: list[str]) -> DataFrame:
    """conv_id, start_turn_idx and ``cols`` of assembled blocks: each header
    field from ``fields`` (:func:`classify.rule_fields` over the header),
    ``related_messages`` as assembled."""
    return blocks.select("conv_id", "start_turn_idx", *(
        F.col(c) if c == "related_messages" else fields[c].alias(c) for c in cols))


#: header fields of the R2/R3/R6/R9 block outputs
_BLOCK_FIELDS = ["severity", "message", "source", "category", "raw"]
#: the flat related pair of every SQL twin (see :func:`_flat_related`)
_RELATED_SQL = ["n_related", "related_joined"]


def compile_blocks(transcripts: DataFrame, chunk_size: int = 65536) -> DataFrame:
    """R1 CompileErrorRule blocks through :func:`assemble_blocks`. Output
    schema == STATEFUL_SCHEMA.

    Single-rule semantics (consumeLine + CompileErrorRule.swift, see
    rules/table.py), per line with an open block:

      * terminator (blank / trimmed-prefix SwiftCompile|cd |** BUILD|---)
        closes the block; the same line may also start a new block;
      * a start match (regex + int guards) closes and restarts;
      * ``note:``/caret-prefixed or non-fastFail non-empty lines append to
        ``related_messages``;
      * fastFail-true lines that match nothing are *dropped in place* (the
        block stays open).

    With no open block, only a start match does anything.
    """
    T = F.col("text")
    trimmed = F.regexp_replace(T, java_re(r"^[ \t]+|[ \t]+$"), "")
    is_term = (
        (F.length(trimmed) == 0)
        | trimmed.startswith("SwiftCompile")
        | trimmed.startswith("cd ")
        | trimmed.startswith("** BUILD")
        | trimmed.startswith("---")
    )
    fastfail = T.contains(":") & (T.contains("error:") | T.contains("warning:"))
    # starts and terminators need no exclusion here: the assembler drops
    # start rows and every row at or after the block's first terminator
    is_cont = (trimmed.startswith("note:") | trimmed.startswith("^")
               | (~fastfail & (F.length(trimmed) > 0)))
    blocks = assemble_blocks(transcripts, _compile_start(T), is_term, is_cont,
                             chunk_size)
    return _header_select(blocks, rule_fields(F.col("header"), "r1_compile"),
                          STATEFUL_SCHEMA.names[2:])


def compile_blocks_flat(transcripts: DataFrame,
                        chunk_size: int = 65536) -> DataFrame:
    """:func:`compile_blocks` with scalar related columns, the shape of
    :func:`compile_blocks_sql`."""
    return _flat_related(
        compile_blocks(transcripts, chunk_size).drop("raw", "build_target"))


def compile_blocks_sql(transcripts_cte: str) -> str:
    """DuckDB twin of compile_blocks_flat over a transcripts CTE body."""
    tr = "regexp_replace(text, '^[ \t]+|[ \t]+$', '', 'g')"
    close = (f"length({tr}) = 0 OR starts_with({tr}, 'SwiftCompile') "
             f"OR starts_with({tr}, 'cd ') OR starts_with({tr}, '** BUILD') "
             f"OR starts_with({tr}, '---')")
    cont = (f"starts_with({tr}, 'note:') OR starts_with({tr}, '^') "
            "OR (NOT (contains(text, ':') AND (contains(text, 'error:') "
            f"OR contains(text, 'warning:'))) AND length({tr}) > 0)")
    inner = _blocks_sql(transcripts_cte, _compile_start_sql(), close, cont)
    return header_fields_sql(
        inner, "'r1_compile'",
        ["file", "line", "column", "severity", "message", *_RELATED_SQL,
         "source", "category"])


def assemble_blocks(transcripts: DataFrame, is_start, is_close, is_cont,
                    chunk_size: int = 65536) -> DataFrame:
    """Generic single-rule multi-line block assembly (the consumeLine shape
    shared by every multi-line rule, e.g. BuildFailedRule.swift:39-46 and
    LinkerErrorRule.swift:30-40): ``is_start`` opens
    a block, the first subsequent ``is_close`` line ends it (the close line
    itself is NOT appended — consumeLine checks isEnd before
    matchContinuation, BuildLogParser.swift:327-343), ``is_cont`` lines
    before the close collect into related_messages. Continuations need not
    be adjacent: a line matching none of the predicates falls through all
    four consumeLine branches and is dropped with the block still open.

    Skew-proof chunked prefix-sum formulation (module docstring): local
    windows per (conv, chunk), per-conversation chunk-offset prefix sum, one
    hash aggregate with a conditional-min close cutoff — no
    whole-conversation sort task.

    Returns (conv_id, seg, start_turn_idx, header, related_messages).
    """
    return assemble_flagged(
        transcripts.select("conv_id", "turn_idx", "text")
        .withColumn("is_start", is_start)
        .withColumn("is_close", is_close)
        .withColumn("is_cont", is_cont),
        chunk_size=chunk_size,
    )


def assemble_flagged(flagged: DataFrame, chunk_size: int = 65536) -> DataFrame:
    """Core of :func:`assemble_blocks` over an input that already carries
    boolean ``is_start``/``is_close``/``is_cont`` columns — for rules whose
    predicates need context beyond the line itself (e.g. XCTest's
    state-dependent assertion-start, see :func:`xctest_blocks`)."""
    df = (
        flagged.select("conv_id", "turn_idx", "text",
                       "is_start", "is_close", "is_cont")
        .withColumn("chunk", F.floor(F.col("turn_idx") / chunk_size))
    )
    w_local = (
        Window.partitionBy("conv_id", "chunk").orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    df = df.withColumn("local_seg", F.sum(F.col("is_start").cast("long")).over(w_local))

    per_chunk = df.groupBy("conv_id", "chunk").agg(
        F.sum(F.col("is_start").cast("long")).alias("n_starts"))
    w_chunks = (
        Window.partitionBy("conv_id").orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_chunk.withColumn(
        "seg_offset", F.coalesce(F.sum("n_starts").over(w_chunks), F.lit(0)))

    df = (
        df.join(offsets.select("conv_id", "chunk", "seg_offset"),
                ["conv_id", "chunk"])
        .withColumn("seg", F.col("local_seg") + F.col("seg_offset"))
        .filter(F.col("seg") > 0)
    )
    agg = (
        df.groupBy("conv_id", "seg")
        .agg(
            F.min_by(F.struct("turn_idx", "text"), "turn_idx").alias("start"),
            F.min(F.when(F.col("is_close") & ~F.col("is_start"),
                         F.col("turn_idx"))).alias("first_close"),
            F.array_sort(
                F.collect_list(
                    F.when(F.col("is_cont") & ~F.col("is_start"),
                           F.struct("turn_idx", "text"))
                )
            ).alias("conts"),
        )
    )
    cutoff = F.coalesce(F.col("first_close"), F.lit(1 << 62))
    related = F.transform(
        F.filter(F.col("conts"), lambda s: s["turn_idx"] < cutoff),
        lambda s: s["text"])
    return agg.select(
        "conv_id", "seg",
        F.col("start.turn_idx").alias("start_turn_idx"),
        F.col("start.text").alias("header"),
        related.alias("related_messages"),
    )


def build_failed_blocks(transcripts: DataFrame) -> DataFrame:
    """BuildFailedRule (R2) blocks: ``** BUILD FAILED **`` header + the
    failed-command list (``The following build commands failed:`` /
    tab-indented commands), terminated by the ``(N failures)`` line
    (BuildFailedRule.swift:9,39-41,46 — the terminator also matches the
    continuation predicate, but consumeLine's isEnd branch wins so it is
    not collected). Flat scalar output for the driver gate."""
    T = F.col("text")
    is_start = T.rlike(java_re(BUILD_FAILED_RE))
    is_close = T.contains("failures)")
    is_cont = (
        T.startswith("The following build commands failed:")
        | T.startswith("\t")
        | T.contains("failures)")
    )
    blocks = assemble_blocks(transcripts, is_start, is_close, is_cont)
    return _flat_related(_header_select(
        blocks, rule_fields(F.col("header"), "r2_build_failed"),
        _BLOCK_FIELDS + ["related_messages"]))


def linker_blocks(transcripts: DataFrame) -> DataFrame:
    """LinkerErrorRule (R6) blocks: ``Undefined symbols for architecture``
    header + 2-space / ``ld:`` / ``clang:`` continuations, closed by the
    ``clang: error: linker command failed`` line
    (LinkerErrorRule.swift:17,35,39). The close line matches the
    continuation prefix too — isEnd wins (checked first), so it is not
    collected; its unguarded-isEnd quirk (fires with no current) changes
    nothing in a single-rule stack (flushing nothing is a no-op)."""
    T = F.col("text")
    is_start = T.startswith("Undefined symbols for architecture")
    is_close = T.startswith("clang: error: linker command failed")
    is_cont = T.startswith("  ") | T.startswith("ld:") | T.startswith("clang:")
    blocks = assemble_blocks(transcripts, is_start, is_close, is_cont)
    return _flat_related(_header_select(
        blocks, rule_fields(F.col("header"), "r6_linker"),
        _BLOCK_FIELDS + ["related_messages"]))


def _blocks_sql(transcripts_cte: str, start_sql: str, close_sql: str,
                cont_sql: str) -> str:
    """DuckDB twin of :func:`assemble_blocks`: produces
    (conv_id, seg, start_turn_idx, header, n_related, related_joined)."""
    # MATERIALIZED: see classify.classified_sql — the transcript template
    # CASE must not re-derive per flag-predicate reference
    flagged = f"""
WITH transcripts AS MATERIALIZED (
{transcripts_cte}
), flags AS (
  SELECT conv_id, turn_idx, text,
         ({start_sql}) AS is_start,
         ({close_sql}) AS is_close,
         ({cont_sql}) AS is_cont
  FROM transcripts
)
SELECT * FROM flags"""
    return _blocks_sql_flagged(flagged)


def _blocks_sql_flagged(flagged_cte: str) -> str:
    """DuckDB twin of :func:`assemble_flagged` over a CTE body producing
    (conv_id, turn_idx, text, is_start, is_close, is_cont)."""
    return f"""
WITH flagged AS (
{flagged_cte}
), seg AS (
  SELECT *, sum(CASE WHEN is_start THEN 1 ELSE 0 END)
              OVER (PARTITION BY conv_id ORDER BY turn_idx
                    ROWS UNBOUNDED PRECEDING) AS seg
  FROM flagged
), cl AS (
  SELECT *, min(CASE WHEN is_close AND NOT is_start THEN turn_idx END)
              OVER (PARTITION BY conv_id, seg) AS first_close
  FROM seg WHERE seg > 0
), agg AS (
  SELECT conv_id, seg,
    min_by(text, turn_idx) AS header,
    CAST(min(turn_idx) AS INTEGER) AS start_turn_idx,
    CAST(coalesce(count(*) FILTER (
      WHERE is_cont AND NOT is_start
        AND turn_idx < coalesce(first_close, 4611686018427387904)), 0) AS BIGINT)
      AS n_related,
    coalesce(string_agg(text, chr(10) ORDER BY turn_idx) FILTER (
      WHERE is_cont AND NOT is_start
        AND turn_idx < coalesce(first_close, 4611686018427387904)), '')
      AS related_joined
  FROM cl GROUP BY conv_id, seg
)
SELECT conv_id, seg, start_turn_idx, header, n_related, related_joined FROM agg
"""


def build_failed_blocks_sql(transcripts_cte: str) -> str:
    start = "regexp_matches(text, '^\\*\\* BUILD FAILED \\*\\*$')"
    close = "contains(text, 'failures)')"
    cont = ("starts_with(text, 'The following build commands failed:') "
            "OR starts_with(text, chr(9)) OR contains(text, 'failures)')")
    return header_fields_sql(_blocks_sql(transcripts_cte, start, close, cont),
                             "'r2_build_failed'", _BLOCK_FIELDS + _RELATED_SQL)


def linker_blocks_sql(transcripts_cte: str) -> str:
    start = "starts_with(text, 'Undefined symbols for architecture')"
    close = "starts_with(text, 'clang: error: linker command failed')"
    cont = ("starts_with(text, '  ') OR starts_with(text, 'ld:') "
            "OR starts_with(text, 'clang:')")
    return header_fields_sql(_blocks_sql(transcripts_cte, start, close, cont),
                             "'r6_linker'", _BLOCK_FIELDS + _RELATED_SQL)


# ---------------------------------------------------------------------------
# R8 swift-build 5.9+ gutter blocks and R3 xcodebuild warning bodies —
# the remaining single-rule multi-line shapes, via the generic assembler.
# ---------------------------------------------------------------------------

# all-whitespace-or-empty line (one anchored match — cheaper than the
# previous length(regexp_replace(text, '^\s+|\s+$', '')) == 0 trim form,
# which allocated a trimmed string per line). The ABSOLUTE anchors make it
# exact whatever the line-terminator flags: without java_re's (?d), Java's
# '$' matches BEFORE a trailing U+2028/U+2029/U+0085 line terminator, so
# '^\s*$' calls a whitespace+U+2028 line blank while the trim form, the
# DuckDB twin, and the Python reference oracle all do not; '\A..\z' has no
# terminator exception and is exactly the trim-form predicate. DuckDB's
# RE2 '$' is already end-of-text-only, so the SQL twins use '^\s*$'.
_BLANK_LINE_RE = r"\A\s*\z"


def swiftbuild_compile_blocks(transcripts: DataFrame) -> DataFrame:
    """R8 SwiftBuildCompileErrorRule blocks (swift-build 5.9+ diagnostics):
    a compile-error header (same start regex as R1 with Int-overflow guards,
    SwiftBuildCompileErrorRule.swift:13,66-70) opens a block; ``N | code``
    gutter context (:24), ``| `- sev: msg`` pointers (:35) and blank lines
    (:104) append to related_messages; a new header, an
    ``error: …command failed`` line or a ``[i/n] … Compiling`` progress line
    closes it (:118-128). Single-rule consumeLine
    (BuildLogParser.swift:327-364): the close line itself is not collected
    (isEnd wins), and lines matching no predicate are dropped in place with
    the block still open. Blank detection uses the ASCII ``\\s`` class in
    both engines (reference trims Unicode ``.whitespaces`` — documented
    ASCII-only restriction, same as render_text_verbose)."""
    T = F.col("text")
    # isEnd includes the UNGUARDED start regex (SwiftBuildCompileErrorRule
    # .swift:118 matches without the Int casts): a header whose line/col
    # overflows Int64 is rejected as a start (_compile_start's guards) but
    # still terminates the open block — without this disjunct the stale block
    # would keep collecting gutter lines the reference drops (ADVICE r03).
    # For valid headers is_start is also true, and the assembler's
    # close-detection is `is_close AND NOT is_start` (end+start same line
    # semantics, BuildLogParser.swift:327-337), so they are unaffected.
    is_close = (
        (T.startswith("error: ") & T.contains("command failed"))
        | (T.startswith("[") & T.contains("]") & T.contains("Compiling"))
        | ((T.contains("error:") | T.contains("warning:"))
           & T.rlike(java_re(COMPILE_ERROR_RE)))
    )
    # fastFail guards: both gutter shapes require a literal '|', so the
    # contains() gate skips two regex executions on the ~83% of lines
    # without one (A/B at sf0.1: 1.67 s -> 1.23 s median); blankness is one
    # anchored match instead of an allocating trim-replace
    is_cont = (
        (T.contains("|") & (T.rlike(java_re(CONTEXT_LINE_RE))
                            | T.rlike(java_re(ERROR_POINTER_RE))))
        | T.rlike(java_re(_BLANK_LINE_RE))
    )
    blocks = assemble_blocks(transcripts, _compile_start(T), is_close, is_cont)
    f = rule_fields(F.col("header"), "r1_compile")
    f.update(source=F.lit("swift-build"),
             category=F.concat(F.lit("compile_"), f["severity"]))
    return _flat_related(_header_select(
        blocks, f, ["file", "line", "column"] + _BLOCK_FIELDS + ["related_messages"]))


def swiftbuild_compile_blocks_sql(transcripts_cte: str) -> str:
    ce = "'" + COMPILE_ERROR_RE.replace("'", "''") + "'"
    ctx = "'" + CONTEXT_LINE_RE.replace("'", "''") + "'"
    ptr = "'" + ERROR_POINTER_RE.replace("'", "''") + "'"
    close = ("(starts_with(text, 'error: ') AND contains(text, 'command failed')) "
             "OR (starts_with(text, '[') AND contains(text, ']') "
             "AND contains(text, 'Compiling')) "
             "OR ((contains(text, 'error:') OR contains(text, 'warning:')) "
             f"AND regexp_matches(text, {ce}))")
    cont = (f"regexp_matches(text, {ctx}) OR regexp_matches(text, {ptr}) "
            f"OR regexp_matches(text, '^\\s*$')")
    return header_fields_sql(
        _blocks_sql(transcripts_cte, _compile_start_sql(), close, cont), "'r1_compile'",
        ["file", "line", "column"] + _BLOCK_FIELDS + _RELATED_SQL,
        source="'swift-build'", category=f"'compile_' || regexp_extract(text, {ce}, 5)")


def module_failed_blocks(transcripts: DataFrame) -> DataFrame:
    """R9 SwiftBuildModuleFailedRule blocks — the last multi-line-capable
    rule (SwiftBuildModuleFailedRule.swift): ``error: emit-module command
    failed with exit code N`` header; space-prefixed hint lines containing
    ``use -v to see invocation`` append (:50-55, "usually single-line, but
    may contain hints"); a ``: error:``/``: warning:`` compile line or a
    blank line closes (:62-73). With this, every rule the reference can
    run multi-line (R1, R2, R3, R6, R7, R8, R9) has a vectorized oracled
    block query."""
    T = F.col("text")
    is_start = (
        T.startswith("error: emit-module command failed")
        & T.rlike(java_re(MODULE_FAILED_RE))
    )
    is_close = (
        (T.contains(":") & (T.contains(": error:") | T.contains(": warning:")))
        | T.rlike(java_re(_BLANK_LINE_RE))
    )
    is_cont = T.startswith(" ") & T.contains("use -v to see invocation")
    blocks = assemble_blocks(transcripts, is_start, is_close, is_cont)
    return _flat_related(_header_select(
        blocks, rule_fields(F.col("header"), "r9_module_failed"),
        _BLOCK_FIELDS + ["related_messages"]))


def module_failed_blocks_sql(transcripts_cte: str) -> str:
    mf = "'" + MODULE_FAILED_RE.replace("'", "''") + "'"
    start = (f"starts_with(text, 'error: emit-module command failed') "
             f"AND regexp_matches(text, {mf})")
    close = ("(contains(text, ':') AND (contains(text, ': error:') "
             "OR contains(text, ': warning:'))) "
             "OR regexp_matches(text, '^\\s*$')")
    cont = "starts_with(text, ' ') AND contains(text, 'use -v to see invocation')"
    return header_fields_sql(_blocks_sql(transcripts_cte, start, close, cont),
                             "'r9_module_failed'", _BLOCK_FIELDS + _RELATED_SQL)


def xcodebuild_warning_blocks(transcripts: DataFrame) -> DataFrame:
    """R3 XcodeBuildWarningRule blocks: ``--- xcodebuild: WARNING:`` header
    + ``{{ platform:`` / ``}}`` detail-body continuations
    (XcodebuildWarningRule.swift:12,47), closed by a blank line or
    ``** BUILD FAILED **`` (:50-54)."""
    T = F.col("text")
    is_start = T.rlike(java_re(XCODEBUILD_WARNING_RE))
    is_close = (
        T.rlike(java_re(_BLANK_LINE_RE))
        | T.startswith("** BUILD FAILED **")
    )
    is_cont = T.startswith("{ platform:") | T.startswith("}")
    blocks = assemble_blocks(transcripts, is_start, is_close, is_cont)
    return _flat_related(_header_select(
        blocks, rule_fields(F.col("header"), "r3_xcb_warning"),
        _BLOCK_FIELDS + ["related_messages"]))


def xcodebuild_warning_blocks_sql(transcripts_cte: str) -> str:
    xw = "'" + XCODEBUILD_WARNING_RE.replace("'", "''") + "'"
    start = f"regexp_matches(text, {xw})"
    close = ("regexp_matches(text, '^\\s*$') "
             "OR starts_with(text, '** BUILD FAILED **')")
    cont = "starts_with(text, '{ platform:') OR starts_with(text, '}')"
    return header_fields_sql(_blocks_sql(transcripts_cte, start, close, cont),
                             "'r3_xcb_warning'", _BLOCK_FIELDS + _RELATED_SQL)


# ---------------------------------------------------------------------------
# R7 XCTest failure blocks. The only state-DEPENDENT start predicate in the
# reference: an XCTAssert-failure line is a new assertion block only while
# no test-category block is open — once it is, the same line is a
# continuation (matchContinuation wins, XCTestRule.swift:46-57, checked
# before matchStart in consumeLine). The state admits a closed form: the
# open category can only become test-flavored at the conversation's first
# Test Case/Suite header or test-error start, and from then on every start
# (header or test_error) is again test-flavored — so "a test block is open"
# ⇔ "turn_idx > first T/E turn", one hash-aggregated min per conversation.
# ---------------------------------------------------------------------------


_R7_RULES = ("r7a_test_case", "r7b_test_suite", "r7c_assertion", "r7d_test_error")
# a header's start kind, in classify's first-match order
_R7_KIND_SQL = """CASE WHEN starts_with(text, 'Test Case') THEN 'r7a_test_case'
       WHEN starts_with(text, 'Test Suite') THEN 'r7b_test_suite'
       WHEN contains(text, 'XCTAssert') AND contains(text, 'failed') THEN 'r7c_assertion'
       ELSE 'r7d_test_error' END"""


def xctest_blocks(transcripts: DataFrame) -> DataFrame:
    """R7 XCTestRule single-rule blocks (XCTestRule.swift:22-65).

    Line classes (matchStart order, :24-42): T = ``Test Case``/``Test
    Suite`` headers; A = XCTAssert failures; E = generic ``error:``+``test``
    failures; C-shape = the continuation predicate (4-space indent /
    XCTAssert / Expected: / Actual: / Difference:, :51-56). With
    ``otf = min(turn of T∨E)`` per conversation (the point after which a
    test-category block is always open — see block comment):

      * is_start: every T; A before otf (assertion_failure opens only from
        a non-test state, since category 'assertion_failure' fails the
        continuation guard :50); E at otf or non-C-shaped after it.
      * is_cont: C-shaped lines after otf (includes A — XCTAssert ⊆ C).
      * no close predicate: isEnd lines (:59-65) are exactly the T headers,
        which restart; assertion blocks collect nothing (guard :50).

    Differential-tested equal to the oracle single-rule XCTestRule stack.
    """
    T = F.col("text")
    t_line = T.startswith("Test Case") | T.startswith("Test Suite")
    a_line = ~t_line & T.contains("XCTAssert") & T.contains("failed")
    e_line = ~t_line & ~a_line & T.contains("error:") & T.contains("test")
    c_shape = (
        T.startswith("    ") | T.contains("XCTAssert") | T.contains("Expected:")
        | T.contains("Actual:") | T.contains("Difference:")
    )
    df = (
        transcripts.select("conv_id", "turn_idx", "text")
        .withColumn("t_line", t_line)
        .withColumn("a_line", a_line)
        .withColumn("e_line", e_line)
        .withColumn("c_shape", c_shape)
    )
    # one row per conversation — hash agg + shuffle join on conv_id (the key
    # the assembly shuffles on anyway); no whole-conversation window sort
    otf = (
        df.filter(F.col("t_line") | F.col("e_line"))
        .groupBy("conv_id").agg(F.min("turn_idx").alias("otf"))
    )
    df = df.join(otf, "conv_id", "left")
    OTF = F.coalesce(F.col("otf"), F.lit(1 << 62))
    is_start = (
        F.col("t_line")
        | (F.col("a_line") & (F.col("turn_idx") < OTF))
        | (F.col("e_line") & ((F.col("turn_idx") == OTF) | ~F.col("c_shape")))
    )
    flagged = (
        df.withColumn("is_start", is_start)
        .withColumn("is_close", F.lit(False))
        .withColumn("is_cont",
                    ~is_start & (F.col("turn_idx") > OTF) & F.col("c_shape"))
    )
    blocks = assemble_flagged(flagged)
    h = F.col("header")
    kind = (
        F.when(h.startswith("Test Case"), "r7a_test_case")
        .when(h.startswith("Test Suite"), "r7b_test_suite")
        .when(h.contains("XCTAssert") & h.contains("failed"), "r7c_assertion")
        .otherwise("r7d_test_error")
    )
    return _flat_related(_header_select(
        blocks, rule_fields(h, kind, _R7_RULES),
        ["file", "line"] + _BLOCK_FIELDS + ["build_target", "related_messages"]))


def xctest_blocks_sql(transcripts_cte: str) -> str:
    big = str(1 << 62)
    flagged = f"""
WITH transcripts AS (
{transcripts_cte}
), cls AS (
  SELECT conv_id, turn_idx, text,
    starts_with(text, 'Test Case') OR starts_with(text, 'Test Suite') AS t_line,
    NOT (starts_with(text, 'Test Case') OR starts_with(text, 'Test Suite'))
      AND contains(text, 'XCTAssert') AND contains(text, 'failed') AS a_line,
    starts_with(text, '    ') OR contains(text, 'XCTAssert')
      OR contains(text, 'Expected:') OR contains(text, 'Actual:')
      OR contains(text, 'Difference:') AS c_shape
  FROM transcripts
), cls2 AS (
  SELECT *, NOT t_line AND NOT a_line
            AND contains(text, 'error:') AND contains(text, 'test') AS e_line
  FROM cls
), wotf AS (
  SELECT *, coalesce(min(CASE WHEN t_line OR e_line THEN turn_idx END)
                       OVER (PARTITION BY conv_id), {big}) AS otf
  FROM cls2
), fl AS (
  SELECT conv_id, turn_idx, text,
    t_line OR (a_line AND turn_idx < otf)
           OR (e_line AND (turn_idx = otf OR NOT c_shape)) AS is_start,
    FALSE AS is_close,
    NOT (t_line OR (a_line AND turn_idx < otf)
                OR (e_line AND (turn_idx = otf OR NOT c_shape)))
      AND turn_idx > otf AND c_shape AS is_cont
  FROM wotf
)
SELECT * FROM fl"""
    return header_fields_sql(
        _blocks_sql_flagged(flagged), _R7_KIND_SQL,
        ["file", "line"] + _BLOCK_FIELDS + ["build_target"] + _RELATED_SQL)
