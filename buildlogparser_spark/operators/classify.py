"""Stateless per-line classify: the default CLI stack as a column cascade.

With the reference's default rule stack (BuildLogParserCommand.swift:92-98 —
``[CompileErrorRule("compiler"), XcodeBuildRule(nocommon),
SwiftBuildRule(nocommon)]``) the ``consumeLine`` state machine
(BuildLogParser.swift:325-364) degenerates to a *stateless* per-line
classifier, because ``SwiftBuildRule.isEnd`` falls through to ``return true``
(SwiftBuildRule.swift:52): every line takes the end-branch, flushes the
in-flight diagnostic and re-scans ``matchStart``. Consequently the default
pipeline is: per line, first-match-wins over the flattened rule order

    R1 CompileErrorRule(compiler)
    R2 BuildFailedRule … R7 XCTestRule        (XcodeBuildRule sub-order)
    R8* SwiftBuildCompileErrorRule (shadowed by R1 — same regex)
    R9 SwiftBuildModuleFailedRule, R10 SwiftBuildProgressRule

and ``related_messages`` is always empty. This file implements that cascade
twice from the same regex constants (rules/table.py):

* :func:`classify` — Spark DataFrame ops: :func:`rule_id` (the first-match
  dispatch) then :func:`rule_fields` (each rule's fields). Pure JVM-side
  expressions (``rlike``/``regexp_extract``/``when``): whole-stage codegen, no Python in
  the hot path, embarrassingly parallel (no shuffle, no ordering needed),
  filter/column pruning pushes to the scan. This is the 100 TB path.
* :func:`classified_sql` — the equivalent DuckDB SQL (CTE) used as the
  driver's correctness oracle.

The rule → fields mapping lives only here: every multi-line block operator
(operators/assemble.py) reads its header's fields through :func:`rule_fields`
under the block's rule id, and its SQL twin through
:func:`header_fields_sql`, as the reference's ``consumeLine`` keeps the
``Diagnostic`` its rule's ``matchStart`` built (BuildLogParser.swift:325-364).

Differential-tested against the pure-Python oracle in tests/.

Fidelity notes:
  * fastFail pre-filters (CompileErrorRule.swift:31-35 etc.) are semantically
    redundant (they never reject a line its matchStart would accept) — we keep
    a cheap ``contains`` guard ahead of the expensive regex for the same
    reason the reference does: skip regex work on the ~90% of lines that
    cannot match.
  * Swift ``Int(...)`` overflow rejects a whole R1 match
    (CompileErrorRule.swift:57-63): guarded via digit-run length ≤ 18.
  * XCTest file/line extraction does NOT reject on overflow — the field just
    goes null (XCTestRule.swift:262-270).
  * Java regex treats ``\\r`` as a line terminator, RE2 and Python do not:
    every Spark pattern carries the UNIX_LINES flag through :func:`java_re`,
    so CRLF lines classify alike in all three (tests/test_crlf_regex.py).
"""

from __future__ import annotations

import functools
from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F

from ..rules.table import (
    BUILD_COMMAND_RE,
    COMPILE_ERROR_RE,
    FILE_INFO_RE,
    MODULE_FAILED_RE,
    PROGRESS_RE,
    SUITE_NAME_RE,
    SWIFT_COMPILE_TASK_RE,
    TEST_NAME_RE,
    XCODEBUILD_WARNING_RE,
)


def _T():
    """Lazy text column ref (F.col needs an active session in classic mode)."""
    return F.col("text")


DIAG_COLUMNS = [
    "rule_id", "file", "line", "column", "severity", "message",
    "source", "category", "build_target",
]

_STEP_BOUNDARY_CATS = (
    "progress", "test_start", "test_success", "test_info",
    "test_suite_start", "test_suite_success", "test_suite_info", "build_failed",
)
_TOOL_INVOCATION_CATS = ("swift_compilation_task_failed", "build_command_failed")


def java_re(pat: str) -> str:
    """``pat`` for Spark's Java regex engine, matching as RE2 (the DuckDB
    twins) and Python (the oracle) do: the UNIX_LINES flag ``(?d)`` makes
    ``\\n`` the only line terminator, so ``.`` matches a ``\\r`` and ``$``
    no longer matches before a trailing one (CRLF log lines). Every Spark
    ``rlike``/``regexp_extract``/``regexp_replace`` pattern of the classify
    cascade and the block assemblers goes through it."""
    return "(?d)" + pat


def _ext(T: Column, pat: str, group: int) -> Column:
    return F.regexp_extract(T, java_re(pat), group)


def _null(t: str) -> Column:
    return F.lit(None).cast(t)


def _long(g: Column) -> Column:
    """A \\d+ group as bigint, null (without erroring under ANSI) if the
    digit run cannot fit in 64 bits."""
    return F.when(F.length(g) <= 18, g.cast("long")).otherwise(_null("long"))


_SEP = "\x01"


def _packed(T: Column, pat: str, groups: list[int]) -> Callable[[int], Column]:
    """ONE regex execution extracting several capture groups at once: rewrite
    the (anchored, full-line) pattern's match into the groups joined by an
    \\x01 separator, then split. The naive cascade re-executes the same
    pattern per extracted group (~6-9× per matching row for R1 — measured as
    the dominant classify cost, ROADMAP r01 #2); this brings it to one
    ``rlike`` (the predicate) + one ``regexp_replace``. Only valid for
    ^…$-anchored patterns (an unanchored search would keep the surrounding
    text around the replacement).

    Returns a reader: ``read(g)`` is capture group ``g``. It reads with
    ``F.get`` (null-on-missing — safe under ANSI on rows where the pattern
    did not match and the array has one element), falling back to exact
    per-group extraction when the split is not clean (adversarial text
    containing the \\x01 separator inside a capture group would otherwise
    shift fields and diverge from the reference). The fallback is
    regex-per-group but only executes on separator-containing matches, which
    real logs do not produce. The array is built on the first read."""
    arr = functools.cache(lambda: F.split(
        F.regexp_replace(T, java_re(pat), _SEP.join(f"${g}" for g in groups)), _SEP))

    def read(g: int) -> Column:
        return (F.when(F.size(arr()) == len(groups), F.get(arr(), groups.index(g)))
                .otherwise(_ext(T, pat, g)))
    return read


def rule_id(T: Column) -> Column:
    """The first-match-wins rule dispatch over line ``T``: the rule id of
    the first rule whose start matches, null when none does."""
    ce = _packed(T, COMPILE_ERROR_RE, [1, 3, 4, 5, 6])
    bc = _packed(T, BUILD_COMMAND_RE, [1, 2, 3])
    r1 = (
        (T.contains("error:") | T.contains("warning:"))  # fastFail gate
        & T.rlike(java_re(COMPILE_ERROR_RE))
        & (F.length(ce(3)) <= 18)
        & (F.length(ce(4)) <= 18)
    )
    r2 = T == "** BUILD FAILED **"  # regex is an exact literal (BuildFailedRule.swift:9)
    r3 = T.rlike(java_re(XCODEBUILD_WARNING_RE))
    r4 = T.contains("SwiftCompile normal ") & T.rlike(java_re(SWIFT_COMPILE_TASK_RE))
    r5 = (
        T.contains("(in target '") & T.rlike(java_re(BUILD_COMMAND_RE))
        & ~bc(1).contains("SwiftCompile")
    )
    r6 = T.startswith("Undefined symbols for architecture")
    r7a = T.startswith("Test Case")
    r7b = T.startswith("Test Suite")
    r7c = T.contains("XCTAssert") & T.contains("failed")
    r7d = T.contains("error:") & T.contains("test")
    r9 = T.startswith("error: emit-module command failed") & T.rlike(java_re(MODULE_FAILED_RE))
    r10 = T.startswith("[") & T.rlike(java_re(PROGRESS_RE))

    return (
        F.when(r1, "r1_compile")
        .when(r2, "r2_build_failed")
        .when(r3, "r3_xcb_warning")
        .when(r4, "r4_swiftcompile_task")
        .when(r5, "r5_build_command")
        .when(r6, "r6_linker")
        .when(r7a, "r7a_test_case")
        .when(r7b, "r7b_test_suite")
        .when(r7c, "r7c_assertion")
        .when(r7d, "r7d_test_error")
        .when(r9, "r9_module_failed")
        .when(r10, "r10_progress")
    )


def _built(v):
    """A :func:`rule_fields` branch value: a literal, or a thunk to call."""
    return v() if callable(v) else v


def rule_fields(T: Column, rule: Column | str,
                ids: tuple[str, ...] | None = None) -> dict[str, Column]:
    """The diagnostic fields each rule's ``matchStart`` builds from line
    ``T``: file, line, column, severity, message, source, category, raw and
    build_target — the one rule → fields mapping, shared by :func:`classify`
    and every block operator's header (operators/assemble.py).

    ``rule`` is either a rule-id column — one CASE per field, with branches
    only for the rule ids in ``ids`` (default: all) — or one rule-id string,
    for which only that rule's expressions are built. Every Column op is a
    Python→JVM round trip (~1 ms), so a block header does not pay for the
    whole cascade."""
    if isinstance(rule, str):
        ids = (rule,)

    def case(branches: list, default=None) -> Column:
        """First branch ``(rule ids, value)`` for ``rule``; values are
        literals or thunks, built only for the rules in ``ids``."""
        live = []
        for rs, v in branches:
            rs = tuple(r for r in ((rs,) if isinstance(rs, str) else rs)
                       if ids is None or r in ids)
            if rs:
                live.append((rs, v))
        if isinstance(rule, str) or not live:
            v = _built(live[0][1] if live else default)
            return F.lit(v) if v is None or isinstance(v, str) else v
        out = None
        for rs, v in live:
            cond = rule == rs[0] if len(rs) == 1 else rule.isin(*rs)
            out = F.when(cond, _built(v)) if out is None else out.when(cond, _built(v))
        return out if default is None else out.otherwise(_built(default))

    ce = _packed(T, COMPILE_ERROR_RE, [1, 3, 4, 5, 6])
    sct = _packed(T, SWIFT_COMPILE_TASK_RE, [1, 2, 3, 4])
    bc = _packed(T, BUILD_COMMAND_RE, [1, 2, 3])
    mf = _packed(T, MODULE_FAILED_RE, [1, 2])
    pg = _packed(T, PROGRESS_RE, [1, 2, 3, 4])
    null_s = lambda: _null("string")  # noqa: E731
    null_l = lambda: _null("long")  # noqa: E731

    # --- XCTest helpers (XCTestRule.swift) --------------------------------
    def suite_name():
        return (F.when(T.rlike(java_re(SUITE_NAME_RE)), _ext(T, SUITE_NAME_RE, 1))
                .otherwise(F.lit("Unknown Suite")))

    def status():
        return (F.when(T.contains("failed"), "Failed")
                .when(T.contains("passed"), "Passed")
                .when(T.contains("started"), "Started")
                .otherwise("Info"))

    r7cd = ("r7c_assertion", "r7d_test_error")
    return {
        "file": case([("r1_compile", lambda: ce(1)),
                      (r7cd, lambda: F.when(T.rlike(java_re(FILE_INFO_RE)),
                                            _ext(T, FILE_INFO_RE, 1))
                       .otherwise(null_s()))],
                     null_s),
        "line": case([("r1_compile", lambda: _long(ce(3))),
                      (r7cd, lambda: F.when(T.rlike(java_re(FILE_INFO_RE)),
                                            _long(_ext(T, FILE_INFO_RE, 2)))
                       .otherwise(null_l()))],
                     null_l),
        "column": case([("r1_compile", lambda: _long(ce(4)))], null_l),
        "severity": case([
            ("r1_compile", lambda: ce(5)),
            ("r3_xcb_warning", "warning"),
            ("r10_progress", "info"),
            (("r7a_test_case", "r7b_test_suite"),
             lambda: F.when(T.contains("failed"), "error").otherwise("info")),
        ], "error"),
        "message": case([
            ("r1_compile", lambda: ce(6)),
            ("r2_build_failed", "BUILD FAILED"),
            ("r3_xcb_warning", lambda: _ext(T, XCODEBUILD_WARNING_RE, 1)),
            ("r4_swiftcompile_task", lambda: F.concat(
                F.lit("Swift compilation task failed for "), sct(1), F.lit(": "), sct(2))),
            ("r5_build_command", lambda: F.concat(F.lit("Build command failed: "), bc(1))),
            ("r6_linker", lambda: T),
            ("r7a_test_case", lambda: F.concat(
                F.lit("Test: "),
                F.when(T.rlike(java_re(TEST_NAME_RE)), _ext(T, TEST_NAME_RE, 1))
                .otherwise(F.lit("Unknown Test")),
                F.lit(" - "), status())),
            ("r7b_test_suite", lambda: F.concat(
                F.lit("Test Suite: "), suite_name(), F.lit(" - "), status())),
            # substring from the first "XCTAssert" (XCTestRule.swift:234-240)
            ("r7c_assertion", lambda: F.trim(
                F.substring(T, F.locate("XCTAssert", T), F.lit(2 ** 30)))),
            # substring one char past "error:" (XCTestRule.swift:242-249)
            ("r7d_test_error", lambda: F.trim(
                F.substring(T, F.locate("error:", T) + F.lit(7), F.lit(2 ** 30)))),
            ("r9_module_failed", lambda: F.concat(
                F.lit("Module compilation failed with exit code "), mf(1), mf(2))),
            ("r10_progress", lambda: F.concat(
                pg(3), F.lit(" "), pg(4), F.lit(" ("), pg(1), F.lit("/"), pg(2), F.lit(")"))),
        ]),
        "source": case([
            ("r1_compile", "compiler"),
            ("r6_linker", "linker"),
            (("r7a_test_case", "r7b_test_suite") + r7cd, "xctest"),
            (("r9_module_failed", "r10_progress"), "swift-build"),
        ], "xcodebuild"),
        "category": case([
            ("r1_compile", lambda: ce(5)),  # category == severity string (empty prefix)
            ("r2_build_failed", "build_failed"),
            ("r3_xcb_warning", "warning"),
            ("r4_swiftcompile_task", "swift_compilation_task_failed"),
            ("r5_build_command", "build_command_failed"),
            ("r6_linker", "undefined_symbols"),
            ("r7a_test_case", lambda: F.when(T.contains("failed"), "test_failure")
             .when(T.contains("passed"), "test_success")
             .when(T.contains("started"), "test_start")
             .otherwise("test_info")),
            ("r7b_test_suite", lambda: F.when(T.contains("failed"), "test_suite_failure")
             .when(T.contains("passed"), "test_suite_success")
             .when(T.contains("started"), "test_suite_start")
             .otherwise("test_suite_info")),
            ("r7c_assertion", "assertion_failure"),
            ("r7d_test_error", "test_error"),
            ("r9_module_failed", "module_failed"),
            ("r10_progress", "progress"),
        ]),
        "raw": T,
        "build_target": case([
            ("r4_swiftcompile_task", lambda: F.concat(sct(3), F.lit(" ("), sct(4), F.lit(")"))),
            ("r5_build_command", lambda: F.concat(bc(2), F.lit(" ("), bc(3), F.lit(")"))),
            (("r7a_test_case", "r7c_assertion"),
             lambda: F.when(T.rlike(java_re(TEST_NAME_RE)),
                            F.substring_index(_ext(T, TEST_NAME_RE, 1), " ", 1))
             .otherwise(null_s())),
            ("r7b_test_suite", suite_name),
            ("r10_progress", lambda: pg(4)),
        ], null_s),
    }


def classify(transcripts: DataFrame) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → diagnostics.

    Output: input columns + rule_id/file/line/column/severity/message/
    related_messages/source/category/raw/build_target/diag_class; rows whose
    text matches no rule are dropped (they emit no diagnostic).
    """
    T = _T()
    df = transcripts.withColumn("rule_id", rule_id(T)).filter(F.col("rule_id").isNotNull())
    f = rule_fields(T, F.col("rule_id"))
    diag_class = (
        F.when(F.col("category").isin(*_STEP_BOUNDARY_CATS), "step-boundary")
        .when(F.col("category").isin(*_TOOL_INVOCATION_CATS), "tool-invocation")
        .when(F.col("severity") == "error", "error")
        .when(F.col("severity") == "warning", "warning")
        .otherwise("note")
    )
    return (
        df.withColumn("file", f["file"])
        .withColumn("line", f["line"])
        .withColumn("column", f["column"])
        .withColumn("severity", f["severity"])
        .withColumn("message", f["message"])
        .withColumn("related_messages", F.array().cast("array<string>"))
        .withColumn("source", f["source"])
        .withColumn("category", f["category"])
        .withColumn("raw", f["raw"])
        .withColumn("build_target", f["build_target"])
        .withColumn("diag_class", diag_class)
    )


# ---------------------------------------------------------------------------
# DuckDB twin (oracle SQL). Same cascade, rendered as SQL. The '' escaping is
# DuckDB-style; regexes are RE2-compatible (verified by tests).
# ---------------------------------------------------------------------------

def _sq(pat: str) -> str:
    """SQL-quote a regex/string literal."""
    return "'" + pat.replace("'", "''") + "'"


#: passthrough columns available without computation (from the transcript)
_SQL_PASSTHROUGH = ("conv_id", "turn_idx", "role", "text", "tool", "ts", "rule_id")
#: computed column order of the full (cols=None) projection
_SQL_COMPUTED = ("file", "line", "column", "severity", "message", "source",
                 "category", "raw", "build_target")


def classified_sql(transcripts_cte: str, cols: list[str] | None = None) -> str:
    """Return SQL text of the classified diagnostics over a transcripts CTE
    body (a SELECT producing conv_id, turn_idx, role, text, tool, ts).

    ``cols`` restricts the output projection (default: everything). Most
    oracle queries aggregate over one or two diagnostic fields; emitting
    only those lets DuckDB skip the regex-extract work and string
    materialization for the other ~12 columns — a deliberately slim oracle,
    since the driver runs it co-resident with the Spark JVM under memory
    pressure (CORRECTNESS_r02: 19 driver-side DuckDB OOMs). ``diag_class``
    pulls in its ``severity``/``category`` dependencies internally without
    emitting them unless requested."""
    exprs = _classified_sql_exprs()
    all_cols = list(_SQL_PASSTHROUGH) + list(_SQL_COMPUTED) + ["diag_class"]
    if cols is None:
        cols = all_cols
    unknown = [c for c in cols if c not in all_cols]
    if unknown:
        raise ValueError(f"unknown diagnostic columns: {unknown}")
    # diags0 computes requested computed cols + diag_class's dependencies
    inner = [c for c in cols if c != "diag_class"]
    if "diag_class" in cols:
        for dep in ("severity", "category"):
            if dep not in inner:
                inner.append(dep)
    sel = []
    for c in inner:
        if c in _SQL_PASSTHROUGH:
            sel.append(c)
        else:
            sel.append(f"{exprs[c]} AS {_quoted(c)}")
    out = ", ".join(
        exprs["diag_class"] + " AS diag_class" if c == "diag_class" else _quoted(c)
        for c in cols)
    # MATERIALIZED: DuckDB inlines plain CTEs into every reference, so the
    # template-CASE transcript derivation and the regex-cascade rule_id would
    # re-evaluate once per downstream predicate/aggregate reference — measured
    # 6.1 s for a 2-column roll-up vs 0.06 s materialized at sf0.01 (the exact
    # DuckDB analog of the Spark-side snapshot in transcripts.load_transcripts)
    return f"""
WITH transcripts AS MATERIALIZED (
{transcripts_cte}
), tagged AS MATERIALIZED (
  SELECT *, {exprs["rule_id"]} AS rule_id
  FROM transcripts
), diags0 AS (
  SELECT {", ".join(sel)}
  FROM tagged WHERE rule_id IS NOT NULL
)
SELECT {out}
FROM diags0
"""


def header_fields_sql(blocks_select: str, rule_sql: str, cols: list[str],
                      **override: str) -> str:
    """DuckDB twin of :func:`rule_fields` over a block assembler's rows
    (conv_id, start_turn_idx, header, n_related, related_joined, …): selects
    conv_id, start_turn_idx, then ``cols``. A diagnostic field is the
    classify cascade's expression evaluated on ``header AS text`` under
    ``rule_id = rule_sql`` (an expression over ``text``); ``override`` gives
    a field its own expression; any other name passes through."""
    exprs = {**_classified_sql_exprs(), **override}
    sel = ", ".join(
        f"{exprs[c]} AS {_quoted(c)}" if c in _SQL_COMPUTED else c for c in cols)
    return f"""
SELECT conv_id, start_turn_idx, {sel}
FROM (SELECT *, {rule_sql} AS rule_id
      FROM (SELECT *, header AS text FROM ({blocks_select}) b0) b1) b
"""


def _quoted(c: str) -> str:
    return f'"{c}"' if c == "column" else c


def _classified_sql_exprs() -> dict[str, str]:
    """Per-column SQL expression bodies of the classify cascade (DuckDB
    dialect), keyed by output column. ``rule_id`` runs over ``transcripts``;
    the rest run over ``tagged``; ``diag_class`` runs over ``diags0``."""
    ce = _sq(COMPILE_ERROR_RE)
    sct = _sq(SWIFT_COMPILE_TASK_RE)
    bc = _sq(BUILD_COMMAND_RE)
    mf = _sq(MODULE_FAILED_RE)
    pg = _sq(PROGRESS_RE)
    tn = _sq(TEST_NAME_RE)
    sn = _sq(SUITE_NAME_RE)
    fi = _sq(FILE_INFO_RE)
    xw = _sq(XCODEBUILD_WARNING_RE)

    return {
        "rule_id": f"""CASE
      WHEN (contains(text, 'error:') OR contains(text, 'warning:'))
           AND regexp_matches(text, {ce})
           AND length(regexp_extract(text, {ce}, 3)) <= 18
           AND length(regexp_extract(text, {ce}, 4)) <= 18 THEN 'r1_compile'
      WHEN text = '** BUILD FAILED **' THEN 'r2_build_failed'
      WHEN regexp_matches(text, {xw}) THEN 'r3_xcb_warning'
      WHEN contains(text, 'SwiftCompile normal ') AND regexp_matches(text, {sct})
           THEN 'r4_swiftcompile_task'
      WHEN contains(text, '(in target ''') AND regexp_matches(text, {bc})
           AND NOT contains(regexp_extract(text, {bc}, 1), 'SwiftCompile')
           THEN 'r5_build_command'
      WHEN starts_with(text, 'Undefined symbols for architecture') THEN 'r6_linker'
      WHEN starts_with(text, 'Test Case') THEN 'r7a_test_case'
      WHEN starts_with(text, 'Test Suite') THEN 'r7b_test_suite'
      WHEN contains(text, 'XCTAssert') AND contains(text, 'failed') THEN 'r7c_assertion'
      WHEN contains(text, 'error:') AND contains(text, 'test') THEN 'r7d_test_error'
      WHEN starts_with(text, 'error: emit-module command failed')
           AND regexp_matches(text, {mf}) THEN 'r9_module_failed'
      WHEN starts_with(text, '[') AND regexp_matches(text, {pg}) THEN 'r10_progress'
    END""",
        "file": f"""CASE
      WHEN rule_id = 'r1_compile' THEN regexp_extract(text, {ce}, 1)
      WHEN rule_id IN ('r7c_assertion', 'r7d_test_error') AND regexp_matches(text, {fi})
           THEN regexp_extract(text, {fi}, 1)
    END""",
        "line": f"""CASE
      WHEN rule_id = 'r1_compile' THEN CAST(regexp_extract(text, {ce}, 3) AS BIGINT)
      WHEN rule_id IN ('r7c_assertion', 'r7d_test_error') AND regexp_matches(text, {fi})
           AND length(regexp_extract(text, {fi}, 2)) <= 18
           THEN CAST(regexp_extract(text, {fi}, 2) AS BIGINT)
    END""",
        "column": f"""CASE WHEN rule_id = 'r1_compile'
         THEN CAST(regexp_extract(text, {ce}, 4) AS BIGINT) END""",
        "severity": f"""CASE
      WHEN rule_id = 'r1_compile' THEN regexp_extract(text, {ce}, 5)
      WHEN rule_id = 'r3_xcb_warning' THEN 'warning'
      WHEN rule_id = 'r10_progress' THEN 'info'
      WHEN rule_id IN ('r7a_test_case', 'r7b_test_suite')
           THEN CASE WHEN contains(text, 'failed') THEN 'error' ELSE 'info' END
      ELSE 'error'
    END""",
        "message": f"""CASE
      WHEN rule_id = 'r1_compile' THEN regexp_extract(text, {ce}, 6)
      WHEN rule_id = 'r2_build_failed' THEN 'BUILD FAILED'
      WHEN rule_id = 'r3_xcb_warning' THEN regexp_extract(text, {xw}, 1)
      WHEN rule_id = 'r4_swiftcompile_task'
           THEN 'Swift compilation task failed for ' || regexp_extract(text, {sct}, 1)
                || ': ' || regexp_extract(text, {sct}, 2)
      WHEN rule_id = 'r5_build_command'
           THEN 'Build command failed: ' || regexp_extract(text, {bc}, 1)
      WHEN rule_id = 'r6_linker' THEN text
      WHEN rule_id = 'r7a_test_case'
           THEN 'Test: '
                || (CASE WHEN regexp_matches(text, {tn})
                         THEN regexp_extract(text, {tn}, 1) ELSE 'Unknown Test' END)
                || ' - '
                || (CASE WHEN contains(text, 'failed') THEN 'Failed'
                         WHEN contains(text, 'passed') THEN 'Passed'
                         WHEN contains(text, 'started') THEN 'Started' ELSE 'Info' END)
      WHEN rule_id = 'r7b_test_suite'
           THEN 'Test Suite: '
                || (CASE WHEN regexp_matches(text, {sn})
                         THEN regexp_extract(text, {sn}, 1) ELSE 'Unknown Suite' END)
                || ' - '
                || (CASE WHEN contains(text, 'failed') THEN 'Failed'
                         WHEN contains(text, 'passed') THEN 'Passed'
                         WHEN contains(text, 'started') THEN 'Started' ELSE 'Info' END)
      WHEN rule_id = 'r7c_assertion'
           THEN trim(substr(text, strpos(text, 'XCTAssert')))
      WHEN rule_id = 'r7d_test_error'
           THEN trim(substr(text, strpos(text, 'error:') + 7))
      WHEN rule_id = 'r9_module_failed'
           THEN 'Module compilation failed with exit code '
                || regexp_extract(text, {mf}, 1) || regexp_extract(text, {mf}, 2)
      WHEN rule_id = 'r10_progress'
           THEN regexp_extract(text, {pg}, 3) || ' ' || regexp_extract(text, {pg}, 4)
                || ' (' || regexp_extract(text, {pg}, 1) || '/'
                || regexp_extract(text, {pg}, 2) || ')'
    END""",
        "source": """CASE
      WHEN rule_id = 'r1_compile' THEN 'compiler'
      WHEN rule_id = 'r6_linker' THEN 'linker'
      WHEN rule_id LIKE 'r7%' THEN 'xctest'
      WHEN rule_id IN ('r9_module_failed', 'r10_progress') THEN 'swift-build'
      ELSE 'xcodebuild'
    END""",
        "category": f"""CASE
      WHEN rule_id = 'r1_compile' THEN regexp_extract(text, {ce}, 5)
      WHEN rule_id = 'r2_build_failed' THEN 'build_failed'
      WHEN rule_id = 'r3_xcb_warning' THEN 'warning'
      WHEN rule_id = 'r4_swiftcompile_task' THEN 'swift_compilation_task_failed'
      WHEN rule_id = 'r5_build_command' THEN 'build_command_failed'
      WHEN rule_id = 'r6_linker' THEN 'undefined_symbols'
      WHEN rule_id = 'r7a_test_case'
           THEN CASE WHEN contains(text, 'failed') THEN 'test_failure'
                     WHEN contains(text, 'passed') THEN 'test_success'
                     WHEN contains(text, 'started') THEN 'test_start'
                     ELSE 'test_info' END
      WHEN rule_id = 'r7b_test_suite'
           THEN CASE WHEN contains(text, 'failed') THEN 'test_suite_failure'
                     WHEN contains(text, 'passed') THEN 'test_suite_success'
                     WHEN contains(text, 'started') THEN 'test_suite_start'
                     ELSE 'test_suite_info' END
      WHEN rule_id = 'r7c_assertion' THEN 'assertion_failure'
      WHEN rule_id = 'r7d_test_error' THEN 'test_error'
      WHEN rule_id = 'r9_module_failed' THEN 'module_failed'
      WHEN rule_id = 'r10_progress' THEN 'progress'
    END""",
        "raw": "text",
        "build_target": f"""CASE
      WHEN rule_id = 'r4_swiftcompile_task'
           THEN regexp_extract(text, {sct}, 3) || ' (' || regexp_extract(text, {sct}, 4) || ')'
      WHEN rule_id = 'r5_build_command'
           THEN regexp_extract(text, {bc}, 2) || ' (' || regexp_extract(text, {bc}, 3) || ')'
      WHEN rule_id IN ('r7a_test_case', 'r7c_assertion') AND regexp_matches(text, {tn})
           THEN split_part(regexp_extract(text, {tn}, 1), ' ', 1)
      WHEN rule_id = 'r7b_test_suite'
           THEN CASE WHEN regexp_matches(text, {sn})
                     THEN regexp_extract(text, {sn}, 1) ELSE 'Unknown Suite' END
      WHEN rule_id = 'r10_progress' THEN regexp_extract(text, {pg}, 4)
    END""",
        "diag_class": """CASE
    WHEN category IN ('progress', 'test_start', 'test_success', 'test_info',
                      'test_suite_start', 'test_suite_success', 'test_suite_info',
                      'build_failed') THEN 'step-boundary'
    WHEN category IN ('swift_compilation_task_failed', 'build_command_failed')
         THEN 'tool-invocation'
    WHEN severity = 'error' THEN 'error'
    WHEN severity = 'warning' THEN 'warning'
    ELSE 'note'
  END""",
    }
