"""Transcript table derivation + enrichment dimensions.

The graft's primary input is a table of multi-turn transcripts
``(conv_id, turn_idx, role, text, tool, ts)`` (FIXTURES.md §1). For the
driver's DuckDB-checked correctness gate we derive such a table
*deterministically* from the provided ``events`` table
(/root/testdata/sf*/events.parquet) — the same derivation is implemented
twice, once as Spark DataFrame ops (:func:`derive_transcripts`) and once as
portable SQL for DuckDB (:data:`TRANSCRIPT_SQL`); a pytest asserts exact
row-level equality of the two at sf0.01 so they cannot drift.

A conversation = one ``user_id``; turn order = ``row_number() over
(partition by user_id order by ts, event_id)`` (event_id is the unique
tie-break, making the ordering total and deterministic). Each turn's ``text``
replays one log-line template from FIXTURES.md §3 chosen by
``turn_idx % 16``, parameterized only by integer arithmetic on
``event_id``/``user_id`` — so every rule family of the reference
(R1-R10, see rules/table.py) appears in the stream, interleaved with
continuation-shaped lines and noise.

Scale note: the derivation is a single window per user — at 10^12 turns this
is one shuffle on the natural partition key (conv), which the downstream
stateful operators need anyway; the stateless classify path never requires
this ordering and can run scan-parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

# ---------------------------------------------------------------------------
# Enrichment dimensions (FIXTURES.md §2) — small, broadcast-joined.
# ---------------------------------------------------------------------------

TOOL_REGISTRY_ROWS = [
    ("swiftc", "compiler", "apple"),
    ("clang", "compiler", "llvm"),
    ("ld", "linker", "apple"),
    ("xcodebuild", "build-system", "apple"),
    ("swift-build", "build-system", "swift"),
    ("xctest", "test-runner", "apple"),
    ("none", "none", "none"),
]

ROLE_SEVERITY_ROWS = [
    ("system", "info"),
    ("user", "info"),
    ("assistant", "note"),
    ("tool", "warning"),
]


def tool_registry(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(TOOL_REGISTRY_ROWS, "tool string, tool_family string, vendor string")


def role_severity(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(ROLE_SEVERITY_ROWS, "role string, default_severity string")


def tool_registry_sql() -> str:
    vals = ", ".join(f"('{t}', '{f}', '{v}')" for t, f, v in TOOL_REGISTRY_ROWS)
    return f"(SELECT * FROM (VALUES {vals}) AS t(tool, tool_family, vendor))"


def role_severity_sql() -> str:
    vals = ", ".join(f"('{r}', '{s}')" for r, s in ROLE_SEVERITY_ROWS)
    return f"(SELECT * FROM (VALUES {vals}) AS t(role, default_severity))"


# ---------------------------------------------------------------------------
# Spark-side derivation (DataFrame API)
# ---------------------------------------------------------------------------

_ROLE_BY_EVENT = {"signup": "system", "click": "user", "view": "assistant",
                  "purchase": "assistant", "error": "tool"}
_TOOLS = ["swiftc", "xcodebuild", "swift-build", "ld", "xctest", "clang", "none"]


def _s(col):
    return col.cast("string")


def derive_transcripts(events: DataFrame) -> DataFrame:
    """events(event_id, ts, user_id, event_type, value, props) → transcripts."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    eid = F.col("event_id")
    uid = F.col("user_id")

    role = F.col("event_type")
    role_expr = F.lit(None).cast("string")
    for k, v in reversed(_ROLE_BY_EVENT.items()):
        role_expr = F.when(role == k, F.lit(v)).otherwise(role_expr)
    role_expr = F.coalesce(role_expr, F.lit("user"))

    tool_expr = F.lit("none")
    for i, t in enumerate(_TOOLS[:-1]):
        tool_expr = F.when(eid % 7 == i, F.lit(t)).otherwise(tool_expr)

    df = events.select(
        F.concat(F.lit("conv_"), F.lpad(_s(uid), 4, "0")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        role_expr.alias("role"),
        tool_expr.alias("tool"),
        F.col("ts"),
        eid.alias("eid"),
        uid.alias("uid"),
    )

    eid = F.col("eid")
    uid = F.col("uid")
    sev01 = F.when(eid % 3 == 0, F.lit("warning")).otherwise(F.lit("error"))
    templates = {
        0: F.concat(F.lit("/app/src/File"), _s(uid), F.lit(".swift:"), _s(eid % 90 + 10),
                    F.lit(":"), _s(eid % 40 + 1), F.lit(": "), sev01,
                    F.lit(": cannot find 'x"), _s(eid % 50), F.lit("' in scope")),
        1: F.concat(F.lit("    let x = y"), _s(eid % 100)),
        2: F.lit("        ^"),
        3: F.lit(""),
        4: F.concat(F.lit("["), _s(eid % 20 + 1), F.lit("/20] Compiling Module"), _s(uid),
                    F.lit(" file"), _s(eid % 100), F.lit(".swift")),
        5: F.concat(F.lit("--- xcodebuild: WARNING: legacy setting id "), _s(eid % 30)),
        6: F.concat(F.lit("Test Case '-[Suite"), _s(uid % 10), F.lit("Tests test"), _s(eid % 20),
                    F.lit("]' "),
                    F.when(eid % 4 == 0, F.lit("failed (0.105 seconds)."))
                     .when(eid % 4 == 1, F.lit("started."))
                     .otherwise(F.lit("passed (0.042 seconds)."))),
        7: F.concat(F.lit("    cd /app/build/x"), _s(eid % 50)),
        8: F.concat(F.lit("SwiftCompile normal arm64 /app/src/File"), _s(eid % 100),
                    F.lit(".swift (in target 'App"), _s(uid % 5), F.lit("' from project 'Proj')")),
        9: F.when(eid % 5 == 0, F.lit("** BUILD FAILED **")).otherwise(
            F.concat(F.lit("Ld /app/build/App"), _s(eid % 10),
                     F.lit(".o normal (in target 'App"), _s(uid % 5),
                     F.lit("' from project 'Proj')"))),
        10: F.concat(F.lit("error: emit-module command failed with exit code "),
                     _s(eid % 4 + 1), F.lit(" (use -v to see invocation)")),
        11: F.lit("Undefined symbols for architecture x86_64:"),
        12: F.concat(F.lit('  "_sym'), _s(eid % 40), F.lit('", referenced from:')),
        13: F.lit("clang: error: linker command failed with exit code 1 (use -v to see invocation)"),
        14: F.when(eid % 2 == 0, F.concat(
                F.lit("/app/tests/Suite"), _s(uid % 10), F.lit("Tests.swift:"), _s(eid % 60 + 5),
                F.lit(": error: -[Suite"), _s(uid % 10), F.lit("Tests test"), _s(eid % 20),
                F.lit('] : XCTAssertEqual failed: ("'), _s(eid % 9),
                F.lit('") is not equal to ("'), _s(eid % 9 + 1), F.lit('")'))
            ).otherwise(F.concat(
                F.lit("Test Suite 'Suite"), _s(uid % 10), F.lit("Tests' "),
                F.when(eid % 3 == 0, F.lit("failed")).when(eid % 3 == 1, F.lit("started"))
                 .otherwise(F.lit("passed")),
                F.lit(" at 2024-01-01 12:00:00.000."))),
        # BuildFailedRule's failed-command list shapes
        # (BuildFailedRule.swift:39-46; fixture complete_build2.log:426-441):
        # header line, tab-indented commands, "(N failures)" terminator.
        15: F.when(eid % 4 == 0, F.lit("The following build commands failed:"))
            .when(eid % 4 == 1, F.concat(
                F.lit("\tSwiftCompile normal arm64 /app/src/File"), _s(eid % 100),
                F.lit(".swift (in target 'App"), _s(uid % 5),
                F.lit("' from project 'Proj')")))
            .when(eid % 4 == 2, F.concat(F.lit("("), _s(eid % 9 + 1),
                                         F.lit(" failures)")))
            .otherwise(F.concat(F.lit("Building for debugging... step "),
                                _s(eid % 100))),
    }
    text = F.concat(F.lit("Building for debugging... step "), _s(eid % 100))
    for k, expr in templates.items():
        text = F.when(F.col("turn_idx") % 16 == k, expr).otherwise(text)

    return df.select("conv_id", "turn_idx", "role", text.alias("text"), "tool", "ts")


def load_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the derived transcript table for an sf dir: the derived table
    is materialized to a temp parquet snapshot (reused while the events
    files are unchanged) and a scan of it is returned.
    Materializing matters beyond convenience: the template CASE in
    :func:`derive_transcripts` is an expensive projection, and Catalyst's
    filter pushdown inlines it into every downstream predicate/extract
    (~50 copies in the classify cascade → ~9× measured slowdown).
    A parquet snapshot (not ``.cache()``) keeps the text materialized once
    while holding the process's memory footprint flat across a long query
    sweep (CORRECTNESS_r01: accumulated cached blocks starved the
    co-resident DuckDB oracle) — and it mirrors production, where the
    transcript table is a real (Iceberg) table, not a derived view; the
    derivation exists only so the DuckDB oracle can compute over identical
    data.
    """
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = derive_transcripts(events)
    from .materialize import materialize

    # n_files: the window shuffle inherits spark.sql.shuffle.partitions (200
    # in a vanilla session) — writing that many files would make every
    # downstream scan pay 200 tiny-task overheads at small sf. File count ==
    # scan parallelism at re-read time.
    n = max(spark.sparkContext.defaultParallelism, 8)
    return materialize(df, n_files=n)


# ---------------------------------------------------------------------------
# Auxiliary swift-build 5.9+ / xcodebuild-warning flavored stream.
#
# The primary template set above has no `N | code` gutter-context lines,
# no ``| `- error:`` pointer lines and no ``{ platform:`` warning detail
# bodies — the continuation shapes SwiftBuildCompileErrorRule
# (SwiftBuildCompileErrorRule.swift:24-41) and XcodeBuildWarningRule
# (XcodebuildWarningRule.swift:47) consume. Rather than perturbing the
# primary stream (and with it the input of every already-green oracle), the
# modern-toolchain shapes get their own deterministic derivation from the
# same events table, with the same dual Spark/DuckDB implementation.
# ---------------------------------------------------------------------------


def derive_aux_transcripts(events: DataFrame) -> DataFrame:
    """events → swift-build 5.9+ flavored transcripts (turn_idx % 12 templates)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    df = events.select(
        F.concat(F.lit("conv_"), F.lpad(_s(F.col("user_id")), 4, "0")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("ts"),
        F.col("event_id").alias("eid"),
        F.col("user_id").alias("uid"),
    )
    eid = F.col("eid")
    uid = F.col("uid")
    sev01 = F.when(eid % 3 == 0, F.lit("warning")).otherwise(F.lit("error"))
    ptr_sev = F.when(eid % 4 == 0, F.lit("warning")).otherwise(F.lit("error"))
    templates = {
        # swift-build compile header (same start regex as R1/R8)
        0: F.concat(F.lit("/app/src/File"), _s(uid), F.lit(".swift:"), _s(eid % 90 + 10),
                    F.lit(":"), _s(eid % 40 + 1), F.lit(": "), sev01,
                    F.lit(": cannot find 'x"), _s(eid % 50), F.lit("' in scope")),
        # gutter context line `N | code` (SwiftBuildCompileErrorRule.swift:24)
        1: F.concat(F.lit("  "), _s(eid % 90 + 10), F.lit(" |     let x = y"),
                    _s(eid % 100)),
        # pointer line `| `- sev: msg` (SwiftBuildCompileErrorRule.swift:35)
        2: F.concat(F.lit("      |         `- "), ptr_sev,
                    F.lit(": use of unresolved identifier 'x"), _s(eid % 50),
                    F.lit("'")),
        3: F.lit(""),
        # progress line — swift-build block close (…swift:128)
        4: F.concat(F.lit("["), _s(eid % 20 + 1), F.lit("/20] Compiling Module"),
                    _s(uid), F.lit(" file"), _s(eid % 100), F.lit(".swift")),
        # command-failed — swift-build block close (…swift:123)
        5: F.concat(F.lit("error: emit-module command failed with exit code "),
                    _s(eid % 4 + 1), F.lit(" (use -v to see invocation)")),
        # xcodebuild warning header (XcodebuildWarningRule.swift:12)
        6: F.concat(F.lit("--- xcodebuild: WARNING: legacy setting id "), _s(eid % 30)),
        # `{ platform:` detail body + closing brace (…swift:47)
        7: F.concat(F.lit("{ platform:iOS Simulator, OS:17."), _s(eid % 10),
                    F.lit(", name:iPhone "), _s(eid % 8 + 8), F.lit(" }")),
        8: F.lit("}"),
        # warning-block close (…swift:53)
        9: F.lit("** BUILD FAILED **"),
        10: F.concat(F.lit("Building for debugging... step "), _s(eid % 100)),
        # even eid: indented noise matching NO swift-build predicate —
        # dropped in place with the block still open (consumeLine
        # fall-through); odd eid: R9 hint continuation
        # (SwiftBuildModuleFailedRule.swift:50-55)
        11: F.when(eid % 2 == 0,
                   F.concat(F.lit("    let x = y"), _s(eid % 100)))
            .otherwise(F.concat(
                F.lit("  hint "), _s(eid % 9),
                F.lit(": use -v to see invocation of the failed command"))),
    }
    text = F.lit("")
    for k, expr in templates.items():
        text = F.when(F.col("turn_idx") % 12 == k, expr).otherwise(text)
    return df.select("conv_id", "turn_idx", text.alias("text"), "ts")


def load_aux_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aux stream for an sf dir, snapshot-materialized (same rationale as
    :func:`load_transcripts`)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = derive_aux_transcripts(events)
    from .materialize import materialize

    n = max(spark.sparkContext.defaultParallelism, 8)
    return materialize(df, n_files=n)


AUX_TRANSCRIPT_SQL = """
SELECT conv_id, turn_idx,
  CASE turn_idx % 12
    WHEN 0 THEN '/app/src/File' || CAST(uid AS STRING) || '.swift:' || CAST(eid % 90 + 10 AS STRING)
                || ':' || CAST(eid % 40 + 1 AS STRING) || ': '
                || (CASE WHEN eid % 3 = 0 THEN 'warning' ELSE 'error' END)
                || ': cannot find ''x' || CAST(eid % 50 AS STRING) || ''' in scope'
    WHEN 1 THEN '  ' || CAST(eid % 90 + 10 AS STRING) || ' |     let x = y' || CAST(eid % 100 AS STRING)
    WHEN 2 THEN '      |         `- ' || (CASE WHEN eid % 4 = 0 THEN 'warning' ELSE 'error' END)
                || ': use of unresolved identifier ''x' || CAST(eid % 50 AS STRING) || ''''
    WHEN 3 THEN ''
    WHEN 4 THEN '[' || CAST(eid % 20 + 1 AS STRING) || '/20] Compiling Module' || CAST(uid AS STRING)
                || ' file' || CAST(eid % 100 AS STRING) || '.swift'
    WHEN 5 THEN 'error: emit-module command failed with exit code ' || CAST(eid % 4 + 1 AS STRING)
                || ' (use -v to see invocation)'
    WHEN 6 THEN '--- xcodebuild: WARNING: legacy setting id ' || CAST(eid % 30 AS STRING)
    WHEN 7 THEN '{ platform:iOS Simulator, OS:17.' || CAST(eid % 10 AS STRING)
                || ', name:iPhone ' || CAST(eid % 8 + 8 AS STRING) || ' }'
    WHEN 8 THEN '}'
    WHEN 9 THEN '** BUILD FAILED **'
    WHEN 10 THEN 'Building for debugging... step ' || CAST(eid % 100 AS STRING)
    ELSE CASE WHEN eid % 2 = 0 THEN '    let x = y' || CAST(eid % 100 AS STRING)
         ELSE '  hint ' || CAST(eid % 9 AS STRING)
              || ': use -v to see invocation of the failed command' END
  END AS text,
  ts
FROM (
  SELECT
    'conv_' || lpad(CAST(user_id AS STRING), 4, '0') AS conv_id,
    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
    ts, event_id AS eid, user_id AS uid
  FROM events
) ordered
"""


# ---------------------------------------------------------------------------
# DuckDB-side derivation (oracle). Keep in lockstep with derive_transcripts —
# tests/test_multi_input_consistency.py asserts exact equality.
# ---------------------------------------------------------------------------

TRANSCRIPT_SQL = """
SELECT conv_id, turn_idx, role,
  CASE turn_idx % 16
    WHEN 0 THEN '/app/src/File' || CAST(uid AS STRING) || '.swift:' || CAST(eid % 90 + 10 AS STRING)
                || ':' || CAST(eid % 40 + 1 AS STRING) || ': '
                || (CASE WHEN eid % 3 = 0 THEN 'warning' ELSE 'error' END)
                || ': cannot find ''x' || CAST(eid % 50 AS STRING) || ''' in scope'
    WHEN 1 THEN '    let x = y' || CAST(eid % 100 AS STRING)
    WHEN 2 THEN '        ^'
    WHEN 3 THEN ''
    WHEN 4 THEN '[' || CAST(eid % 20 + 1 AS STRING) || '/20] Compiling Module' || CAST(uid AS STRING)
                || ' file' || CAST(eid % 100 AS STRING) || '.swift'
    WHEN 5 THEN '--- xcodebuild: WARNING: legacy setting id ' || CAST(eid % 30 AS STRING)
    WHEN 6 THEN 'Test Case ''-[Suite' || CAST(uid % 10 AS STRING) || 'Tests test'
                || CAST(eid % 20 AS STRING) || ']'' '
                || (CASE WHEN eid % 4 = 0 THEN 'failed (0.105 seconds).'
                         WHEN eid % 4 = 1 THEN 'started.'
                         ELSE 'passed (0.042 seconds).' END)
    WHEN 7 THEN '    cd /app/build/x' || CAST(eid % 50 AS STRING)
    WHEN 8 THEN 'SwiftCompile normal arm64 /app/src/File' || CAST(eid % 100 AS STRING)
                || '.swift (in target ''App' || CAST(uid % 5 AS STRING) || ''' from project ''Proj'')'
    WHEN 9 THEN CASE WHEN eid % 5 = 0 THEN '** BUILD FAILED **'
                ELSE 'Ld /app/build/App' || CAST(eid % 10 AS STRING)
                     || '.o normal (in target ''App' || CAST(uid % 5 AS STRING)
                     || ''' from project ''Proj'')' END
    WHEN 10 THEN 'error: emit-module command failed with exit code ' || CAST(eid % 4 + 1 AS STRING)
                 || ' (use -v to see invocation)'
    WHEN 11 THEN 'Undefined symbols for architecture x86_64:'
    WHEN 12 THEN '  "_sym' || CAST(eid % 40 AS STRING) || '", referenced from:'
    WHEN 13 THEN 'clang: error: linker command failed with exit code 1 (use -v to see invocation)'
    WHEN 14 THEN CASE WHEN eid % 2 = 0
                 THEN '/app/tests/Suite' || CAST(uid % 10 AS STRING) || 'Tests.swift:'
                      || CAST(eid % 60 + 5 AS STRING) || ': error: -[Suite'
                      || CAST(uid % 10 AS STRING) || 'Tests test' || CAST(eid % 20 AS STRING)
                      || '] : XCTAssertEqual failed: ("' || CAST(eid % 9 AS STRING)
                      || '") is not equal to ("' || CAST(eid % 9 + 1 AS STRING) || '")'
                 ELSE 'Test Suite ''Suite' || CAST(uid % 10 AS STRING) || 'Tests'' '
                      || (CASE WHEN eid % 3 = 0 THEN 'failed'
                               WHEN eid % 3 = 1 THEN 'started' ELSE 'passed' END)
                      || ' at 2024-01-01 12:00:00.000.' END
    WHEN 15 THEN CASE WHEN eid % 4 = 0 THEN 'The following build commands failed:'
                 WHEN eid % 4 = 1 THEN chr(9) || 'SwiftCompile normal arm64 /app/src/File'
                      || CAST(eid % 100 AS STRING) || '.swift (in target ''App'
                      || CAST(uid % 5 AS STRING) || ''' from project ''Proj'')'
                 WHEN eid % 4 = 2 THEN '(' || CAST(eid % 9 + 1 AS STRING) || ' failures)'
                 ELSE 'Building for debugging... step ' || CAST(eid % 100 AS STRING) END
    ELSE 'Building for debugging... step ' || CAST(eid % 100 AS STRING)
  END AS text,
  tool, ts
FROM (
  SELECT
    'conv_' || lpad(CAST(user_id AS STRING), 4, '0') AS conv_id,
    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
    CASE event_type WHEN 'signup' THEN 'system' WHEN 'click' THEN 'user'
                    WHEN 'view' THEN 'assistant' WHEN 'purchase' THEN 'assistant'
                    WHEN 'error' THEN 'tool' ELSE 'user' END AS role,
    CASE CAST(event_id % 7 AS INTEGER)
         WHEN 0 THEN 'swiftc' WHEN 1 THEN 'xcodebuild' WHEN 2 THEN 'swift-build'
         WHEN 3 THEN 'ld' WHEN 4 THEN 'xctest' WHEN 5 THEN 'clang' ELSE 'none' END AS tool,
    ts, event_id AS eid, user_id AS uid
  FROM events
) ordered
"""
