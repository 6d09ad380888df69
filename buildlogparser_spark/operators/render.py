"""Sink-side row rendering — the reference's TextOutput / JSONOutput
projections as column expressions (SURVEY.md §2.6).

* :func:`render_text` — TextOutput's emoji line format
  (OutputFormatters.swift:38-51): ``{icon} {file}:{line}: {severity} -
  {message}`` when file+line are present, else ``{icon} {severity} -
  {message}``. ``errors_only`` mirrors the sink flag
  (OutputFormatters.swift:33-35).
* :func:`json_projection` — JSONOutput's wire schema
  (DiagnosticJSON — OutputFormatters.swift:451-467): exactly
  message/severity/file/line/column/relatedMessages; drops
  source/category/raw/buildTarget. On the stateless default stack
  related_messages is always [] so the oracled projection carries the five
  scalar fields.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..rounding import portable_round, portable_round_sql

_ICON = {"error": "❌", "warning": "⚠️", "info": "ℹ️", "note": "📝"}


def _icon_col() -> Column:
    c = F.lit(_ICON["note"])
    for sev in ("info", "warning", "error"):
        c = F.when(F.col("severity") == sev, F.lit(_ICON[sev])).otherwise(c)
    return c


def _head() -> Column:
    """TextOutput's line: ``{icon} {file}:{line}: {severity} - {message}``
    when file and line are present, else ``{icon} {severity} - {message}``."""
    with_loc = F.concat(
        _icon_col(), F.lit(" "), F.col("file"), F.lit(":"),
        F.col("line").cast("string"), F.lit(": "), F.col("severity"),
        F.lit(" - "), F.col("message"))
    without = F.concat(
        _icon_col(), F.lit(" "), F.col("severity"), F.lit(" - "), F.col("message"))
    return (F.when(F.col("file").isNotNull() & F.col("line").isNotNull(), with_loc)
            .otherwise(without))


_ICON_SQL = ("CASE severity WHEN 'error' THEN '❌' WHEN 'warning' THEN '⚠️' "
             "WHEN 'info' THEN 'ℹ️' ELSE '📝' END")
#: DuckDB twin of :func:`_head`
_HEAD_SQL = f"""CASE WHEN file IS NOT NULL AND line IS NOT NULL
       THEN {_ICON_SQL} || ' ' || file || ':' || CAST(line AS STRING) || ': '
            || severity || ' - ' || message
       ELSE {_ICON_SQL} || ' ' || severity || ' - ' || message
  END"""


def render_text(diags: DataFrame, errors_only: bool = False) -> DataFrame:
    if errors_only:
        diags = diags.filter(F.col("severity") == "error")
    return diags.select("conv_id", "turn_idx", _head().alias("rendered"))


def render_text_sql(diagnostics_select: str, errors_only: bool = False) -> str:
    where = "WHERE severity = 'error'" if errors_only else ""
    return f"""
SELECT conv_id, turn_idx,
  {_HEAD_SQL} AS rendered
FROM ({diagnostics_select}) d {where}
"""


def render_text_verbose(blocks: DataFrame, errors_only: bool = False) -> DataFrame:
    """TextOutput verbose mode (OutputFormatters.swift:53-64): the header
    line plus one ``    📎`` line per relatedMessage. Caret lines (trimmed
    prefix ``^``) keep their original spacing with no space after the clip
    emoji — alignment is load-bearing (the caret points at a column); other
    related lines get the standard ``📎 `` spacing. The caret check trims
    the reference's ``.whitespaces`` set (tab + Unicode category Zs, so NBSP
    etc. count too) — ``[\\t\\p{Zs}]`` is the portable spelling both Java
    regex and RE2 accept. Input: any STATEFUL_SCHEMA-shaped block DataFrame
    (multi-line assembly output)."""
    if errors_only:
        blocks = blocks.filter(F.col("severity") == "error")
    rel = F.transform(
        F.col("related_messages"),
        lambda m: F.when(
            F.startswith(F.regexp_replace(m, r"^[\t\p{Zs}]+", ""), F.lit("^")),
            F.concat(F.lit("    📎"), m),
        ).otherwise(F.concat(F.lit("    📎 "), m)),
    )
    return blocks.select(
        "conv_id", "start_turn_idx",
        F.concat_ws("\n", F.concat(F.array(_head()), rel)).alias("rendered"),
    )


def render_text_verbose_sql(blocks_select: str, errors_only: bool = False) -> str:
    """DuckDB twin over a flat block SELECT carrying
    (conv_id, start_turn_idx, file, line, severity, message, n_related,
    related_joined)."""
    where = "WHERE severity = 'error'" if errors_only else ""
    rel = r"""array_to_string(list_transform(string_split(related_joined, chr(10)),
      m -> CASE WHEN starts_with(regexp_replace(m, '^[\t\p{Zs}]+', '', 'g'), '^')
                THEN '    📎' || m ELSE '    📎 ' || m END), chr(10))"""
    return f"""
SELECT conv_id, start_turn_idx,
  CASE WHEN n_related > 0 THEN ({_HEAD_SQL}) || chr(10) || {rel}
       ELSE ({_HEAD_SQL}) END AS rendered
FROM ({blocks_select}) b {where}
"""


def json_projection(diags: DataFrame) -> DataFrame:
    return diags.select("conv_id", "turn_idx", "message", "severity",
                        "file", "line", "column")


def json_projection_sql(diagnostics_select: str) -> str:
    return (f'SELECT conv_id, turn_idx, message, severity, file, line, "column" '
            f"FROM ({diagnostics_select}) d")


_RULER = "═" * 63  # OutputFormatters.swift's 63-char section ruler


def _per_file(diags: DataFrame) -> DataFrame:
    """Per-file issue count ``n`` and error/warning/info/note tallies
    ``e``/``w``/``i``/``nt``, a null file counted as ``Unknown``."""
    is_ = lambda s: (F.col("severity") == s).cast("long")  # noqa: E731
    return (
        diags.groupBy(F.coalesce(F.col("file"), F.lit("Unknown")).alias("f"))
        .agg(F.count("*").alias("n"),
             F.sum(is_("error")).alias("e"), F.sum(is_("warning")).alias("w"),
             F.sum(is_("info")).alias("i"), F.sum(is_("note")).alias("nt"))
    )


#: DuckDB twin of :func:`_per_file`, as a CTE over ``d``
_PER_FILE_SQL = """pf AS (
  SELECT coalesce(file, 'Unknown') AS f, count(*) AS n,
         CAST(sum(CASE WHEN severity='error' THEN 1 ELSE 0 END) AS BIGINT) AS e,
         CAST(sum(CASE WHEN severity='warning' THEN 1 ELSE 0 END) AS BIGINT) AS w,
         CAST(sum(CASE WHEN severity='info' THEN 1 ELSE 0 END) AS BIGINT) AS i,
         CAST(sum(CASE WHEN severity='note' THEN 1 ELSE 0 END) AS BIGINT) AS nt
  FROM d GROUP BY 1
),"""


def summary_text(diags: DataFrame, verbose: bool = False,
                 errors_only: bool = False) -> DataFrame:
    """SummaryOutput's full report (OutputFormatters.swift:295-361) as ONE
    row / one string, computed as a single aggregation pass: header +
    conditional severity counts + (verbose) per-file breakdown sorted by
    file, or the 🎉 happy path when no issues — byte-identical to the
    reference's generateSummaryOutput. The per-file section is an aggregate
    over the per-file counts, so the plan is two hash aggregates (file →
    global), no collect."""
    if errors_only:
        diags = diags.filter(F.col("severity") == "error")
    per_file = _per_file(diags)
    sec = F.concat(
        F.lit("\n📄 "), F.col("f"), F.lit(":\n"),
        F.when(F.col("e") > 0,
               F.concat(F.lit("   ❌ "), F.col("e").cast("string"),
                        F.lit(" error(s)\n"))).otherwise(""),
        F.when(F.col("w") > 0,
               F.concat(F.lit("   ⚠️  "), F.col("w").cast("string"),
                        F.lit(" warning(s)\n"))).otherwise(""),
    )
    tot = (
        per_file.agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("total"),
            F.coalesce(F.sum("e"), F.lit(0)).alias("e"),
            F.coalesce(F.sum("w"), F.lit(0)).alias("w"),
            F.coalesce(F.sum("i"), F.lit(0)).alias("i"),
            F.coalesce(F.sum("nt"), F.lit(0)).alias("nt"),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("f"), sec.alias("s")))),
                    lambda x: x["s"]),
            ).alias("brk"),
        )
    )
    cnt = lambda c, seg: F.when(  # noqa: E731
        F.col(c) > 0,
        F.concat(F.lit(seg), F.col(c).cast("string"), F.lit("\n"))).otherwise("")
    body = F.concat(
        F.lit("📊 Build Log Analysis Summary\n" + _RULER + "\n\nTotal Issues Found: "),
        F.col("total").cast("string"), F.lit("\n"),
        cnt("e", "❌ Errors: "), cnt("w", "⚠️  Warnings: "),
        cnt("i", "ℹ️  Info: "), cnt("nt", "📝 Notes: "),
        F.when(F.col("total") == 0,
               F.lit("\n🎉 No issues found! Build log looks clean.\n"))
        .otherwise(
            # generateFileBreakdown prepends its section header
            # (OutputFormatters.swift:344-345)
            F.concat(F.lit("\n📋 Issue Breakdown by File:\n"), F.col("brk"))
            if verbose else F.lit("")),
        F.lit("\n✅ Analysis completed\n"),
    )
    return tot.select(body.alias("summary"))


def summary_text_sql(diagnostics_select: str, verbose: bool = False,
                     errors_only: bool = False) -> str:
    where = "WHERE severity = 'error'" if errors_only else ""
    brk_or_empty = (
        "chr(10) || '📋 Issue Breakdown by File:' || chr(10) || coalesce(brk, '')"
        if verbose else "''")
    return f"""
WITH d AS (SELECT * FROM ({diagnostics_select}) dd {where}),
{_PER_FILE_SQL}
tot AS (
  SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS total,
         CAST(coalesce(sum(e), 0) AS BIGINT) AS e,
         CAST(coalesce(sum(w), 0) AS BIGINT) AS w,
         CAST(coalesce(sum(i), 0) AS BIGINT) AS i,
         CAST(coalesce(sum(nt), 0) AS BIGINT) AS nt,
         string_agg(chr(10) || '📄 ' || f || ':' || chr(10)
           || CASE WHEN e > 0 THEN '   ❌ ' || CAST(e AS STRING) || ' error(s)' || chr(10) ELSE '' END
           || CASE WHEN w > 0 THEN '   ⚠️  ' || CAST(w AS STRING) || ' warning(s)' || chr(10) ELSE '' END,
           '' ORDER BY f) AS brk
  FROM pf
)
SELECT '📊 Build Log Analysis Summary' || chr(10) || '{_RULER}' || chr(10) || chr(10)
  || 'Total Issues Found: ' || CAST(total AS STRING) || chr(10)
  || CASE WHEN e > 0 THEN '❌ Errors: ' || CAST(e AS STRING) || chr(10) ELSE '' END
  || CASE WHEN w > 0 THEN '⚠️  Warnings: ' || CAST(w AS STRING) || chr(10) ELSE '' END
  || CASE WHEN i > 0 THEN 'ℹ️  Info: ' || CAST(i AS STRING) || chr(10) ELSE '' END
  || CASE WHEN nt > 0 THEN '📝 Notes: ' || CAST(nt AS STRING) || chr(10) ELSE '' END
  || CASE WHEN total = 0 THEN chr(10) || '🎉 No issues found! Build log looks clean.' || chr(10)
          ELSE {brk_or_empty} END
  || chr(10) || '✅ Analysis completed' || chr(10) AS summary
FROM tot
"""


def stats_text(diags: DataFrame) -> DataFrame:
    """StatsCollector.printStats (OutputFormatters.swift:377-427) as one
    string: unconditional severity counts, files affected, top-5 files by
    issue count (>1 file only), %.1f severity distribution (non-empty
    only). Determinization vs the reference: Swift sorts the top files on
    count desc with UNDEFINED tie order (dictionary iteration); ties here
    break on file name asc, matching the `top_files` oracle convention.
    Percentages are pre-rounded to 1 decimal before formatting so Java and
    C printf agree on ties. The top-5 ranking is a single window over the
    per-file counts — bounded cardinality (files, not rows)."""
    from pyspark.sql.window import Window

    pf = _per_file(diags)
    rk = F.row_number().over(Window.orderBy(F.desc("n"), F.asc("f")))
    line = F.concat(F.lit("   "), F.col("f"), F.lit(": "),
                    F.col("n").cast("string"), F.lit(" issue(s)\n"))
    tot = (
        pf.withColumn("rk", rk)
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("total"),
            F.coalesce(F.sum("e"), F.lit(0)).alias("e"),
            F.coalesce(F.sum("w"), F.lit(0)).alias("w"),
            F.coalesce(F.sum("i"), F.lit(0)).alias("i"),
            F.coalesce(F.sum("nt"), F.lit(0)).alias("nt"),
            F.count("*").alias("files"),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("rk") <= 5,
                               F.struct(F.col("rk"), line.alias("s"))))),
                    lambda x: x["s"]),
            ).alias("top5"),
        )
    )
    pct = lambda c, seg: F.when(  # noqa: E731
        F.col(c) > 0,
        F.concat(F.lit(seg),
                 F.format_string("%.1f", portable_round(F.col(c) * 100.0 / F.col("total"), 1)),
                 F.lit("%\n"))).otherwise("")
    body = F.concat(
        F.lit("\n📈 Detailed Statistics:\n" + _RULER + "\n"
              "Total diagnostics processed: "),
        F.col("total").cast("string"), F.lit("\n❌ Errors: "),
        F.col("e").cast("string"), F.lit("\n⚠️  Warnings: "),
        F.col("w").cast("string"), F.lit("\nℹ️  Information: "),
        F.col("i").cast("string"), F.lit("\n📝 Notes: "),
        F.col("nt").cast("string"),
        F.lit("\n\n📁 Files affected: "), F.col("files").cast("string"), F.lit("\n"),
        F.when(F.col("files") > 1,
               F.concat(F.lit("\n🔥 Most issues by file:\n"), F.col("top5")))
        .otherwise(""),
        F.when(F.col("total") > 0, F.concat(
            F.lit("\n📊 Severity distribution:\n"),
            pct("e", "   ❌ Errors: "), pct("w", "   ⚠️  Warnings: "),
            pct("i", "   ℹ️  Information: "), pct("nt", "   📝 Notes: "),
        )).otherwise(""),
        F.lit(_RULER + "\n"),
    )
    return tot.select(body.alias("stats"))


def stats_text_sql(diagnostics_select: str) -> str:
    return f"""
WITH d AS (SELECT * FROM ({diagnostics_select}) dd),
{_PER_FILE_SQL}
rkd AS (SELECT *, row_number() OVER (ORDER BY n DESC, f ASC) AS rk FROM pf),
tot AS (
  SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS total,
         CAST(coalesce(sum(e), 0) AS BIGINT) AS e,
         CAST(coalesce(sum(w), 0) AS BIGINT) AS w,
         CAST(coalesce(sum(i), 0) AS BIGINT) AS i,
         CAST(coalesce(sum(nt), 0) AS BIGINT) AS nt,
         count(*) AS files,
         coalesce(string_agg(CASE WHEN rk <= 5
           THEN '   ' || f || ': ' || CAST(n AS STRING) || ' issue(s)' || chr(10) END,
           '' ORDER BY rk), '') AS top5
  FROM rkd
)
SELECT chr(10) || '📈 Detailed Statistics:' || chr(10) || '{_RULER}' || chr(10)
  || 'Total diagnostics processed: ' || CAST(total AS STRING) || chr(10)
  || '❌ Errors: ' || CAST(e AS STRING) || chr(10)
  || '⚠️  Warnings: ' || CAST(w AS STRING) || chr(10)
  || 'ℹ️  Information: ' || CAST(i AS STRING) || chr(10)
  || '📝 Notes: ' || CAST(nt AS STRING) || chr(10)
  || chr(10) || '📁 Files affected: ' || CAST(files AS STRING) || chr(10)
  || CASE WHEN files > 1
       THEN chr(10) || '🔥 Most issues by file:' || chr(10) || top5 ELSE '' END
  || CASE WHEN total > 0 THEN chr(10) || '📊 Severity distribution:' || chr(10)
       || CASE WHEN e > 0 THEN '   ❌ Errors: ' || printf('%.1f', {portable_round_sql(f'e * 100.0 / total', 1)}) || '%' || chr(10) ELSE '' END
       || CASE WHEN w > 0 THEN '   ⚠️  Warnings: ' || printf('%.1f', {portable_round_sql(f'w * 100.0 / total', 1)}) || '%' || chr(10) ELSE '' END
       || CASE WHEN i > 0 THEN '   ℹ️  Information: ' || printf('%.1f', {portable_round_sql(f'i * 100.0 / total', 1)}) || '%' || chr(10) ELSE '' END
       || CASE WHEN nt > 0 THEN '   📝 Notes: ' || printf('%.1f', {portable_round_sql(f'nt * 100.0 / total', 1)}) || '%' || chr(10) ELSE '' END
     ELSE '' END
  || '{_RULER}' || chr(10) AS stats
FROM tot
"""


def json_metadata(diags: DataFrame, verbose: bool = False) -> DataFrame:
    """DiagnosticMetadata (OutputFormatters.swift:469-477) as a one-row
    aggregate: total/error/warning/info/note counts + the verbose flag. The
    reference also stamps wall-clock ``timestamp`` — nondeterministic, so it
    is excluded from the graded row; :func:`json_document` (the job-side
    writer) stamps it."""
    zsum = lambda c: F.coalesce(F.sum(c), F.lit(0).cast("long"))  # noqa: E731
    return (
        diags.agg(
            F.count("*").alias("total_count"),
            # coalesce: on empty input sum() is NULL but the reference (and
            # the SQL twin) count 0 (OutputFormatters.swift:469-477)
            zsum((F.col("severity") == "error").cast("long")).alias("error_count"),
            zsum((F.col("severity") == "warning").cast("long")).alias("warning_count"),
            zsum((F.col("severity") == "info").cast("long")).alias("info_count"),
            zsum((F.col("severity") == "note").cast("long")).alias("note_count"),
        )
        .withColumn("verbose", F.lit(verbose))
    )


def json_metadata_sql(diagnostics_select: str, verbose: bool = False) -> str:
    v = "true" if verbose else "false"
    return f"""
SELECT count(*) AS total_count,
       CAST(coalesce(sum(CASE WHEN severity='error' THEN 1 ELSE 0 END), 0) AS BIGINT) AS error_count,
       CAST(coalesce(sum(CASE WHEN severity='warning' THEN 1 ELSE 0 END), 0) AS BIGINT) AS warning_count,
       CAST(coalesce(sum(CASE WHEN severity='info' THEN 1 ELSE 0 END), 0) AS BIGINT) AS info_count,
       CAST(coalesce(sum(CASE WHEN severity='note' THEN 1 ELSE 0 END), 0) AS BIGINT) AS note_count,
       {v} AS verbose
FROM ({diagnostics_select}) d
"""


def json_document(diags: DataFrame, verbose: bool = False,
                  timestamp: str = "1970-01-01T00:00:00Z") -> DataFrame:
    """The JSONOutput combined document (OutputFormatters.swift:113-131):
    one row whose ``doc`` column is the full
    ``{"diagnostics": [...], "metadata": {...}}`` JSON string. Diagnostics
    carry exactly the DiagnosticJSON wire fields
    (OutputFormatters.swift:451-467) ordered by (conv_id, turn_idx).

    Single-pass aggregate (collect_list + counts together), mirroring the
    reference's buffer-then-finish sink. Like the reference — which buffers
    every diagnostic in memory — this is a BOUNDED-output sink: the one-row
    result materializes on a single reducer, so use it for filtered/
    aggregated results, never a 10^12-row parse (that's what the routed
    parquet/Iceberg sinks are for). ``timestamp`` is caller-injected for
    determinism; job entry points pass wall-clock ISO-8601."""
    diags = _with_related(diags)
    agg = diags.agg(*_doc_aggs())
    doc = _doc_json(verbose, timestamp)
    return agg.select(doc.alias("doc"))


def _with_related(diags: DataFrame) -> DataFrame:
    if "related_messages" not in diags.columns:
        diags = diags.withColumn(
            "related_messages", F.array().cast("array<string>"))
    return diags


def _doc_aggs() -> list:
    """The DiagnosticJSON buffer-then-finish aggregate, shared by the
    unsharded and sharded document sinks so the wire shape cannot drift
    between them: (conv_id, turn_idx)-sorted payload items + metadata
    counts (OutputFormatters.swift:113-131, 451-477)."""
    item = F.struct(
        F.col("conv_id"), F.col("turn_idx"),
        F.struct(
            F.col("message"), F.col("severity"), F.col("file"),
            F.col("line"), F.col("column"),
            F.col("related_messages").alias("relatedMessages"),
        ).alias("payload"),
    )
    zsum = lambda c: F.coalesce(F.sum(c), F.lit(0).cast("long"))  # noqa: E731
    return [
        F.array_sort(F.collect_list(item)).alias("items"),
        F.count("*").alias("totalCount"),
        zsum((F.col("severity") == "error").cast("long")).alias("errorCount"),
        zsum((F.col("severity") == "warning").cast("long")).alias("warningCount"),
        zsum((F.col("severity") == "info").cast("long")).alias("infoCount"),
        zsum((F.col("severity") == "note").cast("long")).alias("noteCount"),
    ]


def _doc_json(verbose: bool, timestamp: str):
    return F.to_json(
        F.struct(
            F.transform(F.col("items"), lambda s: s["payload"]).alias("diagnostics"),
            F.struct(
                F.col("totalCount"), F.col("errorCount"), F.col("warningCount"),
                F.col("infoCount"), F.col("noteCount"),
                F.lit(timestamp).alias("timestamp"),
                F.lit(verbose).alias("verbose"),
            ).alias("metadata"),
        )
    )


def json_document_sharded(diags: DataFrame, n_shards: int = 64,
                          verbose: bool = False,
                          timestamp: str = "1970-01-01T00:00:00Z") -> DataFrame:
    """Sharded JSONOutput (ROADMAP #5): one combined document per
    md5(conv_id) shard, lifting :func:`json_document`'s single-reducer
    bound for full-parse corpora. Conversations never split across shards
    (the shard key is conv_id alone — same portable md5 bucketing as the
    routed sinks, route.py), so each shard is a complete self-consistent
    document: its metadata counts cover exactly its own diagnostics and the
    global metadata is the field-wise sum over shards (= json_metadata;
    asserted in pytest). Output (shard bigint, doc string) — the reducer
    unit is a shard, sized by ``n_shards``, not the corpus. Shards with no
    diagnostics emit no row (a reader treats a missing shard as empty)."""
    diags = _with_related(diags)
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col("conv_id")), 1, 15), 16, 10).cast("long"),
        F.lit(n_shards))
    agg = diags.withColumn("shard", shard).groupBy("shard").agg(*_doc_aggs())
    return agg.select("shard", _doc_json(verbose, timestamp).alias("doc"))
