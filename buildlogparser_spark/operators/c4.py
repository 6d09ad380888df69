"""C4-style heuristic page cleaning over the ``documents`` table — the
line/page filter stage of Raffel et al. 2020 ("Exploring the Limits of
Transfer Learning…", public arXiv 1910.10683, §2.2), the classic
web-corpus cleaner every large-scale training-data pipeline runs first.

Rules implemented (paper → here):
* keep only lines that end in terminal punctuation  (. ! ? ")
* drop lines with fewer than ``min_words_per_line`` words (paper: 5)
* drop any line whose lowercase contains "javascript"
* drop whole pages containing "{", "lorem ipsum", or a banned word
  (the paper uses an external banned-word list; here it is a parameter
  with a neutral placeholder default)
* drop pages with fewer than ``min_lines`` retained lines (paper: 5
  sentences; line granularity here — see the dedup note)
* deduplicate retained content across pages, FIRST occurrence wins
  (paper: three-sentence spans; the synthetic corpus has no sentence
  structure, so the unit here is the exact line — same shape, different
  granularity, documented adaptation)

Scale shape (the 100 TB plan):
* ONE posexplode produces the line stream; it is the diamond root feeding
  the per-page totals AND the dedup/reassembly, so it is
  snapshot-materialized once per input plan.
* The cross-page line dedup is a hash-aggregation on the line digest
  (min (doc_id, pos) struct = the deterministic first occurrence) plus
  one co-partitioned equi-join back — the exact shape of dedup_exact at
  line granularity. Never a window over the corpus, never all-pairs.
* Reassembly collects each page's kept lines into one bounded array
  (pages are bounded; the standing per-doc assumption) and joins the
  page-level totals on doc_id — co-partitioned hash joins.
* Page gates are pure column expressions over the original text.

The synthetic documents are single-line lowercase word soup — every C4
rule would be vacuous on them (the inject_pii lesson, ADVICE r03 #4) —
so ``inject_structure`` deterministically reshapes each doc into
8-token '.'-terminated lines and appends rule-triggering lines keyed by
doc_id residues, identically in both engines.

Reference analog: none (the reference is a diagnostics parser); this is
a driver-brief training-data op, sibling of corpus_filters.* stages.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import TOKENS_SQL, tokens

TERMINAL = (".", "!", "?", '"')
DEFAULT_BANNED = ("unsafecontent",)

# (predicate residue, appended line) — applied in order, both engines
_INJECT_LINES = [
    ("doc_id % 2 = 0",
     "all rights reserved contact the site administrator."),  # cross-page dup
    ("doc_id % 3 = 1", "trailing line with no terminal punctuation"),
    ("doc_id % 5 = 2", "please enable javascript to view this page."),
    ("doc_id % 7 = 3", "ok."),                                # < min words
    ("doc_id % 11 = 4", "lorem ipsum dolor sit amet consectetur."),
    ("doc_id % 13 = 5", "config { width: 100 } block follows."),
    ("doc_id % 17 = 6", "this page mentions unsafecontent today."),
]


def inject_structure(documents: DataFrame, text_col: str = "text",
                     words_per_line: int = 8) -> DataFrame:
    """Deterministically reshape word-soup docs into '.'-terminated
    8-token lines and append rule-triggering lines by doc_id residue.
    Test/bench/grade helper only (cf. inject_pii). NULL text stays NULL."""
    toks = tokens(F.col(text_col))
    n_groups = F.expr(
        f"transform(sequence(0, CAST(floor((size(toks) - 1) / {words_per_line}) "
        f"AS INT)), i -> concat(array_join(slice(toks, i * {words_per_line} + 1, "
        f"{words_per_line}), ' '), '.'))")
    base = F.when(
        F.size("toks") >= 1, F.array_join(n_groups, "\n")).otherwise(F.lit(""))
    frags = [
        F.when(F.expr(pred), F.lit("\n" + line)).otherwise(F.lit(""))
        for pred, line in _INJECT_LINES
    ]
    built = F.concat(base, *frags)
    return (documents.withColumn("toks", toks)
            .withColumn(text_col,
                        F.when(F.col(text_col).isNull(), F.lit(None))
                        .otherwise(built))
            .drop("toks"))


def inject_structure_sql(table: str = "documents",
                         words_per_line: int = 8) -> str:
    toks = TOKENS_SQL.format(c="text")
    groups = (
        f"list_transform(range(0, CAST(floor((len(toks) - 1) / {words_per_line})"
        f" AS INT) + 1), i -> array_to_string(toks[i * {words_per_line} + 1 : "
        f"i * {words_per_line} + {words_per_line}], ' ') || '.')")
    frags = " || ".join(
        f"(CASE WHEN {pred} THEN chr(10) || '{line}' ELSE '' END)"
        for pred, line in _INJECT_LINES)
    return f"""
SELECT * EXCLUDE (toks) REPLACE (
  CASE WHEN text IS NULL THEN NULL ELSE
    (CASE WHEN len(toks) >= 1
          THEN array_to_string({groups}, chr(10)) ELSE '' END) || {frags}
  END AS text)
FROM (SELECT *, {toks} AS toks FROM {table})
"""


def _line_keep(line: Column, min_words: int) -> Column:
    """The three C4 line gates as one boolean column expression."""
    last = F.substring(line, -1, 1)
    return (
        last.isin(*TERMINAL)
        & (F.size(tokens(line)) >= min_words)
        & ~F.lower(line).contains("javascript")
    )


def c4_clean(documents: DataFrame, min_words_per_line: int = 5,
             min_lines: int = 3,
             banned: tuple[str, ...] = DEFAULT_BANNED) -> DataFrame:
    """(doc_id, page_kept, n_lines_total, n_lines_kept, clean_text):
    C4 cleaning with per-page stats. ``page_kept`` folds the page gates
    (curly brace / lorem ipsum / banned word on the ORIGINAL text, plus
    the retained-line minimum); ``clean_text`` is the newline-joined
    retained lines after the cross-page first-occurrence dedup ('' when
    nothing survives, NULL-text pages score (false, 0, 0, ''))."""
    from ..materialize import materialize

    lines = materialize(
        documents.select(
            "doc_id", F.posexplode(F.split(F.col("text"), "\n"))
            .alias("pos", "line")))

    totals = lines.groupBy("doc_id").agg(
        F.count("*").alias("n_lines_total"))
    gated = lines.filter(_line_keep(F.col("line"), min_words_per_line))
    # cross-page dedup: deterministic first occurrence = min (doc_id, pos)
    first = (gated
             .groupBy(F.md5("line").alias("h"))
             .agg(F.min(F.struct("doc_id", "pos")).alias("f")))
    kept = (gated.join(first, F.md5(gated["line"]) == first["h"])
            .filter((F.col("doc_id") == F.col("f.doc_id"))
                    & (F.col("pos") == F.col("f.pos")))
            .select("doc_id", "pos", "line"))
    pages = (kept.groupBy("doc_id")
             .agg(F.count("*").alias("n_lines_kept"),
                  F.array_join(
                      F.transform(
                          F.sort_array(F.collect_list(F.struct("pos", "line"))),
                          lambda s: s["line"]), "\n").alias("clean_text")))

    page_gate = (~F.coalesce(F.col("text").contains("{"), F.lit(False))
                 & ~F.coalesce(F.lower(F.col("text")).contains("lorem ipsum"),
                               F.lit(False)))
    for w in banned:
        page_gate = page_gate & ~F.coalesce(
            F.lower(F.col("text")).contains(w), F.lit(False))
    return (
        documents.select("doc_id", "text")
        .join(totals, "doc_id", "left")
        .join(pages, "doc_id", "left")
        .select(
            "doc_id",
            (page_gate
             & (F.coalesce("n_lines_kept", F.lit(0)) >= min_lines))
            .alias("page_kept"),
            F.coalesce("n_lines_total", F.lit(0)).cast("long")
            .alias("n_lines_total"),
            F.coalesce("n_lines_kept", F.lit(0)).cast("long")
            .alias("n_lines_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def c4_clean_sql(table: str = "documents", min_words_per_line: int = 5,
                 min_lines: int = 3,
                 banned: tuple[str, ...] = DEFAULT_BANNED) -> str:
    """DuckDB twin: identical gates, identical struct-min first-occurrence
    dedup, identical pos-ordered reassembly. ``table`` must be an
    UNALIASED relation (bare name or parenthesized subquery) — this query
    aliases it ``d`` itself."""
    line_toks = TOKENS_SQL.format(c="line")
    # escape quotes so the SQL twin accepts the same parameter domain as
    # the Spark side (contains() takes any literal); empty tuple → TRUE,
    # where the bare join previously emitted a dangling AND
    banned_sql = " AND ".join(
        f"NOT coalesce(contains(lower(d.text), "
        f"'{w.replace(chr(39), chr(39) * 2)}'), FALSE)"
        for w in banned) or "TRUE"
    return f"""
WITH lines AS MATERIALIZED (
  -- parallel unnest of equal-length lists zips (cf. lm_score's bg CTE)
  SELECT doc_id, unnest(range(0, len(ls))) AS pos, unnest(ls) AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM {table})
), totals AS (
  SELECT doc_id AS t_doc_id, count(*) AS n_lines_total FROM lines GROUP BY doc_id
), gated AS MATERIALIZED (
  SELECT doc_id, pos, line FROM lines
  WHERE right(line, 1) IN ('.', '!', '?', '"')
    AND len({line_toks}) >= {min_words_per_line}
    AND NOT contains(lower(line), 'javascript')
), firsts AS (
  SELECT md5(line) AS h,
         min(struct_pack(doc_id := doc_id, pos := pos)) AS f
  FROM gated GROUP BY md5(line)
), kept AS (
  SELECT g.doc_id, g.pos, g.line
  FROM gated g JOIN firsts ON md5(g.line) = firsts.h
  WHERE g.doc_id = struct_extract(firsts.f, 'doc_id')
    AND g.pos = struct_extract(firsts.f, 'pos')
), pages AS (
  SELECT doc_id AS p_doc_id, count(*) AS n_lines_kept,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       (NOT coalesce(contains(d.text, '{{'), FALSE)
        AND NOT coalesce(contains(lower(d.text), 'lorem ipsum'), FALSE)
        AND {banned_sql}
        AND coalesce(p.n_lines_kept, 0) >= {min_lines}) AS page_kept,
       CAST(coalesce(t.n_lines_total, 0) AS BIGINT) AS n_lines_total,
       CAST(coalesce(p.n_lines_kept, 0) AS BIGINT) AS n_lines_kept,
       coalesce(p.clean_text, '') AS clean_text
FROM {table} d
LEFT JOIN totals t ON d.doc_id = t.t_doc_id
LEFT JOIN pages p ON d.doc_id = p.p_doc_id
"""
