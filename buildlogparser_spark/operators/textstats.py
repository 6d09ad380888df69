"""Text analysis over the ``documents`` table: language-ID, quality scoring,
token counting, document fingerprinting (driver brief: training-data
pipeline ops). All pure column expressions — JVM-side, shuffle-free
(per-row), with DuckDB-portable semantics for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..rounding import (
    exact_sum, exact_sum_sql, portable_round, portable_round_sql)
from .dedup import TOKENS_SQL, bpe_token_estimate, bpe_tokens_sql, tokens

# Tiny per-language stopword marker lists for the n-gram/stopword heuristic.
# (A real deployment would load fastText lid.176 via a pandas UDF — the
# heuristic keeps this container-dependency-free and deterministic.)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "that", "for", "with"],
    "es": ["el", "la", "de", "que", "los", "las", "una", "por"],
    "de": ["der", "die", "das", "und", "nicht", "mit", "ein", "ist"],
    "fr": ["le", "les", "des", "est", "une", "dans", "pour", "que"],
    "zh": ["de", "shi", "bu", "le", "zai", "wo", "you", "ren"],
}


def _marker_hits(toks: Column, lang: str) -> Column:
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))


def lang_id(documents: DataFrame) -> DataFrame:
    """(doc_id, lang_pred, lang_score): argmax over marker-hit counts,
    deterministic tie-break by language code; 'und' when nothing hits."""
    toks = tokens(F.col("text"))
    df = documents.select("doc_id", toks.alias("toks"))
    for lang in LANG_MARKERS:
        df = df.withColumn(f"hits_{lang}", _marker_hits(F.col("toks"), lang))
    best = None
    for lang in sorted(LANG_MARKERS):
        cand = F.struct(F.col(f"hits_{lang}").alias("hits"), F.lit(lang).alias("lang"))
        best = cand if best is None else F.when(
            (cand["hits"] > best["hits"]), cand).otherwise(best)
    return df.select(
        "doc_id",
        F.when(best["hits"] > 0, best["lang"]).otherwise("und").alias("lang_pred"),
        best["hits"].cast("long").alias("lang_score"),
    )


def token_count(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_chars_text, n_subwords_est, n_bpe_tokens):
    whitespace/punct tokenization, a chars/4 subword estimate (the common
    ~4-chars-per-token heuristic, integer math only), and the GPT-2
    pre-tokenizer BPE estimate (:func:`~.dedup.bpe_token_estimate` —
    round 5, makes packing budgets ~realistic)."""
    toks = tokens(F.col("text"))
    return documents.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_text"),
        ((F.length("text") + 3) / 4).cast("long").alias("n_subwords_est"),
        bpe_token_estimate(F.col("text")).alias("n_bpe_tokens"),
    )


def quality_expr(text: Column) -> Column:
    """The gated quality composite in [0, 1] over a raw text column (NULL →
    empty document) — the scoring core of :func:`quality_score`, exposed as
    a bare Column so other operators can rank arbitrary text with the SAME
    heuristic (``sft.preference_pairs`` scores candidate responses with it).
    Unrounded; callers apply their own ``portable_round``."""
    text = F.coalesce(text, F.lit(""))
    toks = tokens(text)
    n_chars = F.length(text)
    n_toks = F.size(toks)
    en_stop = F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t)))
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[.,;:!?]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0)
    stop_ratio = F.when(n_toks > 0, stop_hits / n_toks).otherwise(0.0)
    return (
        F.when(n_toks < 5, 0.0)
        .otherwise(
            0.4 * F.least(n_toks / F.lit(100.0), F.lit(1.0))
            + 0.3 * F.least(stop_ratio * 5, F.lit(1.0))
            + 0.3 * (1 - F.least(punct_ratio * 10, F.lit(1.0)))
        )
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """(doc_id, …ratios…, quality): length/punctuation/stopword heuristics,
    each a rounded double; quality = gated composite in [0, 1]
    (:func:`quality_expr`).

    NULL text scores as the empty document (everything 0) — without the
    coalesce, NULL rode each engine's NULL-skipping ``least`` differently
    (Spark composed the already-coalesced stop ratio where the SQL twin
    re-derived it raw: 0.7 vs 1.0), and the Spark result additionally
    depended on the session's ANSI mode via size(NULL)."""
    text = F.coalesce(F.col("text"), F.lit(""))
    toks = tokens(text)
    n_chars = F.length(text)
    n_toks = F.size(toks)
    en_stop = F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t)))
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[.,;:!?]", ""))
    mean_word_len = F.when(
        n_toks > 0,
        F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
        / n_toks,
    ).otherwise(F.lit(0.0))

    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0)
    stop_ratio = F.when(n_toks > 0, stop_hits / n_toks).otherwise(0.0)
    quality = quality_expr(F.col("text"))
    return documents.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars_text"),
        n_toks.cast("long").alias("n_tokens"),
        portable_round(mean_word_len, 4).alias("mean_word_len"),
        portable_round(punct_ratio, 4).alias("punct_ratio"),
        portable_round(stop_ratio, 4).alias("stopword_ratio"),
        portable_round(quality, 4).alias("quality"),
    )


def doc_language_profile(documents: DataFrame) -> DataFrame:
    """Corpus roll-up: docs/chars/mean quality per predicted language — the
    aggregate a curation pipeline actually routes on."""
    scored = quality_score(documents).select("doc_id", "quality")
    langs = lang_id(documents).select("doc_id", "lang_pred")
    chars = documents.select("doc_id", F.length("text").cast("long").alias("n_chars_text"))
    return (
        langs.join(scored, "doc_id").join(chars, "doc_id")
        .groupBy("lang_pred")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars_text").alias("total_chars"),
            portable_round(F.avg("quality"), 4).alias("mean_quality"),
        )
    )


def fingerprint(documents: DataFrame, window: int = 8) -> DataFrame:
    """(doc_id, fingerprint): winnowing-style document fingerprint — the
    minimum portable hash over all ``window``-token shingles (a 1-element
    winnow: robust to token order perturbations at the edges, cheap, and
    enough for bucketing). Portable md5 arithmetic, oracle-checkable."""
    from .dedup import _md5_i64, shingles

    sh = shingles(F.col("text"), window)
    hashes = F.transform(sh, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"))
    return documents.select(
        "doc_id",
        F.when(F.size(hashes) > 0, F.array_min(hashes))
        .otherwise(_md5_i64(F.col("text"))).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# DuckDB twins (correctness oracles). Each mirrors the Spark function above
# expression-for-expression; divergences would fail the driver's value-hash.
# ---------------------------------------------------------------------------

_TOKS = TOKENS_SQL.format(c="text")


def _markers_sql(lang: str) -> str:
    lst = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter({_TOKS}, t -> list_contains([{lst}], t)))"


def lang_id_sql(table: str = "documents") -> str:
    hits = ", ".join(f"{_markers_sql(lang)} AS h_{lang}" for lang in LANG_MARKERS)
    langs = sorted(LANG_MARKERS)
    m = "greatest(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    # first-in-sorted-order wins ties — mirrors the strictly-greater fold in
    # lang_id()
    pick = " ".join(f"WHEN h_{lang} = m THEN '{lang}'" for lang in langs[:-1])
    return f"""
SELECT doc_id,
       CASE WHEN m > 0 THEN (CASE {pick} ELSE '{langs[-1]}' END) ELSE 'und' END AS lang_pred,
       CAST(m AS BIGINT) AS lang_score
FROM (SELECT *, {m} AS m FROM (SELECT doc_id, {hits} FROM {table}) h) hm
"""


def token_count_sql(table: str = "documents") -> str:
    return f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_text,
       CAST((length(text) + 3) // 4 AS BIGINT) AS n_subwords_est,
       {bpe_tokens_sql('text')} AS n_bpe_tokens
FROM {table}
"""


def quality_case_sql(n_toks: str = "n_toks", stop_hits: str = "stop_hits",
                     n_punct: str = "n_punct", n_chars: str = "n_chars") -> str:
    """The quality composite as one SQL CASE over pre-staged count columns —
    the DuckDB twin of :func:`quality_expr`, shared by ``quality_score_sql``
    and ``sft.preference_pairs_sql`` so the two oracles cannot drift."""
    return f"""CASE WHEN {n_toks} < 5 THEN 0.0 ELSE
             0.4 * least({n_toks} / 100.0, 1.0)
           + 0.3 * least((CAST({stop_hits} AS DOUBLE) / {n_toks}) * 5, 1.0)
           + 0.3 * (1 - least((CASE WHEN {n_chars} > 0 THEN CAST({n_punct} AS DOUBLE) / {n_chars} ELSE 0.0 END) * 10, 1.0))
         END"""


def quality_select_sql(src: str, carry: list[str], text_col: str) -> str:
    """``SELECT {carry}, score FROM …`` — the 4-dp quality composite over
    ``src``'s ``text_col``, with the STAGING (NULL coalesce, token split,
    punct regex, stopword list) defined once. The preference_pairs and
    weighted_sample oracles both consume this, so the staging cannot drift
    between hand-rolled copies while :func:`quality_case_sql` alone stays
    shared (review finding, round-5 final session)."""
    stop = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])
    toks = TOKENS_SQL.format(c="rt")
    cols = ", ".join(carry)
    return f"""SELECT {cols}, {portable_round_sql(quality_case_sql(), 4)} AS score
  FROM (SELECT *, len(toks) AS n_toks,
               len(list_filter(toks, t -> list_contains([{stop}], t))) AS stop_hits
        FROM (SELECT {cols}, length(rt) AS n_chars, {toks} AS toks,
                     length(rt) - length(regexp_replace(rt, '[.,;:!?]', '', 'g')) AS n_punct
              FROM (SELECT *, coalesce({text_col}, '') AS rt FROM {src}) b) q) s"""


def quality_score_sql(table: str = "documents") -> str:
    stop = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])
    return f"""
WITH base AS (
  -- NULL text scores as the empty document, matching quality_score()
  SELECT doc_id,
         length(text) AS n_chars,
         {_TOKS} AS toks,
         length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
  FROM (SELECT doc_id, coalesce(text, '') AS text FROM {table}) t
), ratios AS (
  SELECT doc_id, n_chars, len(toks) AS n_toks, n_punct,
         len(list_filter(toks, t -> list_contains([{stop}], t))) AS stop_hits,
         CASE WHEN len(toks) > 0
              THEN CAST(list_reduce(list_transform(toks, t -> length(t)), (a, b) -> a + b) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS mean_word_len,
         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio
  FROM base
)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars_text,
       CAST(n_toks AS BIGINT) AS n_tokens,
       {portable_round_sql('mean_word_len', 4)} AS mean_word_len,
       {portable_round_sql('punct_ratio', 4)} AS punct_ratio,
       {portable_round_sql('CASE WHEN n_toks > 0 THEN CAST(stop_hits AS DOUBLE) / n_toks ELSE 0.0 END', 4)} AS stopword_ratio,
       {portable_round_sql(quality_case_sql(), 4)} AS quality
FROM ratios
"""


def fingerprint_sql(table: str = "documents", window: int = 8) -> str:
    from .dedup import shingles_sql, _md5_i64_sql

    sh = shingles_sql("text", window)
    return f"""
SELECT doc_id,
       CASE WHEN len(hs) > 0 THEN list_aggregate(hs, 'min')
            ELSE {_md5_i64_sql('text')} END AS fingerprint
FROM (SELECT doc_id, text,
             list_transform({sh}, s -> {_md5_i64_sql('s')}) AS hs
      FROM {table}) h
"""


def doc_language_profile_sql(table: str = "documents") -> str:
    return f"""
WITH l AS ({lang_id_sql(table)}), q AS ({quality_score_sql(table)})
SELECT l.lang_pred,
       count(*) AS n_docs,
       CAST(sum(q.n_chars_text) AS BIGINT) AS total_chars,
       {portable_round_sql('avg(q.quality)', 4)} AS mean_quality
FROM l JOIN q ON l.doc_id = q.doc_id
GROUP BY l.lang_pred
"""


def tfidf_top_terms(documents: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, term, tf, doc_freq, score, rank): the top-``k`` tf-idf
    keywords per document — the classic retrieval/indexing signal (Salton &
    Buckley 1988; the smoothed idf is scikit-learn's public
    ``smooth_idf`` formula ln((N+1)/(df+1)) + 1, which never zeroes or
    divides by zero).

    Scale shape (10^12 docs): explode → (doc, term) hash-agg for tf;
    |vocab|-sized hash-agg for df; the corpus size N attaches via a
    broadcast 1-row join (never a window over the exploded stream); tf⋈df
    joins on term (broadcastable when the vocab fits, plain shuffle join
    otherwise); the final top-k window partitions by doc_id and ranks at
    most the doc's distinct-term count. Nothing corpus-global except the
    two aggregates.

    Determinism/portability: idf is 9-dp portable-rounded BEFORE the
    multiply (Java vs DuckDB ``ln`` may differ in the last ulp — same
    defense as :mod:`~.lm_score`), the score 6-dp after; ties rank by term
    ascending. NULL text yields no tokens in either engine (split(NULL) is
    NULL, exploding/unnesting a NULL list emits nothing) but still counts
    toward N — disclosed: N is the table's row count, not the non-empty
    count."""
    from ..materialize import materialize
    from ..rounding import portable_round

    terms = documents.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    # tf feeds BOTH the per-term df agg and the score join: without a
    # snapshot Catalyst duplicates the scan+explode+agg subtree (the
    # formatted plan showed two full parquet scans) — at corpus scale
    # that doubles the dominant explode. Same diamond-root defense as
    # curate.py / the banded LSH intermediates.
    tf = materialize(terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    df_ = tf.groupBy("term").agg(F.count("*").alias("doc_freq"))
    n_docs = documents.agg(
        F.count("*").alias("n_docs")).withColumn("_k", F.lit(1))
    scored = (
        tf.join(df_, "term")
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(n_docs), "_k")
        .drop("_k")
        .withColumn(
            "idf",
            portable_round(
                F.log((F.col("n_docs") + 1).cast("double")
                      / (F.col("doc_freq") + 1)) + 1, 9))
        .withColumn("score", portable_round(F.col("tf") * F.col("idf"), 6))
    )
    rank_w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", F.col("tf").cast("long").alias("tf"),
                F.col("doc_freq").cast("long").alias("doc_freq"),
                "score", F.col("rank").cast("int").alias("rank"))
    )


def tfidf_top_terms_sql(table: str = "documents", k: int = 3) -> str:
    return f"""
WITH terms AS MATERIALIZED (
  SELECT doc_id, unnest({_TOKS}) AS term FROM {table}
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM {table}),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.doc_freq, n.n_docs,
         {portable_round_sql(
             'ln(CAST(n.n_docs + 1 AS DOUBLE) / (df.doc_freq + 1)) + 1', 9)}
           AS idf
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, doc_freq,
         {portable_round_sql('tf * idf', 6)} AS score,
         row_number() OVER (
             PARTITION BY doc_id
             ORDER BY {portable_round_sql('tf * idf', 6)} DESC, term ASC
         ) AS rank
  FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
       CAST(doc_freq AS BIGINT) AS doc_freq, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


def entropy_term(c: Column, n: Column) -> Column:
    """One token's p·ln(p) with p = c/n, the drift.py convention: ``ln`` of
    the EXACT share, with only the ``ln`` result (the ≤1-ulp libm
    divergence) and the term 9-dp-rounded. Rounding the share first would
    collapse one below 5e-10 to 0 and take ln(0), which Spark turns into
    NULL and DuckDB rejects."""
    p = c / n
    return portable_round(p * portable_round(F.log(p), 9), 9)


def entropy_term_sql(c: str, n: str) -> str:
    """DuckDB twin of :func:`entropy_term`."""
    p = f"(CAST({c} AS DOUBLE) / {n})"
    ln9 = portable_round_sql(f"ln({p})", 9)
    return portable_round_sql(f"{p} * ({ln9})", 9)


def token_entropy(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_distinct_tokens, entropy, norm_entropy):
    Shannon entropy of each document's token frequency distribution —
    the information-density / repetitiveness signal (low entropy =
    repetitive boilerplate; the classic complement to the Gopher
    repetition ratios and the compression-ratio heuristics of
    web-corpus filtering, e.g. Rae et al. 2021 §A1).

        entropy = −Σ_t (c_t/n)·ln(c_t/n)        (natural log, 6 dp)
        norm_entropy = entropy / ln(n_distinct)  (∈ [0,1]; 0 when ≤1
                                                  distinct token)

    Cross-engine determinism: each token's term follows
    :func:`entropy_term` (the drift.py convention) and the per-document
    sum is :func:`~..rounding.exact_sum`. Docs with no tokens
    (NULL/empty/symbol-only text) emit the zero row rather than
    vanishing.

    Scale shape (10^12 docs): one explode scan → (doc, token) hash-agg
    (map-side combinable) → per-doc total n on each (doc, token) row →
    per-doc hash-agg — the repetition_stats shape; the zero-row
    completion is a left join against the doc_id projection only.
    """
    toks = tokens(F.col("text"))
    pairs = documents.select(
        "doc_id", F.explode(toks).alias("tok"))
    counts = (pairs.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
              .withColumn("n", F.sum("c").over(Window.partitionBy("doc_id"))))
    per_doc = counts.groupBy("doc_id").agg(
        F.max("n").alias("n"),
        F.count("*").alias("n_distinct"),
        exact_sum(entropy_term(F.col("c"), F.col("n"))).alias("negent"),
    )
    ent9 = -F.col("negent")
    norm = F.when(
        F.col("n_distinct") > 1,
        portable_round(ent9 / portable_round(
            F.log(F.col("n_distinct").cast("double")), 9), 6),
    ).otherwise(0.0)
    scored = per_doc.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct_tokens"),
        portable_round(ent9, 6).alias("entropy"),
        norm.alias("norm_entropy"),
    )
    return (
        documents.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_distinct_tokens", F.lit(0))
            .alias("n_distinct_tokens"),
            F.coalesce("entropy", F.lit(0.0)).alias("entropy"),
            F.coalesce("norm_entropy", F.lit(0.0)).alias("norm_entropy"),
        )
    )


def token_entropy_sql(table: str = "documents") -> str:
    """DuckDB twin: unnest → (doc, token) counts → exact sum of the same
    :func:`entropy_term` terms."""
    term9 = entropy_term_sql("c", "n")
    return f"""
WITH pairs AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM {table}
),
counts AS (
  SELECT doc_id, tok, count(*) AS c FROM pairs GROUP BY doc_id, tok
),
with_n AS (
  SELECT doc_id, tok, c, sum(c) OVER (PARTITION BY doc_id) AS n
  FROM counts
),
per_doc AS (
  SELECT doc_id, max(n) AS n, count(*) AS n_distinct,
         {exact_sum_sql(term9)} AS negent
  FROM with_n GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(p.n_distinct, 0) AS BIGINT) AS n_distinct_tokens,
       coalesce({portable_round_sql('-p.negent', 6)}, 0.0) AS entropy,
       coalesce(CASE WHEN p.n_distinct > 1 THEN
           {portable_round_sql(
               "(-p.negent) / (" + portable_round_sql(
                   "ln(CAST(p.n_distinct AS DOUBLE))", 9) + ")", 6)}
         ELSE 0.0 END, 0.0) AS norm_entropy
FROM {table} d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""
