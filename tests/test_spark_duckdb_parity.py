"""Local mini-version of the driver's correctness gate, over every entry of
the query registry (graded AND folded): an entry with oracle SQL must agree
with DuckDB (columns, row count, values) at sf0.001; a rows-only entry must
run non-empty with a non-empty schema. Also pins which entries have no
oracle; the graded/folded split is pinned next to the folded tier's own
sf0.01 compare."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from conftest import SF_SMOKE, assert_frames_match, duck_df

QUERY_NAMES = sorted(entry_mod.registry())

# entries with no SQL twin; an oracle that vanishes shows up here
ROWS_ONLY = {
    "parse_stateful", "ann_lsh_topk", "media_features", "files_affected_approx",
    "duration_percentiles_approx", "json_document", "json_document_sharded",
    "embedding_near_dup",
}


def test_all_queries_have_oracles():
    table = entry_mod.registry()
    assert {n for n, e in table.items() if e.sql is None} == ROWS_ONLY


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_parity(spark, duck_smoke, name):
    e = entry_mod.registry()[name]
    spark_df = e.run(spark, SF_SMOKE)
    if e.sql is None:
        # rows-only: accuracy and contract tests live in the operator's own
        # module; here prove the query runs non-empty with a stable schema
        rows = spark_df.collect()
        assert len(spark_df.columns) > 0
        assert len(rows) > 0, f"{name}: rows-only query went empty"
        return
    assert_frames_match(spark_df, duck_df(duck_smoke, e.sql), name)


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and len(df.columns) > 0
