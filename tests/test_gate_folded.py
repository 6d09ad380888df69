"""The folded tier of the query registry: the entries whose graded flag is
off, so the driver's sweep (and scripts/driver_sim.py, which mirrors it)
never runs them. Pins how the table splits into the two tiers, and runs the
driver's sf0.01 compare on every folded entry here instead; every entry of
either tier is also compared at sf0.001 by test_spark_duckdb_parity.py."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from conftest import SF_ORACLE, assert_frames_match, duck_df

FOLDED_NAMES = sorted(n for n, e in entry_mod.registry().items() if not e.graded)


def test_graded_sweep_contract():
    q, o = entry_mod.queries(), entry_mod.oracle_sql()
    # the driver records only the first 50 rows of its sweep
    assert len(q) <= 50, f"graded tier has {len(q)} entries (> 50)"
    # graded rows-only entries come after every graded oracled entry (dict
    # order is the sweep order)
    names = list(q)
    oracled_idx = [i for i, n in enumerate(names) if n in o]
    rows_only_idx = [i for i, n in enumerate(names) if n not in o]
    assert not rows_only_idx or max(oracled_idx) < min(rows_only_idx)


def test_folded_registry_shape():
    table = entry_mod.registry()
    assert len(table) == 109, f"registry has {len(table)} entries"
    assert len(FOLDED_NAMES) == len(table) - len(entry_mod.queries())


@pytest.mark.parametrize("name", FOLDED_NAMES)
def test_folded_query_parity(spark, duck_oracle, name):
    e = entry_mod.registry()[name]
    spark_df = e.run(spark, SF_ORACLE)
    if e.sql is None:
        # rows-only: accuracy and contract tests live in the operator's own
        # module; here prove the query runs non-empty at the driver's scale
        rows = spark_df.collect()
        assert len(spark_df.columns) > 0
        assert len(rows) > 0, f"{name}: rows-only query went empty"
        return
    assert_frames_match(spark_df, duck_df(duck_oracle, e.sql), name)
