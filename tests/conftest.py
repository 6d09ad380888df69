from __future__ import annotations

import glob
import os
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="session")
def spark():
    from buildlogparser_spark.session import get_spark

    s = get_spark("blp-tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # modest limits: co-resident with the Spark JVM in one pytest process
    con.execute("SET threads=4")
    con.execute("SET memory_limit='8GB'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


@pytest.fixture(scope="session")
def duck_smoke():
    return duck_con(SF_SMOKE)


@pytest.fixture(scope="session")
def duck_oracle():
    return duck_con(SF_ORACLE)


def duck_df(con: duckdb.DuckDBPyConnection, sql: str) -> pd.DataFrame:
    """Execute oracle SQL with a transient-ENOMEM retry: this sandbox VM
    sporadically fails tiny allocations (duckdb_memory() = 0, RSS < 600 MB,
    122 GB free at the failure; same-connection retry succeeds — evidence
    in commit 80c6d52's message). Exponential backoff; each retry logs a
    duckdb_memory()/RSS snapshot so a REAL memory regression in a new
    oracle shows up as large numbers here instead of being silently
    absorbed (ADVICE r03)."""
    import time as _time

    for attempt in range(5):
        try:
            return con.execute(sql).df()
        except duckdb.OutOfMemoryException as e:
            if attempt == 4:
                raise
            try:
                duck_bytes = con.execute(
                    "SELECT coalesce(sum(memory_usage_bytes), 0) "
                    "FROM duckdb_memory()").fetchone()[0]
            except Exception:
                duck_bytes = -1
            print(f"transient oracle OOM ({e}); duckdb_memory={duck_bytes}B "
                  f"— retrying in {2 ** attempt}s")
            _time.sleep(2 ** attempt)
    raise AssertionError("unreachable")


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted, stringified frame for engine-agnostic
    comparison (mirrors the driver's order-insensitive value-hash)."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            col = col.round(6)
        out[c] = col.map(lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def assert_frames_match(spark_df, duck_df: pd.DataFrame, name: str = "") -> None:
    a = normalize(spark_df.toPandas())
    b = normalize(duck_df)
    assert list(a.columns) == list(b.columns), f"{name}: columns {list(a.columns)} != {list(b.columns)}"
    assert len(a) == len(b), f"{name}: row count {len(a)} != {len(b)}"
    if not a.equals(b):
        diff_idx = (a != b).any(axis=1)
        sample = pd.concat([a[diff_idx].head(5), b[diff_idx].head(5)], keys=["spark", "duckdb"])
        raise AssertionError(f"{name}: value mismatch\n{sample}")


def sql_executions(spark) -> dict[int, str]:
    """Physical plan text of the SQL executions in Spark's status store, by
    id, once the listener bus has delivered every event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    plans = {}
    while it.hasNext():
        e = it.next()
        plans[e.executionId()] = e.physicalPlanDescription()
    return plans


def write_ids(spark) -> set[int]:
    """Ids of the file-write executions (one per ``DataFrameWriter`` call)."""
    return {i for i, plan in sql_executions(spark).items()
            if "InsertIntoHadoopFsRelationCommand" in plan}


def part_mtimes(root: str) -> dict[str, float]:
    """mtime of every part file under ``root``, by path."""
    return {p: os.path.getmtime(p)
            for p in glob.glob(f"{root}/**/part-*", recursive=True)}
