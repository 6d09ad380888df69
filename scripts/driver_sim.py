"""Simulate the grading driver: vanilla SparkSession + DuckDB oracle.

Run from ANY cwd (ideally not the repo root, to catch executor-side import
problems): ``python /root/repo/scripts/driver_sim.py [sf_dir]``.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import duckdb
import pandas as pd
from pyspark.sql import SparkSession


def _mem_snapshot(con: duckdb.DuckDBPyConnection) -> str:
    """One-line duckdb_memory()/RSS snapshot, logged at each ENOMEM retry so
    a genuine memory regression (growing duckdb_memory / RSS) is
    distinguishable from the sandbox transient (both ~0 — ADVICE r03)."""
    try:
        duck = con.execute(
            "SELECT coalesce(sum(memory_usage_bytes), 0) FROM duckdb_memory()"
        ).fetchone()[0]
    except Exception:
        duck = -1
    rss = free = -1
    try:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    rss = int(line.split()[1]) // 1024
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    free = int(line.split()[1]) // 1024
    except OSError:
        pass
    return f"duckdb_memory={duck}B rss={rss}MB avail={free}MB"


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            col = col.round(6)
        out[c] = col.map(lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as E

    t0 = time.time()
    rows = E.entry(spark).collect()
    print(f"entry(): {len(rows)} rows in {time.time() - t0:.1f}s")

    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='8GB'")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, osql = E.queries(), E.oracle_sql()
    fails = 0
    # insertion order, NOT sorted: dict order IS the graded sweep order
    # (training-data ops early, the Python-worker rows-only parse_stateful
    # after every oracled query) — an alphabetical walk would run
    # parse_stateful's Python workers mid-sweep and could not reproduce
    # position-dependent behavior
    for name in qs:
        t0 = time.time()
        sdf = qs[name](spark, sf_dir).toPandas()
        sql = osql.get(name)
        if sql is None:
            print(f"{name}: rows-only, spark={len(sdf)} rows  [{time.time() - t0:.1f}s]")
            continue
        # transient-ENOMEM retry: this Firecracker sandbox sporadically
        # fails tiny allocations (16 KB) with 122 GB free — measured with
        # duckdb_memory() sum = 0 and process RSS < 600 MB at the failure,
        # and an immediate SAME-CONNECTION retry succeeding (evidence in
        # commit 80c6d52's message). Exponential backoff + a memory
        # snapshot per retry: if duckdb_memory/RSS are LARGE here it is a
        # real regression in the oracle, not the sandbox transient.
        for attempt in range(5):
            try:
                ddf = con.execute(sql).df()
                break
            except duckdb.OutOfMemoryException as e:
                if attempt == 4:
                    raise
                print(f"{name}: transient oracle OOM ({e}) — "
                      f"[{_mem_snapshot(con)}] retrying in {2 ** attempt}s")
                time.sleep(2 ** attempt)
        a, b = norm(sdf), norm(ddf)
        ok = list(a.columns) == list(b.columns) and len(a) == len(b) and a.equals(b)
        print(f"{name}: spark={len(a)} duck={len(b)} "
              f"{'MATCH' if ok else 'MISMATCH'}  [{time.time() - t0:.1f}s]")
        if not ok:
            fails += 1
            bad = (a != b).any(axis=1) if len(a) == len(b) and list(a.columns) == list(b.columns) else None
            if bad is not None:
                print(pd.concat([a[bad].head(3), b[bad].head(3)], keys=["spark", "duckdb"]))
    print("DRIVER-SIM:", "ALL MATCH" if fails == 0 else f"{fails} MISMATCHES")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
