"""Materialize-to-temp-parquet — the flat-memory alternative to ``.cache()``
for graded query paths.

Each snapshot stands in for a materialized table (the transcript table,
banded signatures, quantized corpora). Writing it to a temp parquet dir
and re-reading it gives the plan-shape benefits of a cache (the expensive
projection runs once; self-joins scan a real table twice instead of
recomputing the subplan) while holding no executor storage memory across
a long query sweep, where cached blocks starve a co-resident DuckDB
oracle. At production scale the same call site writes an Iceberg table;
the temp dir is the local analog.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame

# (applicationId, semanticHash) -> [(plan, sorted input files, snapshot dir)]
_SNAPSHOTS: dict[tuple[str, int], list[tuple[DataFrame, list[str], str]]] = {}
_ALL_DIRS: list[str] = []


def _cleanup() -> None:
    for d in _ALL_DIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup)


def materialize(df: DataFrame, n_files: int | None = None,
                trim_jvm: bool = False) -> DataFrame:
    """Write ``df`` to a temp parquet dir once and return a scan of it.

    Every snapshot is keyed on the plan it writes. A later call reuses it
    only when, in the same Spark application, ``df`` has an equal
    ``semanticHash()``, ``sameSemantics`` holds against the stored plan
    (the hash is 32-bit), and ``inputFiles()`` are identical. Operator
    parameters, literals and the input relation are all part of the plan,
    so equal plans over equal files are the same table; snapshots chain,
    since a plan built over a reused snapshot re-reads the same dir. A
    path rewritten in place gets new part files and misses; frames built
    by ``createDataFrame`` or over RDDs never match across calls. Rows
    changed under unchanged file names are NOT detected. Snapshots of an
    earlier applicationId are evicted (their dirs removed) on the next
    call, so a long-lived process never accumulates them across Spark
    sessions.

    ``n_files`` controls output file count — file count is what governs scan
    parallelism at re-read time (splits below the row-group size are empty).

    ``trim_jvm=True`` drops the session's cached relations and requests a
    JVM GC right after the snapshot is written (first write only). Used for
    the big classify snapshot in the driver's graded sweep: the cascade's
    codegen classes and scan buffers are dead weight once the snapshot
    exists, and the co-resident DuckDB oracle needs the memory.

    CAVEAT — session-global: ``clearCache()`` unpersists EVERY cached
    relation in the session, not just this snapshot's inputs. The graded
    sweep holds no live caches. The one live cache in the package is the
    batch job's ``persist()`` of its classified diagnostics
    (``jobs/run_pipeline.py``), and the job never passes ``trim_jvm=True``;
    callers that DO hold live caches must not pass it mid-flight.
    """
    spark = df.sparkSession
    app_id = spark.sparkContext.applicationId
    for k in [k for k in _SNAPSHOTS if k[0] != app_id]:
        for _, _, stale in _SNAPSHOTS.pop(k):
            shutil.rmtree(stale, ignore_errors=True)
    files = sorted(df.inputFiles())
    entries = _SNAPSHOTS.setdefault((app_id, df.semanticHash()), [])
    for plan, plan_files, path in entries:
        if plan_files == files and df.sameSemantics(plan):
            return spark.read.parquet(path)
    path = tempfile.mkdtemp(prefix="blp-mat-")
    _ALL_DIRS.append(path)
    out = df if n_files is None else df.coalesce(n_files)
    out.write.mode("overwrite").parquet(path)
    entries.append((df, files, path))
    if trim_jvm:
        try:
            spark.catalog.clearCache()
            jvm = getattr(spark.sparkContext, "_jvm", None)
            if jvm is not None:
                jvm.System.gc()
        except Exception:
            pass  # hygiene only — never fail a query over it (Connect mode)
    return spark.read.parquet(path)
