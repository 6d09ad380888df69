"""Temporal joins over the transcript stream: AS-OF registry enrichment and
incident-window RANGE attribution — the two classic operators Spark's
DataFrame API lacks as primitives, built here as compositions of existing
ops (the brief's preferred strategy (a): no Pandas UDF, no mapPartitions).

Reference analog: none (the reference joins nothing, SURVEY.md §2.5); both
ops extend the graft's enrichment stage (BASELINE.json north_star: "enriched
through broadcast hash-join lookups") from a static registry to a
time-VERSIONED one, and attribute diagnostics to operational incident
windows — the two lookups a production log pipeline actually runs.

AS-OF JOIN (``asof_enrich``). Each turn picks the LATEST registry version
with ``valid_from_us <= ts_us`` for its tool (inclusive boundary — a
version published at exactly the turn's timestamp applies to it). Two
physical strategies, both implemented:

* **Broadcast floor-lookup** (graded; the fact-vs-small-dim plan): the
  versioned registry is aggregated to one row per tool holding a
  ``sort_array`` of (valid_from_us, version, config_rev) structs, broadcast,
  equi-joined on ``tool``, and the floor version picked with pure array
  expressions (``filter`` + ``try_element_at(-1)``). The 10^12-row fact side
  is never shuffled and never range-exploded — the right 100 TB plan
  whenever the dim side fits an executor (registries always do).
* **Bucketed union-merge** (``asof_enrich_merge``, folded; the big-big
  plan): both sides are bucketed on ``(tool, ts-bucket)``; the version side
  gets a per-bucket FLOOR row replicated in (so every bucket is
  self-contained), facts and versions are unioned, and one
  ``last(ignorenulls)`` window ordered by (ts_us, is_fact) — version rows
  sort first at equal ts, preserving the inclusive boundary — carries the
  version forward. One shuffle on (tool, bucket): the bucket key is what
  keeps a 7-value tool key from becoming 7 hot partitions at scale. The
  version-side explode is O(|versions| × n_buckets); when the version side
  is itself huge, the floor pre-pass dedups it to one row per (tool,
  bucket) first — versions ≪ facts in every real registry, so the
  simple explode is used here and the refinement documented.

RANGE JOIN (``incident_errors``). Deterministic per-tool incident windows
(synthesized from the stream's own ts bounds, below) are attributed the
error diagnostics whose ``ts_us ∈ [start_us, end_us)``. Graded plan:
broadcast the 8-row incident dim and equi-join on ``tool`` with the range
as a post-filter — a BroadcastHashJoin, never a nested loop, fact side
unshuffled.

DETERMINISTIC SYNTHESIS. The registry versions and incident windows are
derived from the transcript stream's own (min, max) epoch-microsecond
bounds so both engines compute identical dims with no external data:
version k of every tool goes live at ``lo + k·max(⌊(hi-lo)/4⌋, 1)``
(``greatest(…,1)`` keeps valid_from strictly increasing even on a
degenerate single-timestamp stream, so the floor pick is never ambiguous);
incident i ∈ 0..7 covers ``[lo + i·⌊(hi-lo)/8⌋, +⌊(hi-lo)/16⌋)`` on tool
``i % 7``. The bounds scan is synthesis-only — a production registry
carries real valid_from timestamps and the operators themselves are
single-scan over the fact side. Timestamps never appear in output
(they hash differently across engines — the _DIAG_COLS lesson): the
graded columns carry ``ts_us`` as BIGINT epoch-microseconds
(Spark ``unix_micros`` ≡ DuckDB ``epoch_us``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..transcripts import TOOL_REGISTRY_ROWS

N_REGISTRY_VERSIONS = 4
N_INCIDENTS = 8

# (tool, tool_idx, ver): the literal grid both engines expand against the
# stream's ts bounds. tool_idx is the TOOL_REGISTRY_ROWS position — it makes
# config_rev distinct per (tool, version) without hashing.
_REGISTRY_GRID = [
    (tool, idx, ver)
    for idx, (tool, _f, _v) in enumerate(TOOL_REGISTRY_ROWS)
    for ver in range(N_REGISTRY_VERSIONS)
]

_INCIDENT_ROWS = [
    (i, TOOL_REGISTRY_ROWS[i % len(TOOL_REGISTRY_ROWS)][0])
    for i in range(N_INCIDENTS)
]


def _ts_bounds(transcripts: DataFrame) -> DataFrame:
    """One row (lo, hi): epoch-microsecond bounds of the stream. Synthesis
    input only (see module docstring) — a pruned ts-column scan."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return transcripts.agg(F.min(us).alias("lo"), F.max(us).alias("hi"))


def _step(frac: int):
    """greatest(floor((hi-lo)/frac), 1) — strictly positive step width."""
    return F.greatest(
        F.floor((F.col("hi") - F.col("lo")) / F.lit(float(frac))).cast("long"),
        F.lit(1).cast("long"))


def registry_versions(transcripts: DataFrame) -> DataFrame:
    """(tool, registry_version, config_rev, valid_from_us): the versioned
    tool registry, 4 versions per tool going live at quarter-range steps."""
    spark = transcripts.sparkSession
    grid = spark.createDataFrame(
        _REGISTRY_GRID, "tool string, tool_idx int, ver int")
    # 28-row grid × 1-row bounds: broadcast literal-true join (as
    # similarity._assign joins the centroid row), never a shuffle.
    return (
        grid.join(F.broadcast(_ts_bounds(transcripts)), F.lit(True))
        .select(
            "tool",
            F.concat(F.lit("v"), (F.col("ver") + 1).cast("string"))
            .alias("registry_version"),
            ((F.col("ver") + 1) * 8 + F.col("tool_idx")).cast("int")
            .alias("config_rev"),
            (F.col("lo") + F.col("ver") * _step(N_REGISTRY_VERSIONS))
            .alias("valid_from_us"),
        )
    )


def asof_enrich_against(transcripts: DataFrame,
                        versions: DataFrame) -> DataFrame:
    """Broadcast floor-lookup against an explicit versioned registry
    ``(tool, registry_version, config_rev, valid_from_us)`` — the as-of
    core, shared by the batch query (synthesized registry) and the
    streaming enrich (stream-static join: ``versions`` must be static,
    ``transcripts`` may be a streaming DataFrame — everything here is a
    static-side aggregation plus a per-row projection, both
    streaming-legal)."""
    dim = (
        versions
        .groupBy("tool")
        .agg(F.sort_array(F.collect_list(F.struct(
            "valid_from_us", "registry_version", "config_rev"))).alias("vers"))
    )
    fact = transcripts.select(
        "conv_id", "turn_idx", "tool",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
    floor = F.try_element_at(
        F.filter("vers", lambda v: v["valid_from_us"] <= F.col("ts_us")),
        F.lit(-1))
    return (
        fact.join(F.broadcast(dim), "tool", "left")
        .withColumn("m", floor)
        .select(
            "conv_id", "turn_idx", "tool", "ts_us",
            F.col("m")["registry_version"].alias("registry_version"),
            F.col("m")["config_rev"].alias("config_rev"),
        )
    )


def asof_enrich(transcripts: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, tool, ts_us, registry_version, config_rev):
    each turn enriched with the registry version in force at its timestamp
    (floor over valid_from_us; NULL when no version predates the turn or
    the tool is unregistered). Broadcast floor-lookup plan — see module
    docstring."""
    return asof_enrich_against(transcripts, registry_versions(transcripts))


def asof_enrich_merge(transcripts: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Big-big as-of plan: bucketed union-merge (module docstring). Output
    is column-identical to :func:`asof_enrich`; tests assert row equality."""
    vers = registry_versions(transcripts)
    bounds = _ts_bounds(transcripts)
    bw = F.greatest(
        F.floor((F.col("hi") - F.col("lo")) / F.lit(float(n_buckets)))
        .cast("long"), F.lit(1).cast("long"))
    b_of = lambda c: F.least(  # noqa: E731 — local bucket expr
        F.floor((c - F.col("lo")) / F.col("bw")).cast("long"),
        F.lit(n_buckets - 1).cast("long"))

    fact = (
        transcripts.select(
            "conv_id", "turn_idx", "tool",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
        .join(F.broadcast(bounds.select("lo", bw.alias("bw"))), F.lit(True))
        .select(
            "conv_id", "turn_idx", "tool", "ts_us",
            b_of(F.col("ts_us")).alias("b"),
            F.lit(1).alias("is_fact"),
            F.lit(None).cast("string").alias("registry_version"),
            F.lit(None).cast("int").alias("config_rev"),
        )
    )
    # version side: replicate each version into every bucket from its own
    # onward, then compact each (tool, bucket) to in-bucket rows + the one
    # FLOOR row carried in from earlier buckets. O(|versions|·n_buckets) —
    # acceptable because versions ≪ facts; a huge version side would dedup
    # to per-bucket floors in a pre-pass instead.
    vrep = (
        vers.join(F.broadcast(bounds.select("lo", bw.alias("bw"))), F.lit(True))
        .withColumn("vb", b_of(F.col("valid_from_us")))
        .withColumn("b", F.explode(F.sequence(
            F.col("vb"), F.lit(n_buckets - 1).cast("long"))))
    )
    wmax = Window.partitionBy("tool", "b")
    vkeep = (
        vrep.withColumn(
            "floor_vf",
            F.max(F.when(F.col("vb") < F.col("b"), F.col("valid_from_us")))
            .over(wmax))
        .filter((F.col("vb") == F.col("b"))
                | (F.col("valid_from_us") == F.col("floor_vf")))
        .select(
            F.lit(None).cast("string").alias("conv_id"),
            F.lit(None).cast("int").alias("turn_idx"),
            "tool",
            F.col("valid_from_us").alias("ts_us"),
            "b", F.lit(0).alias("is_fact"),
            "registry_version", "config_rev",
        )
    )
    # version rows sort before fact rows at equal ts (is_fact asc):
    # inclusive valid_from boundary, same as the broadcast plan.
    w = (Window.partitionBy("tool", "b").orderBy("ts_us", "is_fact")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    merged = fact.unionByName(vkeep).select(
        "conv_id", "turn_idx", "tool", "ts_us", "is_fact",
        F.last("registry_version", ignorenulls=True).over(w)
        .alias("registry_version"),
        F.last("config_rev", ignorenulls=True).over(w).alias("config_rev"),
    )
    return merged.filter(F.col("is_fact") == 1).drop("is_fact")


def incident_windows(transcripts: DataFrame) -> DataFrame:
    """(incident_id, tool, start_us, end_us): 8 deterministic per-tool
    incident windows spanning the stream's ts range (module docstring)."""
    spark = transcripts.sparkSession
    grid = spark.createDataFrame(_INCIDENT_ROWS, "incident_id int, tool string")
    return (
        grid.join(F.broadcast(_ts_bounds(transcripts)), F.lit(True))
        .select(
            "incident_id", "tool",
            (F.col("lo") + F.col("incident_id") * _step(N_INCIDENTS))
            .alias("start_us"),
            (F.col("lo") + F.col("incident_id") * _step(N_INCIDENTS)
             + _step(2 * N_INCIDENTS)).alias("end_us"),
        )
    )


def incident_errors(transcripts: DataFrame, diags: DataFrame) -> DataFrame:
    """(incident_id, tool, n_errors): error diagnostics attributed to each
    incident window via broadcast range join (equi on tool, range as
    post-filter — BroadcastHashJoin, fact side unshuffled). Incidents with
    no errors keep their row with n_errors = 0."""
    inc = incident_windows(transcripts)
    err = (diags.filter(F.col("severity") == "error")
           .select("tool", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")))
    i = inc.select(F.col("incident_id").alias("i_id"),
                   F.col("tool").alias("i_tool"), "start_us", "end_us")
    hits = (
        err.join(
            F.broadcast(i),
            (F.col("tool") == F.col("i_tool"))
            & (F.col("ts_us") >= F.col("start_us"))
            & (F.col("ts_us") < F.col("end_us")))
        .groupBy("i_id").agg(F.count("*").alias("n"))
    )
    return (
        inc.join(F.broadcast(hits), inc["incident_id"] == hits["i_id"], "left")
        .select("incident_id", "tool",
                F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_errors"))
    )


# ---------------------------------------------------------------------------
# DuckDB twins
# ---------------------------------------------------------------------------

def _bounds_sql(table: str) -> str:
    return (f"SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi "
            f"FROM ({table}) bt")


def _step_sql(frac: int) -> str:
    return f"greatest(CAST(floor((b.hi - b.lo) / {float(frac)}) AS BIGINT), 1)"


def registry_versions_sql(table: str) -> str:
    """The b/v CTE pair (shared builder — the dsir hashed_features_sql
    convention: one source of truth per synthesis)."""
    vals = ", ".join(f"('{t}', {i}, {v})" for t, i, v in _REGISTRY_GRID)
    return f"""b AS MATERIALIZED ({_bounds_sql(table)}),
v AS MATERIALIZED (
  SELECT g.tool,
         'v' || CAST(g.ver + 1 AS STRING) AS registry_version,
         CAST((g.ver + 1) * 8 + g.tool_idx AS INTEGER) AS config_rev,
         b.lo + g.ver * {_step_sql(N_REGISTRY_VERSIONS)} AS valid_from_us
  FROM (VALUES {vals}) AS g(tool, tool_idx, ver), b
)"""


def asof_enrich_sql(table: str) -> str:
    """DuckDB as-of twin: left range join + max_by floor pick (max_by
    skips NULL order values, so unmatched turns yield NULL — verified
    against DuckDB's arg_max semantics)."""
    return f"""
WITH {registry_versions_sql(table)},
t AS MATERIALIZED (
  SELECT conv_id, turn_idx, tool, epoch_us(ts) AS ts_us FROM ({table}) tt
)
SELECT t.conv_id, t.turn_idx, t.tool, t.ts_us,
       max_by(v.registry_version, v.valid_from_us) AS registry_version,
       max_by(v.config_rev, v.valid_from_us) AS config_rev
FROM t LEFT JOIN v ON t.tool = v.tool AND v.valid_from_us <= t.ts_us
GROUP BY t.conv_id, t.turn_idx, t.tool, t.ts_us
"""


def incident_windows_sql(table: str) -> str:
    vals = ", ".join(f"({i}, '{t}')" for i, t in _INCIDENT_ROWS)
    return f"""b AS MATERIALIZED ({_bounds_sql(table)}),
inc AS MATERIALIZED (
  SELECT g.incident_id, g.tool,
         b.lo + g.incident_id * {_step_sql(N_INCIDENTS)} AS start_us,
         b.lo + g.incident_id * {_step_sql(N_INCIDENTS)}
           + {_step_sql(2 * N_INCIDENTS)} AS end_us
  FROM (VALUES {vals}) AS g(incident_id, tool), b
)"""


def incident_errors_sql(transcript_table: str, diag_select: str) -> str:
    """DuckDB range-join twin: LEFT JOIN keeps zero-error incidents;
    count(err.ts_us) counts only matched rows."""
    return f"""
WITH {incident_windows_sql(transcript_table)},
err AS MATERIALIZED (
  SELECT tool, epoch_us(ts) AS ts_us FROM ({diag_select}) dg
  WHERE severity = 'error'
)
SELECT inc.incident_id, inc.tool,
       CAST(count(err.ts_us) AS BIGINT) AS n_errors
FROM inc LEFT JOIN err
  ON err.tool = inc.tool
 AND err.ts_us >= inc.start_us AND err.ts_us < inc.end_us
GROUP BY inc.incident_id, inc.tool
"""
