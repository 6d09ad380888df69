"""Cross-engine-portable decimal rounding and summation.

Spark's ``round()`` on DOUBLE re-parses the shortest decimal string into a
BigDecimal and applies HALF_UP; DuckDB rounds the scaled binary double.
For ratios whose double value straddles a decimal half (57/800 = 0.07125)
the two land on opposite sides of the boundary — a latent value-hash
mismatch on any dataset that produces such a ratio (brute force finds 21
k/n pairs below n=1200 for 4 decimals).

``portable_round`` uses floor(x * 10^p + 0.5) / 10^p instead: every step
is plain IEEE754 double arithmetic, bit-identical in Spark, DuckDB, and
Python, so both engines round the same double to the same double by
construction. Semantics: half-up toward +infinity — identical to HALF_UP
for non-negative inputs (every use in this repo is a non-negative ratio /
percentage / duration; cosine similarity may be negative, where the two
engines still agree with each other, which is the property the gate
needs). Scale limit: |x| * 10^p must stay within 2^53 for the arithmetic
to be exact — true for all uses here (ratios ≤ 1 at p ≤ 9, microsecond
durations ≲ 1e7 at p = 6).

The one summation rule: a float total that both engines must agree on is
``exact_sum`` / ``exact_sum_sql`` — each term is scaled to integer
nano-units, floor(x * 10^9 + 0.5), the BIGINT units are summed, and the
total is divided by 10^9 once. That is the exact sum of
``portable_round(x, 9)`` over the group. Integer addition is associative,
so the result does not depend on partitioning, input order or engine, and
the aggregate is a plain hash aggregate that combines before the shuffle.
Bound: the engines are bit-equal while |Σ| · 10^9 < 2^53, i.e.
|Σ| < 9.0e6 — the long-to-double conversion is exact there, and the single
division by 10^9 is correctly rounded in Spark, DuckDB and Python. Past
9.2e18 nano-units Spark's ANSI long sum raises instead of wrapping.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

_NANO = 10 ** 9


def portable_round(col: Column, p: int) -> Column:
    scale = 10 ** p
    return F.floor(col * scale + F.lit(0.5)) / scale


def portable_round_sql(expr: str, p: int) -> str:
    scale = 10 ** p
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


def exact_sum(col: Column) -> Column:
    """Aggregate: the exact sum of ``portable_round(col, 9)`` over the group."""
    return F.sum(F.floor(col * _NANO + F.lit(0.5))) / _NANO


def exact_sum_sql(expr: str) -> str:
    """DuckDB twin of :func:`exact_sum`."""
    return (f"CAST(sum(CAST(floor(({expr}) * {_NANO} + 0.5) AS BIGINT))"
            f" AS DOUBLE) / {_NANO}")
