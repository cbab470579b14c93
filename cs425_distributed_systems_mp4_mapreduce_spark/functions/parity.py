"""Parity-safe aggregation: bit-identical results on Spark and DuckDB.

Problem: double summation is order-dependent; Spark (partial aggs over
32 shuffle partitions) and DuckDB (its own morsel parallelism) add in
different orders, so SUM(double) differs in the last ulps and *any*
fixed rounding has a cliff at the quantum boundary.

Solution used across every declared query: aggregate in DECIMAL —
exact, associative, order-independent — then cast the finished sum back
to DOUBLE.  Both engines convert the same exact decimal to the same
nearest double, so results are bit-identical with NO tolerance:

    Spark : F.sum(col.cast("decimal(18,6)")).cast("double")
    DuckDB: CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)

Per-row double arithmetic (e.g. price*(1-disc)*(1+tax)) is already
bit-identical across engines (same IEEE-754 ops in the same order), so
only *aggregation* needs the decimal detour.  Derived stats (avg,
stddev) are rebuilt from exact sums with identical double post-ops on
both sides.

DECIMAL(18,6) fits |x| < 1e12 at µ-precision 1e-6 — ample for every
testdata column (prices ~1e5, values ~1e3); sums promote to wider
decimals (Spark 28,6 / DuckDB 38,6) so 100 TB-scale row counts do not
overflow either.  Precision 18 is deliberate: it is the widest decimal
Spark backs with a plain Long (precision 19+ switches the hot
aggregation loop to Int128/BigDecimal), so the parity detour stays
cheap across all ~150 oracled queries.  The domain bound is ENFORCED
loudly, not silently: under ANSI mode (Spark 4 default) a per-row
value ≥ 1e12 raises NUMERIC_VALUE_OUT_OF_RANGE instead of corrupting
the sum with a NULL (verified by tests/test_events_adversarial.py's
in-domain-outlier choice; a 1e12 probe value fails the job with a
clear error naming this cast).  Columns that can legitimately exceed
the domain should aggregate doubles and ROUND(·,4) instead — the
other sanctioned parity pattern.

Two callers, two accumulators.  The oracle checks (the
__spark_entry__.py contract, scripts/t2_sweep.py and
tests/test_parity.py) compare results against DuckDB bit for bit, so
they need the exact decimal sums above.  bench.py compares wall time
against the vanilla PySpark baseline (BASELINE.md), which sums
doubles; timing the decimal detour there would price cross-engine
hash equality, not the query (2-5x on aggregation-heavy shapes).
:func:`double_sums` scopes the choice: inside it, :func:`dsum`,
:func:`davg`, :func:`dsum_over` and the two-phase pair build plain
double ``F.sum``/``F.avg``; outside it they build the exact form.  The
query definition is the same either way, and
tests/test_bench_variants.py checks the two forms agree within
float-summation noise.
"""

from __future__ import annotations

import contextlib
from contextvars import ContextVar

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

DEC = "decimal(18,6)"

_DOUBLE_SUMS: ContextVar[bool] = ContextVar("double_sums", default=False)


@contextlib.contextmanager
def double_sums():
    """Build queries with plain double accumulators while active (see
    the module docstring).  Only DataFrame *construction* reads the
    setting, so build the query inside the block; the plan it returns
    keeps its accumulators wherever it is executed.  Also usable as a
    decorator: ``double_sums()(spec.fn)``."""
    token = _DOUBLE_SUMS.set(True)
    try:
        yield
    finally:
        _DOUBLE_SUMS.reset(token)


def _col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _dec2dbl(c: Column) -> Column:
    """decimal → double via a string detour.

    A direct decimal→double cast is NOT correctly rounded in DuckDB
    once the scaled integer exceeds 2^53 (int128 → double → ÷10^scale
    = two roundings; observed 1-ulp divergence from Spark's BigDecimal
    cast at sums ~1.8e12 with scale 4).  decimal→string is exact and
    string→double is correctly rounded (strtod / Double.parseDouble)
    in both engines, so the detour is deterministic at any magnitude.
    """
    return c.cast("string").cast("double")


def o_dec2dbl(expr: str) -> str:
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


def dsum(col: Column | str, alias: str | None = None) -> Column:
    """Exact order-independent sum of a double column, returned as double."""
    c = _col(col)
    out = F.sum(c) if _DOUBLE_SUMS.get() else _dec2dbl(F.sum(c.cast(DEC)))
    return out.alias(alias) if alias else out


def davg(col: Column | str, alias: str | None = None) -> Column:
    """avg = exact-decimal sum / count — deterministic double division."""
    c = _col(col)
    out = F.avg(c) if _DOUBLE_SUMS.get() else _dec2dbl(F.sum(c.cast(DEC))) / F.count(c)
    return out.alias(alias) if alias else out


def dsum_partial(col: Column | str, alias: str) -> Column:
    """First phase of a two-phase exact sum: the decimal partial, NOT
    yet converted to double.  Re-aggregate the partials with
    :func:`dsum_of_partials`, which converts once at the end — a sum of
    exact partials is the exact total, so the result is bit-identical
    to one :func:`dsum` over the raw rows."""
    c = _col(col)
    return (F.sum(c) if _DOUBLE_SUMS.get() else F.sum(c.cast(DEC))).alias(alias)


def dsum_of_partials(col: Column | str, alias: str) -> Column:
    """Second phase of :func:`dsum_partial`: sum the partials, then one
    decimal → double conversion."""
    c = _col(col)
    return (F.sum(c) if _DOUBLE_SUMS.get() else _dec2dbl(F.sum(c))).alias(alias)


def dsum_over(col: Column | str, window: WindowSpec, alias: str) -> Column:
    """Exact windowed sum of a money column: the frame accumulates in
    decimal at the money scale of 2 digits, then casts the frame total
    to double directly.  Oracle twin:
    ``CAST(SUM(CAST(x AS DECIMAL(18,2))) OVER (...) AS DOUBLE)``."""
    c = _col(col)
    if _DOUBLE_SUMS.get():
        return F.sum(c).over(window).alias(alias)
    return F.sum(c.cast("decimal(18,2)")).over(window).cast("double").alias(alias)


def dstddev_cols(col: Column | str, data_scale: int = 2) -> tuple[Column, Column, Column]:
    """(Σx, Σx², n) with exact decimal sums — building blocks for a
    deterministic sample stddev; combine with :func:`stddev_from`.

    The square is computed IN decimal (cast the raw value first, then
    multiply exactly).  Casting the double product x*x instead is a
    trap: squares of scale-2 money values sit exactly on the scale-4
    grid where the double is ~1 ulp away, and Spark/DuckDB break the
    cast tie differently (observed: one flipped quantum in 15k rows).
    ``data_scale`` = decimal digits of the raw column (2 for money).
    """
    c = _col(col)
    xd = c.cast(f"decimal(18,{data_scale})")
    sx = _dec2dbl(F.sum(xd))
    sx2 = _dec2dbl(F.sum(xd * xd))
    n = F.count(c)
    return sx, sx2, n


def stddev_from(sx: Column, sx2: Column, n: Column) -> Column:
    """Sample stddev from exact sums; identical IEEE ops on both sides.
    Clamps tiny negative variance from cancellation to 0.  NULL for
    n ≤ 1, matching builtin stddev_samp — the unguarded (n-1) division
    aborts the whole job under Spark 4 ANSI mode the moment any group
    has exactly one row (review r12; :func:`o_dstddev` guards
    identically so the parity contract is unchanged)."""
    var = (sx2 - sx * sx / n) / (n - F.lit(1))
    return F.when(n > 1, F.sqrt(F.greatest(var, F.lit(0.0))))


# ---------------------------------------------------------------- oracle (DuckDB SQL) twins

def o_dsum(expr: str, alias: str) -> str:
    return o_dec2dbl(f"SUM(CAST(({expr}) AS DECIMAL(18,6)))") + f" AS {alias}"


def s_dsum(expr: str, alias: str) -> str:
    """Spark-SQL-dialect twin of :func:`o_dsum` (STRING, not VARCHAR —
    Spark's parser requires a length on VARCHAR)."""
    return (
        f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS STRING) AS DOUBLE)"
        f" AS {alias}"
    )


def o_davg(expr: str, alias: str) -> str:
    return (
        o_dec2dbl(f"SUM(CAST(({expr}) AS DECIMAL(18,6)))")
        + f" / COUNT({expr}) AS {alias}"
    )


def o_dstddev(expr: str, alias: str, data_scale: int = 2) -> str:
    xd = f"CAST(({expr}) AS DECIMAL(18,{data_scale}))"
    sx = o_dec2dbl(f"SUM({xd})")
    sx2 = o_dec2dbl(f"SUM({xd} * {xd})")
    n = f"COUNT({expr})"
    # CASE n > 1 mirrors stddev_from's NULL-for-singleton-group guard
    return (
        f"CASE WHEN {n} > 1 THEN "
        f"SQRT(GREATEST(({sx2} - {sx}*{sx}/{n}) / ({n} - 1), 0.0)) "
        f"ELSE NULL END AS {alias}"
    )
