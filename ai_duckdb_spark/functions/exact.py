"""Cross-engine exact aggregation of fixed-point measures.

Why this exists: the driver's correctness gate hash-compares our results
against a DuckDB oracle. Double-precision SUM/AVG are order-dependent, and
engines also disagree on how to round doubles (JVM shortest-repr
BigDecimal HALF_UP vs C multiply-and-round), so ``round(sum(x), 2)`` can
legitimately differ in the last digit between two correct engines.

The fix is the one real engines use for money: aggregate in an EXACT
domain. Fixture measures are fixed-point decimals (2-decimal money,
2-decimal rates — verified against the parquet data), so:

    per-row:   floor(expr * 10^s + 0.5) -> BIGINT
               -- exact integer "cents": expr's true value has <= s
               decimals, so expr*10^s is within 1 ulp of an integer and
               the +0.5/floor lands on it exactly (for negatives too —
               the argument is never exactly half-integer). This is pure
               double arithmetic: whole-stage-codegen-friendly, ~5x
               faster per fresh plan than per-row DECIMAL casts or the
               BigDecimal-backed round().
    sum:       SUM(BIGINT)              -- exact, order-free
    output:    CAST(sum AS DECIMAL(38,0)) / 10^s, CAST AS DOUBLE
               -- one exact decimal division PER GROUP (not per row),
               then the same nearest-double conversion DuckDB performs
               when casting its exact DECIMAL sum to DOUBLE. Converting
               via plain double division would diverge by 1 ulp once the
               cents sum exceeds 2^53; the decimal finisher never does.

AVG is that exact sum-as-double divided by the exact count — one IEEE
division of identical operands, hence identical bits on both sides.

DuckDB oracle mirror (sum_sql/avg_sql):

    CAST(CAST(sum(CAST(round(expr, s) AS DECIMAL(28, s))) AS VARCHAR) AS DOUBLE)

(bit-equality of the two formulations is covered by tests and was
verified at sf0.1. The VARCHAR round-trip matters above
2^53: DuckDB's direct DECIMAL→DOUBLE cast is not correctly rounded
there, while decimal→varchar→strtod is — the sf1.0 rehearsal caught
q1's sum_charge differing by 1 ulp, and Spark's value was the
correctly-rounded one.)

Bounds: the long-cents sum overflows at |sum| * 10^s >= 2^63 — at
petabyte scale with low-cardinality groups, switch those aggregates to
:func:`dec`-based decimal sums (exact at any scale, ~5x slower per row).

Corollary used throughout the query catalog: never re-round a value that
is already bit-identical across engines (integer ratios, exact-decimal
division results, min/max passthroughs) — final rounding is what CREATES
divergence, not what prevents it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def cents(col: Column | str, scale: int = 2) -> Column:
    """Exact integer fixed-point view (BIGINT) of a <= ``scale``-decimal measure."""
    return F.floor(_col(col) * (10**scale) + F.lit(0.5)).cast("long")


def _finish(cents_sum: Column, scale: int) -> Column:
    """Exact decimal division of the cents sum, then nearest-double cast."""
    return (cents_sum.cast("decimal(38,0)") / F.lit(10**scale).cast("decimal(20,0)")).cast(
        "double"
    )


def dec(col: Column | str, scale: int = 2) -> Column:
    """Per-row DECIMAL view — the unbounded-scale alternative to cents().

    Use inside window frames and wherever the 2^63/10^s cents bound could
    bind; costs per-row decimal conversion.
    """
    return F.round(_col(col), scale).cast(f"decimal(28,{scale})")


def exact_sum(col: Column | str, scale: int = 2) -> Column:
    """Order-free exact SUM, returned as double (bit-identical cross-engine)."""
    return _finish(F.sum(cents(col, scale)), scale)


def exact_avg(col: Column | str, scale: int = 2) -> Column:
    """Exact AVG: exact sum (as double) / non-null count, one IEEE division."""
    c = _col(col)
    return _finish(F.sum(cents(c, scale)), scale) / F.count(c)


def sum_sql(expr: str, scale: int = 2) -> str:
    """The DuckDB-side mirror of :func:`exact_sum` (for oracle strings).

    The DOUBLE conversion goes through a VARCHAR round-trip: the
    decimal→varchar cast is exact digits and varchar→double (strtod) is
    correctly rounded, whereas DuckDB's direct DECIMAL→DOUBLE cast
    drifts 1 ulp once the scaled integer exceeds 2^53 — the sf1.0
    rehearsal caught q1's sum_charge (4.5e16 micro-units) differing in
    the last bit from Spark's (correct) Decimal.toDouble. Below 2^53
    the two formulations are bit-identical (verified across the full
    catalog at sf0.01), so existing driver hashes are unchanged."""
    return (
        f"CAST(CAST(sum(CAST(round({expr}, {scale}) AS DECIMAL(28,{scale}))) "
        f"AS VARCHAR) AS DOUBLE)"
    )


def avg_sql(expr: str, scale: int = 2) -> str:
    """The DuckDB-side mirror of :func:`exact_avg` (for oracle strings)."""
    return f"{sum_sql(expr, scale)} / count({expr})"
