"""Multi-dimensional data layout: Z-order (Morton) clustering.

A single-key sort gives perfect file skipping on that key and none on
any other; interleaving the bits of two keys (the Z-order curve) gives
every file a narrow range in BOTH dimensions, so min/max footer stats
prune scans for predicates on either key — the standard lakehouse
layout trick (Delta OPTIMIZE ZORDER, Iceberg sort orders) rebuilt from
first principles on vanilla parquet.

The z-value is pure integer bit math — ``sum_i ((a>>i & 1) << 2i) |
((b>>i & 1) << 2i+1)`` — statically expanded to a codegen-friendly
column expression, with a textual SQL mirror (``zvalue_sql``) so a
DuckDB oracle reproduces it bit-for-bit. No UDF, no shuffle beyond the
one range-partition that the rewrite itself is.

Scale shape: the layout rewrite is repartitionByRange(z) +
sortWithinPartitions(z) + write — exactly one shuffle over the table,
amortized across every later scan it prunes. Clustering quality (both
dims' per-file spans ~ sqrt of the single-sort span) is asserted in
tests/test_scale_features.py.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zvalue(col_a: Column, col_b: Column, bits: int = 12) -> Column:
    """Morton-interleave the low ``bits`` bits of two non-negative ints.

    Caller masks/normalizes inputs into [0, 2^bits); the expansion is
    2*bits shift/and terms OR-folded together — static, whole-stage
    codegen, identical structure to :func:`zvalue_sql`.
    """
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(col_a, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(
            F.shiftleft(F.shiftright(col_b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return reduce(lambda x, y: x.bitwiseOR(y), terms)


def zvalue_sql(a_expr: str, b_expr: str, bits: int = 12) -> str:
    """The same interleave as ANSI SQL text (DuckDB oracle mirror)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a_expr} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b_expr} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def zorder_rewrite(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bits: int = 12,
    num_files: int = 16,
) -> DataFrame:
    """Cluster ``df`` along the Z-curve of (col_a, col_b) into
    ``num_files`` range partitions (one output file each, sorted within).
    Inputs are masked into the curve's domain; callers with real key
    ranges should pre-scale instead of masking.

    Schema-preserving: the helper ``__z`` column is dropped
    after the range partition + sort — a trailing projection keeps
    within-partition order, so a caller can ``.write`` the result
    directly without persisting a non-schema column."""
    mask = (1 << bits) - 1
    z = zvalue(
        F.col(col_a).bitwiseAND(F.lit(mask)),
        F.col(col_b).bitwiseAND(F.lit(mask)),
        bits,
    ).alias("__z")
    return (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
