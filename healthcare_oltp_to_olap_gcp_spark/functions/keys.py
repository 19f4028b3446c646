"""Surrogate-key and typing helpers shared by the star-schema plans.

Reference parity: the reference derives surrogate keys as
``TO_HEX(SHA256(x))`` (see /root/reference/sql/bq_dim_patient.sql:6).
Spark's ``sha2(col, 256)`` produces the same lowercase hex digest, fully
JVM-side (whole-stage codegen, no UDF).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def surrogate_key(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c.cast("string"), 256)


def money_sum(expr: Column) -> Column:
    """Deterministic money aggregate: per-row cast to DECIMAL(18,8),
    then exact decimal SUM — order- and partitioning-independent, unlike
    double sums. Scale 8 sits two digits below the true decimal precision
    of price arithmetic (≤6 digits) but far above double noise, so every
    engine rounds the per-row double to the same grid point regardless of
    its double→decimal rounding method. The final cast to double maps the
    one exact decimal to the one nearest double — bit-identical across
    engines, plain float64 schema.
    """
    return F.sum(expr.cast("decimal(18,8)")).cast("double")


ZORDER_BITS = 21


def hash_bits(col: Column | str, bits: int = ZORDER_BITS) -> Column:
    """The low ``bits`` of a surrogate key's leading hex digits as a
    non-negative int — the numeric bit source Z-ordering interleaves.
    Hash keys are uniform, so any fixed prefix is an unbiased
    clustering coordinate."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(c, 1, 8), 16, 10).cast("long") % F.lit(1 << bits)
    ).cast("long")


def zorder_key(x: Column, y: Column, bits: int = ZORDER_BITS) -> Column:
    """Morton (Z-order) interleave of two ``bits``-wide non-negative
    ints: bit i of x lands at position 2i, bit i of y at 2i+1. Sorting
    by this key clusters BOTH dimensions at once — each parquet row
    group covers a quad block of the (x, y) plane, so min/max stats
    prune point/range predicates on x OR y roughly ∝ √(row groups),
    where a lexicographic (x, y) sort prunes only x (every file spans
    the full y range). Pure bit arithmetic — stays in codegen."""
    one = F.lit(1).cast("long")
    acc = F.lit(0).cast("long")
    for i in range(bits):
        acc = acc.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(one), 2 * i)
        ).bitwiseOR(F.shiftleft(F.shiftright(y, i).bitwiseAND(one), 2 * i + 1))
    return acc
