"""The engine's one k-minimum-values sketch (KMV; a theta sketch).

Per group keep the ``k`` smallest distinct hashes of the ids. Below
``k`` hashes the sketch holds the whole set and is exact; once it
saturates, its exclusive bound θ = k-th smallest + 1 scales the count
up. A union takes the ``k`` smallest of the inputs' hashes again, and
below θ = min θᵢ every input's membership is exact, which is what
intersection and difference need (Beyer et al., SIGMOD 2007; the theta
framework of Dasgupta et al., ICDT 2016).

Every distinct-count sketch, hash sample and theta set operation in
the package is built from the pieces here:

- ``hash32``: the first 8 md5 hex digits as a long, uniform on
  ``[0, HASH_DOMAIN)``. DuckDB computes the same digits, so every
  sketch, sample and estimate built on it is bit-reproducible by its
  oracle;
- ``bottom_k``: per group, the ``k`` smallest hashes, each row carrying
  its group's bound ``theta_int`` (``HASH_DOMAIN`` while exact);
- ``below_theta`` and ``union``: the candidates of every set operation,
  with per-hash side-membership aggregates, and their union re-capped
  to ``k``;
- ``bounds``: per group ``(sketch_size, theta_int)``;
- the two estimators: KMV's ``(k − 1)/θ`` and theta's ``|S|/θ``.

Everything after the first distinct runs on at most (groups × k) rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .rank import top_k

# Exclusive upper bound of ``hash32``: the theta_int of an exact sketch.
HASH_DOMAIN = 1 << 32
# The hash column of every sketch frame.
U = "u"


def hash32(col: Column | str) -> Column:
    """The first 8 hex digits of md5(col as string), as a long."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")


def hash_unit(col: Column | str) -> Column:
    """``(hash32 + 1) / 2^32``: a deterministic uniform on (0, 1]."""
    return (hash32(col) + 1) / F.lit(float(HASH_DOMAIN))


def hash_sample(
    rows: DataFrame, by: Sequence[str | Column], id_col: str, k: int
) -> DataFrame:
    """Per ``by`` group, the ``k`` rows with the smallest hash32(id_col),
    ties on id_col: a uniform sample whose merge is lossless (a row in
    the bottom k of a union is in the bottom k of its own part)."""
    return top_k(rows, by, (hash32(id_col), F.col(id_col)), k)


def bottom_k(
    hashes: DataFrame, by: Sequence[str], k: int, ceiling: str | None = None
) -> DataFrame:
    """Per ``by`` group of ``hashes`` (one row per distinct (by…, u)),
    the ``k`` smallest ``u``, each row with its group's exclusive bound
    ``theta_int``: ``ceiling`` (a column; ``HASH_DOMAIN`` by default)
    while the group keeps fewer than ``k`` hashes, else the smaller of
    it and the k-th smallest + 1. Other columns ride along. The bound
    is a window over the cut's own partitioning, so it costs no
    shuffle."""
    kept = top_k(hashes, by, [U], k)
    w = Window.partitionBy(*by)
    cap = F.col(ceiling) if ceiling else F.lit(HASH_DOMAIN)
    return kept.withColumn(
        "theta_int",
        F.when(F.count("*").over(w) < k, cap).otherwise(
            F.least(cap, F.max(U).over(w) + 1)
        ),
    )


def member(pred: Column) -> Column:
    """Per-hash flag for ``below_theta``: 1 iff one of the hash's set
    rows satisfies ``pred``, else 0."""
    return F.max(F.when(pred, 1).otherwise(0))


def below_theta(sketch: DataFrame, by: Sequence[str], *aggs: Column) -> DataFrame:
    """Per ``by`` group of ``sketch`` rows (by…, u, theta_int; one or
    more sets), the distinct hashes below θ = the group's smallest
    theta_int: rows (by…, u, theta_int = θ, _sides, *aggs) with
    ``_sides`` the number of the group's sets holding the hash. Below θ
    membership is exact (a hash < θ ≤ θᵢ is in set i's bottom k iff it
    is in set i), so these are the candidates of union, intersection
    and difference. A group with any rows keeps at least one."""
    w = Window.partitionBy(*by)
    return (
        sketch.withColumn("_tmin", F.min("theta_int").over(w))
        .filter(F.col(U) < F.col("_tmin"))
        .groupBy(*by, U, F.col("_tmin").alias("theta_int"))
        .agg(F.count("*").alias("_sides"), *aggs)
    )


def union(sketch: DataFrame, by: Sequence[str], k: int, *aggs: Column) -> DataFrame:
    """Per ``by`` group, the union of its sets as one sketch: the ``k``
    smallest hashes below θ = min θᵢ, with θ tightened to the cap when
    it binds. For sketches from ``bottom_k`` that is exactly the bottom
    k of the union of the sets, so a union of daily sketches equals the
    direct sketch. Rows keep ``below_theta``'s columns."""
    return bottom_k(below_theta(sketch, by, *aggs), by, k, ceiling="theta_int")


def bounds(sketch: DataFrame, by: Sequence[str], *aggs: Column) -> DataFrame:
    """Per ``by`` group (one row overall when ``by`` is empty, also on no
    input): ``sketch_size`` (the row count, a long), ``theta_int`` and
    ``aggs``."""
    return sketch.groupBy(*by).agg(
        F.count("*").cast("long").alias("sketch_size"),
        F.min("theta_int").alias("theta_int"),
        *aggs,
    )


def theta_unit(theta_int: Column) -> Column:
    """θ on (0, 1]: the bound as a fraction of the hash domain."""
    return theta_int / F.lit(float(HASH_DOMAIN))


def kmv_estimate(size: Column, theta_int: Column, k: int) -> Column:
    """KMV's distinct count, unrounded: (k − 1)/θ once the sketch is
    saturated, its exact size below k."""
    return F.when(size < k, size.cast("double")).otherwise(
        F.lit(float(k - 1)) / theta_unit(theta_int)
    )


def theta_estimate(size: Column, theta_int: Column, alias: str) -> list[Column]:
    """Theta's estimate of a set with ``size`` retained hashes:
    ``theta`` (θ to 10 places) and ``alias`` (|S|/θ to 4 places)."""
    unit = theta_unit(theta_int)
    return [F.round(unit, 10).alias("theta"), F.round(size / unit, 4).alias(alias)]
