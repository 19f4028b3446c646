"""The engine's one top-k cut: ``ROW_NUMBER() OVER (PARTITION BY by
ORDER BY order)`` kept at ``<= k``.

Every dedup survivor (k=1 per key), ANN/BM25 result list, candidate
cut and sketch retention in this package goes through ``top_k``. For
``k`` up to ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000 by
default) Spark plans the filter on the raw row number as a
``WindowGroupLimit`` (Partial before the shuffle, Final after it) under
the ``Window``, so each partition ships at most ``k`` rows per group. A
change to how the engine cuts (e.g. partition-local top-k plus one
global threshold) is made here once.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_RN = "_top_k_rn"


def top_k(
    df: DataFrame,
    by: Sequence[str | Column],
    order: Sequence[str | Column],
    k: int,
    rank: str | None = None,
) -> DataFrame:
    """The first ``k`` rows of ``df`` per ``by`` group under ``order``.

    ``by`` may be empty (one global ranking) or hold Column expressions.
    Ties are whatever ``order`` leaves open, so callers end it on a
    unique column. With ``rank`` the 1-based row number is kept as a
    long column of that name; by default it is dropped."""
    w = Window.partitionBy(*by).orderBy(*order)
    rn = rank or _RN
    kept = df.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) <= k)
    if rank is None:
        return kept.drop(rn)
    return kept.withColumn(rank, F.col(rank).cast("long"))
