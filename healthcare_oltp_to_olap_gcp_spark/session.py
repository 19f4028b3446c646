"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); on a
real cluster the same confs apply, with ``spark.sql.shuffle.partitions``
raised to ~2-3x total executor cores. AQE is on so shuffle partition
counts and skew handling re-plan at runtime, which is what makes the
same code hold from sf0.001 up to 100 TB.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from contextvars import ContextVar
from typing import Any, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

# Auto-broadcast threshold of the engine's sessions (see get_spark).
BROADCAST_THRESHOLD = "64m"


def get_spark(app_name: str = "hc-olap-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or cpus
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime coalescing, skew-join splitting, join-strategy swap.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # r9 (guide §3.1): raise the broadcast threshold from the 10 MB
        # default so moderate build sides (e.g. part_triangles' 1.2M-row
        # closing-edge list, ~19 MB) hash-join without shuffling the
        # much larger probe side. Size-ADAPTIVE, not a force: a side
        # whose (runtime, with AQE) size exceeds the threshold still
        # sort-merge-joins, so the same code holds at cluster scale.
        # A deployment sizes it to executor memory by setting both
        # confs on its session at runtime (a few hundred MB is routine
        # on 10s-of-GB executors, guide §3.1).
        .config("spark.sql.autoBroadcastJoinThreshold", BROADCAST_THRESHOLD)
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", BROADCAST_THRESHOLD)
        # Generated-class cache sized to the engine's working set (static
        # conf). A refresh cycle needs ~90 classes, a curation pass ~166
        # and bm25_wand_topk alone 107; with Spark's default of 100
        # entries the LRU cache evicts every class before its next use,
        # so each cycle recompiles all of them in Janino (~6 ms each) and
        # the JVM JITs the new bytecode again. 1000 entries hold both.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # No Python call-site capture on DataFrame/Column calls. PySpark 4
        # wraps every F.*/Column call to record its file:line for error
        # messages, at ~10 py4j round trips per call (active session, JVM
        # class lookup, a conf read, origin set and clear) plus a stack
        # walk. Building simhash_dup_pairs made 8,983 round trips with it
        # on and 2,533 off; building all 239 registry queries at sf0.001,
        # 489k vs 202k (tools/build_cost.py). Errors keep Spark's error
        # class and SQL query context; only the Python "DataFrame"
        # file:line fragment goes.
        # PySpark reads this once per process, at the first wrapped call,
        # so it must be set when the session is built.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Arrow for the few Pandas-UDF operators (multimodal, winnowing).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic date/timestamp math across engines (DuckDB oracle
        # works on naive timestamps).
        .config("spark.sql.session.timeZone", "UTC")
        # The driver test data stores TIMESTAMP(NANOS) parquet, which the
        # vectorized reader rejects; read as epoch-nanos longs and convert
        # in catalog.table (truncation to micros — same as DuckDB).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Warehouse for bucketed saveAsTable materializations (static conf).
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/hc_olap_warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


class QueryScope:
    """The cached frames and memoized values of one top-level query build.

    Query builders persist intermediates that feed several subtrees of
    ONE returned plan (e.g. a report's corpus feeding every method).
    Builders return lazy frames that their callers run later, so the
    cache must outlive the builder call; it is released when the next
    top-level build starts (see ``scoped``). Releasing early is always
    safe — an unpersisted frame recomputes, it never returns wrong data.

    ``memo`` keys hold their source DataFrame objects themselves, so a
    value built from one corpus can never be returned for another."""

    def __init__(self) -> None:
        self.open = False
        self._frames: list[DataFrame] = []
        self._memo: dict = {}

    def persist(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` until this scope is released. Spark's cache
        manager matches cached frames by plan, so every later subtree
        that rebuilds the same plan reads this copy: a multi-method
        builder persists a shared input once and its methods need not
        be handed the persisted object."""
        self._frames.append(df)
        return df.persist()

    def memo(self, key: tuple, build: Callable[[], Any]) -> Any:
        """``build()`` once per ``key`` in this scope; ``None`` counts."""
        if key not in self._memo:
            self._memo[key] = build()
        return self._memo[key]

    def release(self) -> None:
        for df in self._frames:
            try:
                df.unpersist()
            except Exception:
                pass
        self._frames.clear()
        self._memo.clear()


_SCOPE: ContextVar[QueryScope | None] = ContextVar("query_scope", default=None)


def query_scope() -> QueryScope:
    """The scope of the builder being built; outside any builder, the
    most recent top-level scope (frames persisted there are released
    with it)."""
    scope = _SCOPE.get()
    if scope is None:
        scope = QueryScope()
        _SCOPE.set(scope)
    return scope


def scoped(builder: Callable[..., T]) -> Callable[..., T]:
    """Run ``builder`` in a query scope. A call nested in another scoped
    builder joins its open scope; a top-level call first releases the
    previous top-level scope, so a sequential registry sweep holds at
    most one query's cached blocks."""

    @functools.wraps(builder)
    def run(*args, **kwargs):
        scope = _SCOPE.get()
        if scope is not None and scope.open:
            return builder(*args, **kwargs)
        if scope is not None:
            scope.release()
        scope = QueryScope()
        _SCOPE.set(scope)
        scope.open = True
        try:
            return builder(*args, **kwargs)
        finally:
            scope.open = False

    return run
