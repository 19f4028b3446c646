"""Table registry over the driver-provided parquet test data.

At cluster scale these would be external tables (partitioned parquet /
Iceberg); reads stay declarative (``spark.read.parquet``) so Catalyst
gets predicate pushdown, column pruning, and partition pruning for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Timestamp columns stored as TIMESTAMP(NANOS) in the test parquet;
# Spark reads them as epoch-nanos longs (legacy.parquet.nanosAsLong) and
# we convert to micros timestamps here (truncation, matching DuckDB).
TS_COLS = {
    "events": ("ts",),
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
}


def _ensure_session_confs(spark: SparkSession) -> None:
    """The driver may hand us an externally built SparkSession (no
    session.get_spark confs). Both confs below are runtime-settable and
    required for correct reads of the test data: nanos parquet support,
    and UTC so date extraction matches the naive-timestamp oracle."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # locked-down conf: fall back to whatever the session has


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in TS_COLS.get(name, ()):
        dt = df.schema[c].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        elif isinstance(dt, T.TimestampNTZType):
            # An externally built session (the driver's) can't pick up
            # nanosAsLong at runtime, so TIMESTAMP(NANOS) parquet arrives
            # as TIMESTAMP_NTZ. Cast to session-tz TIMESTAMP (UTC —
            # value-identical, nanos already truncated to micros) so
            # unix_micros()-based operators resolve on any session.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() use."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
