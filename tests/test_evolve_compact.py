"""Schema-evolution reads (sources/evolve.py) and small-file
compaction (sources/compact.py)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from healthcare_oltp_to_olap_gcp_spark.catalog import table
from healthcare_oltp_to_olap_gcp_spark.sources.compact import (
    compact,
    dir_stats,
    plan_compaction,
)
from healthcare_oltp_to_olap_gcp_spark.sources.evolve import (
    conform,
    read_conformed,
    read_evolved,
)

from .conftest import SF001
from .helpers import normalize, plan_nodes, plan_text

V2_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("quality_flag", T.StringType()),  # added in v2
    ]
)


def _write_two_generations(spark, path):
    events = table(spark, SF001, "events")
    v1 = events.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "value"
    )
    v2 = events.filter(F.col("event_id") % 2 == 1).select(
        "event_id",
        "user_id",
        F.col("value").cast("double").alias("value"),
        F.lit("ok").alias("quality_flag"),
    )
    v1.write.mode("append").parquet(path)
    v2.write.mode("append").parquet(path)
    return events


def test_read_evolved_merges_schemas(spark, tmp_path):
    path = str(tmp_path / "zone")
    events = _write_two_generations(spark, path)
    merged = read_evolved(spark, path)
    assert set(merged.columns) == {"event_id", "user_id", "value", "quality_flag"}
    assert merged.count() == events.count()
    # v1 rows surface NULL for the v2-only column
    nulls = merged.filter(F.col("quality_flag").isNull()).count()
    assert nulls == events.filter(F.col("event_id") % 2 == 0).count()


def test_read_conformed_contract_wins(spark, tmp_path):
    path = str(tmp_path / "zone")
    events = _write_two_generations(spark, path)
    got = read_conformed(spark, path, V2_SCHEMA)
    assert [f.name for f in got.schema.fields] == [f.name for f in V2_SCHEMA.fields]
    assert got.schema["value"].dataType == T.DoubleType()
    assert got.count() == events.count()


def test_conform_projection(spark):
    events = table(spark, SF001, "events").select(
        "event_id", "user_id", F.col("value").cast("float").alias("value"),
        "event_type",  # outside the contract -> dropped
    )
    out = conform(events, V2_SCHEMA)
    assert [f.name for f in out.schema.fields] == [f.name for f in V2_SCHEMA.fields]
    assert out.schema["value"].dataType == T.DoubleType()
    assert out.filter(F.col("quality_flag").isNotNull()).count() == 0
    # pure projection: no exchange in the plan
    assert plan_nodes(plan_text(out), r"\w*Exchange") == 0


def test_compact_reduces_files_preserves_content(spark, tmp_path):
    src = str(tmp_path / "small")
    dst = str(tmp_path / "compacted")
    events = table(spark, SF001, "events")
    events.repartition(64).write.parquet(src)
    n_in, total = dir_stats(spark, src)
    assert n_in == 64
    # pick a target that lands at ~4 output files for this corpus
    target = max(1, total // 4 + 1)
    planned = plan_compaction(spark, src, target)
    assert planned == (64, total, 4)
    n_out = compact(spark, src, dst, target)
    assert n_out == 4
    before = normalize(events.toPandas())
    after = normalize(spark.read.parquet(dst).toPandas())
    assert before == after


def test_compact_clustered_rowgroups(spark, tmp_path):
    src = str(tmp_path / "small")
    dst = str(tmp_path / "clustered")
    events = table(spark, SF001, "events")
    events.repartition(16).write.parquet(src)
    _, total = dir_stats(spark, src)
    n_out = compact(spark, src, dst, max(1, total // 2 + 1), cluster_by=("user_id",))
    assert n_out == 2
    # range-clustered: per-file user_id spans must not all overlap —
    # assert the files partition the key space (max of one file <= min
    # of some other, i.e. files are range-disjoint modulo boundaries)
    import pyarrow.parquet as pq
    import glob

    spans = []
    for f in sorted(glob.glob(dst + "/*.parquet")):
        t = pq.read_table(f, columns=["user_id"])
        col = t.column("user_id").to_pylist()
        spans.append((min(col), max(col)))
    spans.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2
    assert normalize(spark.read.parquet(dst).toPandas()) == normalize(
        events.toPandas()
    )
