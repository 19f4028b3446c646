"""Structured Streaming pipeline: availableNow drain over the events
parquet must equal the batch tumbling aggregate."""

from __future__ import annotations

import shutil

import pytest

from healthcare_oltp_to_olap_gcp_spark.catalog import table
from healthcare_oltp_to_olap_gcp_spark.plans.analytics import events_hourly
from healthcare_oltp_to_olap_gcp_spark.sources.factstore import VersionedParquetStore
from healthcare_oltp_to_olap_gcp_spark.streaming import pipeline

from .conftest import SF001
from .helpers import normalize


def _raw_ts_expr() -> str:
    """Unit-aware conversion for reading the ts column as raw longs:
    the driver's test parquet has stored TIMESTAMP as nanos in some
    rounds and micros in others — derive the epoch unit from the file
    instead of hard-coding it."""
    import pyarrow.parquet as pq

    unit = str(pq.read_schema(f"{SF001}/events.parquet").field("ts").type)
    return (
        "timestamp_micros(ts div 1000)"
        if unit == "timestamp[ns]"
        else "timestamp_micros(ts)"
    )


TS_EXPR = _raw_ts_expr()


def test_stream_equals_batch(spark, tmp_path):
    # Stage the source file into a stream-watchable directory. The
    # stream schema reads the raw nanos longs, so convert like catalog.
    src = tmp_path / "events_stream"
    src.mkdir()
    shutil.copy(f"{SF001}/events.parquet", src / "part-0.parquet")

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    raw_schema = StructType(
        [f if f.name != "ts" else StructField("ts", LongType()) for f in pipeline.EVENTS_SCHEMA.fields]
    )
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(str(src))
        .withColumn("ts", F.expr(TS_EXPR))
    )
    agg = pipeline.hourly_agg_stream(stream)
    got = pipeline.drain_memory_sink(agg, "t_hourly", "complete")

    want = events_hourly(table(spark, SF001, "events"))
    assert normalize(got.toPandas()) == normalize(want.toPandas())


def test_stream_dedups_replayed_file(spark, tmp_path):
    # The same file delivered twice (replication overlap) must not
    # change the aggregate: dropDuplicates on event_id absorbs it.
    src = tmp_path / "events_stream2"
    src.mkdir()
    shutil.copy(f"{SF001}/events.parquet", src / "part-0.parquet")
    shutil.copy(f"{SF001}/events.parquet", src / "part-1.parquet")

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    raw_schema = StructType(
        [f if f.name != "ts" else StructField("ts", LongType()) for f in pipeline.EVENTS_SCHEMA.fields]
    )
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.expr(TS_EXPR))
    )
    got = pipeline.drain_memory_sink(
        pipeline.hourly_agg_stream(stream), "t_hourly2", "complete"
    )
    want = events_hourly(table(spark, SF001, "events"))
    assert normalize(got.toPandas()) == normalize(want.toPandas())


def test_stateful_running_totals(spark, tmp_path):
    # Two disjoint halves -> two micro-batches; state must carry totals
    # across batches so the final update per user equals the batch agg.
    import glob

    from pyspark.sql import functions as F

    events = table(spark, SF001, "events")
    src = tmp_path / "events_state"
    src.mkdir()
    for i, half in enumerate(
        (events.filter(F.col("event_id") < 500), events.filter(F.col("event_id") >= 500))
    ):
        out_dir = tmp_path / f"half{i}"
        half.coalesce(1).write.parquet(str(out_dir))
        shutil.copy(glob.glob(f"{out_dir}/part-*.parquet")[0], src / f"batch-{i}.parquet")

    stream = (
        spark.readStream.schema(pipeline.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = pipeline.drain_memory_sink(
        pipeline.running_user_totals(stream), "t_state", "update"
    )
    import pandas as pd

    latest = (
        out.toPandas()
        .groupby("user_id")
        .last()  # update mode appends; last row per user is final state
    )
    batch = (
        table(spark, SF001, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .toPandas()
        .set_index("user_id")
    )
    for uid, row in batch.iterrows():
        assert latest.loc[uid, "total_events"] == row["n"]
        assert abs(latest.loc[uid, "total_value"] - round(row["v"], 4)) < 0.01


def test_foreach_batch_incremental_fact_equals_batch(spark, tmp_path):
    """Micro-batched foreachBatch MERGE into the versioned fact store
    must converge to exactly the batch fact_events result, across
    multiple triggers (maxFilesPerTrigger=4 over 8 files)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from healthcare_oltp_to_olap_gcp_spark.plans.star import fact_events

    src = tmp_path / "events_stream3"
    src.mkdir()
    # split the source into several files so availableNow runs >1 batch,
    # with one file duplicated (replication overlap)
    events = table(spark, SF001, "events")
    events.repartition(7).write.mode("overwrite").parquet(str(src))
    dup = sorted(p for p in src.iterdir() if p.name.endswith(".parquet"))[0]
    shutil.copy(dup, src / "dup-copy.parquet")

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(str(src))
    )
    store = str(tmp_path / "fact_store")
    q = pipeline.incremental_fact_sink(stream, store)
    q.awaitTermination()

    got = VersionedParquetStore(store).read(spark)
    want = fact_events(events)
    assert normalize(got.toPandas()) == normalize(want.toPandas())


def test_fact_sink_through_store_interface(spark, tmp_path):
    """The sink is storage-pluggable through ``store=``: an explicitly
    passed store receives every micro-batch merge with the star dedup
    key/order, and an instrumented wrapper proves the calls flow
    through it — the seam a lakehouse store plugs into."""
    from healthcare_oltp_to_olap_gcp_spark.plans.star import fact_events

    src = tmp_path / "events_stream_iface"
    src.mkdir()
    events = table(spark, SF001, "events")
    events.repartition(5).write.mode("overwrite").parquet(str(src))

    calls = []

    class SpyStore(VersionedParquetStore):
        def merge(self, delta, key, order, batch_id):
            calls.append((key, len(order), batch_id))
            super().merge(delta, key, order, batch_id)

    store_dir = str(tmp_path / "fact_store_iface")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(str(src))
    )
    q = pipeline.incremental_fact_sink(
        stream, store_dir, store=SpyStore(store_dir)
    )
    q.awaitTermination()

    assert len(calls) >= 2  # several micro-batches flowed through
    assert all(key == "event_id" and n_order >= 2 for key, n_order, _ in calls)
    got = VersionedParquetStore(store_dir).read(spark)
    assert normalize(got.toPandas()) == normalize(
        fact_events(events).toPandas()
    )


def test_versioned_store_prunes_to_retained_versions(spark, tmp_path):
    """Three merges leave exactly RETAIN_VERSIONS ``v=`` snapshots; the
    read is the newest one, holding the newest row per key across all
    three deltas."""
    from pyspark.sql import functions as F

    store = VersionedParquetStore(str(tmp_path / "store"))
    order = (F.col("ts").desc(),)
    for batch_id, rows in enumerate(
        [[(1, 10, "a"), (2, 10, "a")], [(1, 20, "b")], [(2, 30, "c"), (3, 5, "c")]],
        start=1,
    ):
        delta = spark.createDataFrame(rows, "event_id long, ts long, tag string")
        store.merge(delta, "event_id", order, batch_id)

    kept = sorted(p.name for p in (tmp_path / "store").iterdir())
    assert len(kept) == VersionedParquetStore.RETAIN_VERSIONS
    assert kept[-1] == "v=3"
    got = sorted(tuple(r) for r in store.read(spark).collect())
    assert got == [(1, 20, "b"), (2, 30, "c"), (3, 5, "c")]


def test_store_read_uses_the_saved_schema(spark, tmp_path):
    """A snapshot the store wrote is read with the schema saved in it:
    no schema-inference job, and the schema inference would give,
    nullability included. A snapshot copied in without that file is
    read with inference."""
    from pyspark.sql import functions as F

    from .helpers import jobs_run

    delta = table(spark, SF001, "events").withColumn("one", F.lit(1))
    assert not delta.schema["one"].nullable
    store = VersionedParquetStore(str(tmp_path / "store"))
    store.merge(delta, "event_id", (F.col("ts").desc(),), 1)
    assert jobs_run(spark, "store_read_known_schema", lambda: store.read(spark)) == 0
    inferred = spark.read.parquet(str(tmp_path / "store" / "v=1"))
    assert store.read(spark).schema == inferred.schema

    copied = VersionedParquetStore(str(tmp_path / "copied"))
    shutil.copytree(
        tmp_path / "store" / "v=1",
        tmp_path / "copied" / "v=0",
        ignore=shutil.ignore_patterns("*_schema.json*"),
    )
    assert jobs_run(spark, "store_read_inferred", lambda: copied.read(spark)) >= 1
    assert copied.read(spark).schema == inferred.schema


def test_staged_drain_removes_staging_when_build_raises(spark):
    """The staged drain removes its staging tree even when the stream
    build fails after the source files were written."""
    import os

    seen = []

    def build(src):
        seen.append(src)
        assert os.listdir(src)  # the frame was staged
        raise RuntimeError("stream build failed")

    with pytest.raises(RuntimeError, match="stream build failed"):
        pipeline._staged_drain(
            spark.range(3), "hc_test_drain_", "t_staged_drain_raises", build
        )
    assert seen and not os.path.exists(os.path.dirname(seen[0]))


def _raw_stream(spark, src, max_files=4):
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    raw_schema = StructType(
        [f if f.name != "ts" else StructField("ts", LongType()) for f in pipeline.EVENTS_SCHEMA.fields]
    )
    return (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(str(src))
        .withColumn("ts", F.expr(TS_EXPR))
    )


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """Inner stream-stream interval join emits every (view, purchase ≤1h
    later) pair — identical to the batch self-join once drained."""
    from pyspark.sql import functions as F

    src = tmp_path / "events_ssj"
    src.mkdir()
    shutil.copy(f"{SF001}/events.parquet", src / "part-0.parquet")

    joined = pipeline.view_purchase_join_stream(_raw_stream(spark, src))
    got = pipeline.drain_memory_sink(joined, "t_ssj", "append")

    ev = table(spark, SF001, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    want = (
        views.join(
            purchases,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 hour")),
        )
        .select(
            F.col("v_user").alias("user_id"),
            "view_id", "purchase_id", "view_ts", "purchase_ts", "purchase_value",
        )
    )
    assert normalize(got.toPandas()) == normalize(want.toPandas())
    assert got.count() > 0


def test_streaming_session_agg_converges_to_batch(spark, tmp_path):
    """Append-mode session_window emits exactly the sessions the final
    watermark has closed; each emitted row must match the batch twin
    bit-for-bit, and all old-enough sessions must have been emitted."""
    import datetime

    from healthcare_oltp_to_olap_gcp_spark.operators.sessionize import (
        session_window_agg,
    )

    src = tmp_path / "events_sess"
    src.mkdir()
    shutil.copy(f"{SF001}/events.parquet", src / "part-0.parquet")

    agg = pipeline.session_agg_stream(_raw_stream(spark, src))
    got = pipeline.drain_memory_sink(agg, "t_sess", "append").toPandas()

    ev = table(spark, SF001, "events")
    want = session_window_agg(ev).toPandas()
    key = ["user_id", "session_start"]
    got_map = {tuple(r[k] for k in key): tuple(r) for _, r in got.iterrows()}
    want_map = {tuple(r[k] for k in key): tuple(r) for _, r in want.iterrows()}
    # every emitted session is a real (batch-identical) session
    for k, v in got_map.items():
        assert want_map[k] == v
    # every session the final watermark closed must have been emitted
    import pandas as pd

    max_ts = pd.Timestamp(ev.agg({"ts": "max"}).collect()[0][0])
    horizon = max_ts - datetime.timedelta(hours=2, minutes=30)
    closed = {k for k, r in want_map.items() if pd.Timestamp(r[2]) < horizon}
    assert closed, "test data must contain watermark-closed sessions"
    assert closed <= set(got_map)


def test_streaming_doc_curation_equals_batch(spark, tmp_path):
    # The curation gate (quality-model filter + exact dedup) applied as
    # a stream must keep exactly the batch gate's fingerprint set —
    # even when a crawl drop is delivered twice (replayed file).
    src = tmp_path / "docs_stream"
    src.mkdir()
    shutil.copy(f"{SF001}/documents.parquet", src / "part-0.parquet")
    shutil.copy(f"{SF001}/documents.parquet", src / "part-1.parquet")

    stream = pipeline.read_documents_stream(spark, str(src))
    got = pipeline.drain_memory_sink(
        pipeline.curation_stream(stream), "t_doc_curation", "append"
    )

    from pyspark.sql import functions as F

    from healthcare_oltp_to_olap_gcp_spark.operators.textquality import (
        quality_model_scores,
    )

    docs = table(spark, SF001, "documents")
    kept = quality_model_scores(docs).filter(F.col("keep")).select("doc_id")
    want_fps = {
        r.fp
        for r in docs.join(kept, "doc_id")
        .select(F.md5("text").alias("fp"))
        .distinct()
        .collect()
    }
    got_rows = got.collect()
    assert {r.fp for r in got_rows} == want_fps
    # dedup state must have absorbed both the replayed file and
    # in-corpus exact dups: one row per fingerprint.
    assert len(got_rows) == len(want_fps)
    # every emitted logit equals the batch scorer's for that doc
    batch_logit = {
        r.doc_id: r.quality_logit for r in quality_model_scores(docs).collect()
    }
    for r in got_rows:
        assert batch_logit[r.doc_id] == r.quality_logit


def test_dedup_passthrough_stream_bounded_state(spark, tmp_path):
    # Replayed file through the PASS-THROUGH dedup: raw rows out, each
    # event_id exactly once, equal to the batch distinct — while the
    # within-watermark variant keeps eviction-eligible (bounded) state.
    src = tmp_path / "events_stream3"
    src.mkdir()
    shutil.copy(f"{SF001}/events.parquet", src / "part-0.parquet")
    shutil.copy(f"{SF001}/events.parquet", src / "part-1.parquet")

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    raw_schema = StructType(
        [f if f.name != "ts" else StructField("ts", LongType()) for f in pipeline.EVENTS_SCHEMA.fields]
    )
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.expr(TS_EXPR))
    )
    got = pipeline.drain_memory_sink(
        pipeline.dedup_passthrough_stream(stream), "t_passthrough", "append"
    )
    events = table(spark, SF001, "events")
    assert got.count() == events.count()
    assert got.select("event_id").distinct().count() == events.count()
    # full-row fidelity: the surviving rows are the original rows
    assert normalize(
        got.select("event_id", "user_id", "event_type").toPandas()
    ) == normalize(events.select("event_id", "user_id", "event_type").toPandas())


def test_streaming_index_assign_converges_to_batch_and_is_stateless(spark, tmp_path):
    """ann_index_incremental's insert contract under Structured
    Streaming: draining the embeddings through index_assign_stream
    (fixed established-slice centroids in the expression closure) must
    reproduce the batch per-row argmax assignment row-for-row, and the
    streaming plan must be STATELESS — pure projection, no state store,
    so uptime is unbounded by construction."""
    from pyspark.sql import functions as F

    from healthcare_oltp_to_olap_gcp_spark.operators.similarity import (
        ANN_INCR_MOD,
        _cents_row,
        _corpus,
        _ivf_index,
        _rank_cells,
    )

    emb = table(spark, SF001, "embeddings")
    corpus = _corpus(emb)
    cent_df, _ = _ivf_index(
        corpus.filter(F.col("neighbor_id") % ANN_INCR_MOD != 0), 16
    )
    cent = [(r.cent_id, list(r.centroid)) for r in cent_df.collect()]

    src = tmp_path / "emb_stream"
    src.mkdir()
    emb.repartition(5).write.mode("overwrite").parquet(str(src))
    stream = pipeline.read_embeddings_stream(spark, str(src))
    q = (
        pipeline.index_assign_stream(stream, cent)
        .writeStream.format("memory")
        .queryName("t_idx_assign")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.lastProgress
    assert progress is not None and progress["stateOperators"] == []
    got = {
        (r.vec_id, r.cell, r.cent_sim)
        for r in spark.table("t_idx_assign").collect()
    }
    want = {
        (r.vec_id, r.cell, r.cent_sim)
        for r in (
            corpus.join(F.broadcast(_cents_row(cent_df)))
            .withColumn("_best", F.element_at(_rank_cells("cv"), 1))
            .select(
                F.col("neighbor_id").alias("vec_id"),
                F.col("_best.cent_id").alias("cell"),
                F.col("_best.cdot").alias("cent_sim"),
            )
        ).collect()
    }
    assert got == want and len(got) == emb.count()


def test_streamed_drift_is_stateful_windowed_and_emits_every_day(spark):
    """events_drift_streamed's streaming stage must (a) run a REAL
    stateful windowed aggregation (state store present — the stateless
    index projection's opposite), (b) finalize and emit EVERY real
    daily window under the availableNow drain (the sentinel pushes the
    watermark past them), and (c) never leak the sentinel type into
    the output."""
    from pyspark.sql import functions as F

    out = pipeline.events_drift_streamed(spark, SF001)
    rows = out.collect()
    assert rows
    types = {r.event_type for r in rows}
    assert "zz_watermark_sentinel" not in types
    # every (current-half day, type-with-reference-rows) is present
    ev = table(spark, SF001, "events").withColumn(
        "us", F.unix_micros(F.col("ts"))
    )
    b = ev.agg(F.min("us").alias("mn"), F.max("us").alias("mx")).collect()[0]
    mid = b.mn + (b.mx - b.mn) // 2
    want = {
        (r.d, r.event_type)
        for r in ev.filter(F.col("us") > mid)
        .select(F.date_trunc("day", "ts").alias("d"), "event_type")
        .distinct()
        .collect()
    }
    got = {(r.window_start, r.event_type) for r in rows}
    assert got == want
    # the drained sink came from a stateful windowed agg: state rows
    # equal the emitted (day, type, bin) histogram rows
    assert spark.table("events_drift_streamed_counts").count() > 0
    for r in rows:
        assert r.psi >= 0.0 and r.n_cur > 0


def test_sessions_streamed_equals_batch_sessionization(spark):
    """sessions_streamed's sentinel-advanced watermark must finalize
    and emit EVERY real session (gap-merge is deterministic, so the
    drain equals the batch session_window aggregation), and the
    sentinel user's own still-open session must never surface."""
    from pyspark.sql import functions as F

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.session_value)
        for r in pipeline.sessions_streamed(spark, SF001).collect()
    }
    assert got and all(u >= 0 for (u, *_rest) in got)
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.session_value)
        for r in (
            table(spark, SF001, "events")
            .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,8)"))
                .cast("double")
                .alias("session_value"),
            )
            .select(
                "user_id",
                F.col("win.start").alias("session_start"),
                F.col("win.end").alias("session_end"),
                "n_events",
                "session_value",
            )
        ).collect()
    }
    assert got == want


def test_user_totals_streamed_exact_final_state(spark):
    """The applyInPandasWithState path must land on the EXACT batch
    aggregate: integer-cents state is order- and batch-boundary-
    independent, so every user's final update equals groupBy().agg()
    to the last cent."""
    from pyspark.sql import functions as F

    got = {
        r.user_id: (r.total_events, r.total_value)
        for r in pipeline.user_totals_streamed(spark, SF001).collect()
    }
    want = {
        r.user_id: (r.n, r.v)
        for r in (
            table(spark, SF001, "events")
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n"),
                (
                    F.sum(F.round(F.col("value") * 100).cast("long")).cast(
                        "double"
                    )
                    / 100
                ).alias("v"),
            )
        ).collect()
    }
    assert got == want


@pytest.mark.fullsweep
def test_view_purchase_streamed_equals_batch_interval_join(spark):
    """The registry-gated stream-stream interval join: the drained
    availableNow result must equal the batch interval join row-for-row
    (inner interval joins emit eagerly; the per-side sentinels advance
    both watermarks past every real event), and the sentinel users'
    rows must never surface."""
    from pyspark.sql import functions as F

    got = {
        tuple(r)
        for r in pipeline.view_purchase_streamed(spark, SF001).collect()
    }
    assert got and all(t[0] >= 0 for t in got)
    events = table(spark, SF001, "events")
    v = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    want = {
        tuple(r)
        for r in v.join(
            p,
            (F.col("u") == F.col("pu"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")
            ),
        )
        .select(
            F.col("u").alias("user_id"),
            "view_id",
            "purchase_id",
            "view_ts",
            "purchase_ts",
            "purchase_value",
        )
        .collect()
    }
    assert got == want


@pytest.mark.fullsweep
def test_views_without_purchase_streamed_equals_batch_anti_join(spark):
    """LEFT-OUTER interval join semantics: unmatched views emit at
    state eviction, and the sentinel-advanced watermark evicts every
    real view — so the drained unmatched set equals the batch
    NOT-EXISTS anti-join, and no sentinel row leaks."""
    from pyspark.sql import functions as F

    got = {
        tuple(r)
        for r in pipeline.views_without_purchase_streamed(spark, SF001).collect()
    }
    assert got and all(t[0] >= 0 for t in got)
    events = table(spark, SF001, "events")
    v = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    want = {
        tuple(r)
        for r in v.join(
            p,
            (F.col("user_id") == F.col("pu"))
            & (F.col("pts") >= F.col("view_ts"))
            & (F.col("pts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
            "left_anti",
        ).collect()
    }
    assert got == want


def test_events_hourly_streamed_equals_batch(spark):
    """The registry-gated form of the original pipeline: the drained
    hourly aggregate must equal the batch events_hourly row-for-row
    (sentinel finalizes every real window; its own open window never
    emits)."""
    from healthcare_oltp_to_olap_gcp_spark.plans import analytics

    got = {
        tuple(r)
        for r in pipeline.events_hourly_streamed(spark, SF001).collect()
    }
    want = {
        tuple(r)
        for r in analytics.events_hourly(table(spark, SF001, "events")).collect()
    }
    assert got == want and got
