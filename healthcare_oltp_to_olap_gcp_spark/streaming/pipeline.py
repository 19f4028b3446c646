"""Structured Streaming form of the ingest → dedup → windowed-agg
pipeline.

The reference drips one row per minute via FastAPI + Cloud Scheduler
and batch-replicates on a cadence. The Spark-native stream treats the
events parquet directory as a file source (``readStream`` with
``availableNow`` in tests; continuous micro-batches in production),
watermarks on event time, drops replication duplicates inside the
watermark, and maintains the tumbling hourly aggregate incrementally —
the streaming twin of plans/analytics.events_hourly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over an events parquet directory (streams must
    declare their schema up front)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(events_dir)
    )


def hourly_agg_stream(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked, dedup'd tumbling hourly aggregate.

    - watermark bounds state for late data;
    - dropDuplicates on event_id inside the watermark = the streaming
      form of the reference's overlap-dedup (bq_fact_vitals.sql);
    - window() agg maintains per-hour partial state incrementally.
    """
    return (
        stream.withWatermark("ts", watermark)
        .dropDuplicates(["event_id"])
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,8)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def view_purchase_join_stream(
    stream: DataFrame,
    watermark: str = "2 hours",
    horizon: str = "1 hour",
    join_type: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: purchases matched to the same
    user's views at most ``horizon`` earlier. Both sides carry a
    watermark and the join predicate bounds purchase_ts within
    [view_ts, view_ts + horizon], so each side's join state is
    evictable once the watermark passes the interval — bounded state,
    the requirement for an unbounded 100 TB/day stream. Inner interval
    joins emit in append mode as soon as both matching rows arrive.

    ``join_type="left_outer"`` (r8) keeps unmatched views: Spark emits
    the null-padded row when the view's state is EVICTED (watermark
    past view_ts + horizon + delay) — the only moment "no purchase
    arrived in time" is decidable on an unbounded stream. The
    purchase columns are nullable in that mode."""
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return views.join(purchases, cond, join_type).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )


def session_agg_stream(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of plans' ``session_window_agg``: the built-in
    session_window merges a user's events into gap-separated sessions
    incrementally; the watermark closes (finalizes) a session once no
    in-gap event can still arrive. State = open sessions only."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,8)")).cast("double").alias(
                "session_value"
            ),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def _stage_stream_src(
    frame: DataFrame, src: str, sentinel: DataFrame | None = None
) -> None:
    """Stage a batch frame at ``src`` as a multi-file stream source (7
    part files → several availableNow micro-batches under
    maxFilesPerTrigger=4), optionally appending a watermark-sentinel
    file whose processing order is ENFORCED, not assumed (ADVICE r8):
    FileStreamSource batches files in modification-time order, and if
    the sentinel ever sorted into an EARLIER micro-batch than a
    real-event file, the watermark would advance past those real rows
    and silently drop them as late (worst for the left-outer interval
    join, which would also emit wrong unmatched views). Same-millisecond
    writes make that ordering a race on a fast local FS — so after
    appending the sentinel this helper explicitly sets the new file's
    mtime to max(real-file mtimes) + 2 s via the Hadoop FS API, making
    the sentinel provably the last file of the drain."""
    frame.write.mode("overwrite").parquet(src)
    if sentinel is not None:
        spark = frame.sparkSession
        jvm = spark.sparkContext._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(src)
        fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())

        def _parts():
            return {
                st.getPath().getName(): st
                for st in fs.listStatus(hpath)
                if st.getPath().getName().startswith("part-")
            }

        before = _parts()
        latest = max(st.getModificationTime() for st in before.values())
        sentinel.coalesce(1).write.mode("append").parquet(src)
        for name, st in _parts().items():
            if name not in before:
                fs.setTimes(st.getPath(), latest + 2_000, -1)


# Sentinel rows (event_id, user_id, event_type). The single-sentinel
# queries use a type no real event has, so its own never-closed window
# is droppable; the interval joins need one sentinel per side, under
# never-occurring users that cannot pair with each other.
SENTINEL_TYPE = "zz_watermark_sentinel"
JOIN_SENTINELS = [(-1, -1, "view"), (-2, -2, "purchase")]


def _watermark_sentinel(events: DataFrame, rows) -> DataFrame | None:
    """Sentinel events stamped 30 days past max(ts): staged as the
    drain's last file, they advance the watermark past every real
    event, so an availableNow drain finalizes and emits ALL real
    windows/sessions/evictions in append mode. None when ``events`` is
    empty — the caller then returns its empty result without starting
    a stream.

    ``rows`` are (event_id, user_id, event_type); value 0.0 and props
    '{}' are fixed. The frame is a SQL VALUES LocalRelation (r9, guide
    §4 — eliminate the Python boundary): a Python-row
    ``createDataFrame`` is RDD-backed, so the staged sentinel write
    would pay a Python-worker roundtrip — measured ~6 s per staged
    sentinel file at sf0.1 vs 0.2 s for the LocalRelation, which the
    JVM evaluates with no Python involvement."""
    mx = events.agg(F.max(F.unix_micros("ts"))).first()[0]
    if mx is None:
        return None
    vals = ", ".join(
        f"(CAST({eid} AS BIGINT), CAST(NULL AS TIMESTAMP),"
        f" CAST({uid} AS BIGINT), '{etype}', CAST(0.0 AS DOUBLE), '{{}}')"
        for eid, uid, etype in rows
    )
    return events.sparkSession.sql(
        "SELECT * FROM VALUES "
        + vals
        + " AS t(event_id, ts, user_id, event_type, value, props)"
    ).withColumn(
        "ts", F.timestamp_micros(F.lit(mx + 30 * 24 * 3600 * 1_000_000))
    )


def _drop_staging(src: str) -> None:
    """Remove a staging tree (the mkdtemp base holding ``src``). Every
    streamed registry query drains into a MEMORY sink, whose rows live
    in the driver — without this, repeated driver/bench sweeps at sf1
    accumulate gigabytes of orphaned event copies (ADVICE r8)."""
    import os
    import shutil

    shutil.rmtree(os.path.dirname(src), ignore_errors=True)


# State partitions of every memory-sink drain (r9): the number of STATE
# partitions a streaming query plans with is the session's
# ``spark.sql.shuffle.partitions`` at first start, and every
# micro-batch commits one state-store delta PER PARTITION PER stateful
# operator — at 32 partitions the tiny bench streams spend their drain
# in state-file churn, not data (measured 13.7 s → 7 s on the
# stream-stream interval join at sf0.1 with 8 partitions). A production
# deploy sizes state partitions to throughput/keyspace the same way.
STREAM_SHUFFLE_PARTITIONS = 8


def drain_memory_sink(df: DataFrame, query_name: str, mode: str) -> DataFrame:
    """Drain everything currently available (availableNow) into the
    memory sink ``query_name`` under output ``mode`` ("append" for
    stream-stream joins and watermark-finalized aggregations, "update"
    for stateful operators, "complete" for unwatermarked aggregates) and
    return the sink as a batch DataFrame.

    The state partition count (``STREAM_SHUFFLE_PARTITIONS``) is set
    only for the stream's planning window and restored right after —
    batch queries in the same session are untouched; results are
    partition-count-independent (hash-partitioned keyed state)."""
    session = df.sparkSession
    prev = session.conf.get("spark.sql.shuffle.partitions")
    try:
        session.conf.set(
            "spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS)
        )
        q = (
            df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        session.conf.set("spark.sql.shuffle.partitions", prev)
    return session.table(query_name)


def _staged_drain(
    frame: DataFrame,
    prefix: str,
    query_name: str,
    build,
    mode: str = "append",
    sentinel: DataFrame | None = None,
) -> DataFrame:
    """The streamed registry queries' shared shape: stage ``frame`` (and
    an optional watermark sentinel) as a file-stream source in a fresh
    temp dir, drain ``build(src)`` — the streaming query over that
    source path — into the memory sink ``query_name``, and remove the
    staging tree even when staging, the build or the drain raises.
    Removal is safe once the drain returned: the sink's rows live in
    the driver."""
    import tempfile

    src = tempfile.mkdtemp(prefix=prefix) + "/src"
    try:
        _stage_stream_src(frame, src, sentinel)
        return drain_memory_sink(build(src), query_name, mode)
    finally:
        _drop_staging(src)


RUNNING_OUTPUT_SCHEMA = "user_id long, total_events long, total_value double"
RUNNING_STATE_SCHEMA = "total_events long, total_cents long"


def _running_totals(key, pdf_iter, state):
    """Custom stateful operator body: per-user running totals carried in
    GroupState across micro-batches (Arrow-batched).

    The value total is accumulated as EXACT INTEGER CENTS (the
    readings are 2-dp), so the running state is order- and
    batch-boundary-independent and the final emission per user equals
    the batch aggregate exactly — which is what lets
    ``user_totals_streamed`` carry a full value-hash oracle (r7;
    float accumulation in arrival order was only
    tolerance-comparable)."""
    import pandas as pd

    (user_id,) = key
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        cents += int((pdf["value"] * 100).round().astype("int64").sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "total_events": [n],
            "total_value": [cents / 100.0],
        }
    )


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Arbitrary stateful processing (applyInPandasWithState): running
    per-user event counts/values that survive across micro-batches —
    the custom-stateful-operator escape hatch for semantics windowed
    aggregation can't express."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("user_id").applyInPandasWithState(
        _running_totals,
        RUNNING_OUTPUT_SCHEMA,
        RUNNING_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def incremental_fact_sink(stream: DataFrame, store_dir: str, store=None):
    """Streaming star-fact maintenance (foreachBatch): every micro-batch
    MERGEs into a fact store, keeping the newest row per event_id — the
    streaming form of plans/star.fact_events_incremental and the
    reference's scheduled Dataflow replication job.

    Storage is pluggable through ``store``: the default
    sources/factstore.VersionedParquetStore writes a complete ``v=N``
    snapshot per batch and readers take the max version (poor-man's
    snapshot isolation — all parquet-only storage can offer); a
    lakehouse deploy passes a store with the same ``merge`` method over
    a Delta or Iceberg table, and the same sink becomes a transactional
    MERGE that rewrites only matched files. The dedup semantics
    (newest-wins under plans/star.dedup_order) are identical either
    way."""
    from ..plans.star import dedup_order, prepared_events
    from ..sources.factstore import VersionedParquetStore

    target = store if store is not None else VersionedParquetStore(store_dir)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        delta = prepared_events(batch_df)
        target.merge(delta, "event_id", dedup_order(), batch_id)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", f"{store_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def fact_events_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming surface as an oracle-checkable registry query:
    stage the events table as a multi-file stream source, drain it
    through ``incremental_fact_sink`` (several availableNow
    micro-batches with a replication-overlap duplicate in flight), and
    read the final store snapshot back. Converges to EXACTLY the batch
    ``fact_events`` dedup (same oracle) — the driver-gate form of the
    converges-to-batch streaming test, so the foreachBatch MERGE path
    gets a hard correctness row instead of test-only coverage."""
    import os
    import shutil
    import tempfile

    from ..catalog import table
    from ..sources.factstore import VersionedParquetStore

    events = table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="hc_stream_fact_")
    src, store = f"{base}/src", f"{base}/store"
    # several files → several micro-batches; one duplicated file
    # exercises the overlap-dedup on the way through
    events.repartition(7).write.mode("overwrite").parquet(src)
    first = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))[0]
    shutil.copy(f"{src}/{first}", f"{src}/dup-copy.parquet")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    q = incremental_fact_sink(stream, store)
    q.awaitTermination()
    # the returned frame lazily READS the store snapshot — only the
    # consumed src staging is removable here (ADVICE r8 cleanup)
    shutil.rmtree(src, ignore_errors=True)
    return VersionedParquetStore(store).read(spark)


DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_documents_stream(spark: SparkSession, docs_dir: str) -> DataFrame:
    """File-source stream over a documents parquet directory — the
    ingest side of a continuously-fed training-data pipeline (each
    crawl drop lands as files; the stream picks them up)."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(docs_dir)
    )


def curation_stream(stream: DataFrame) -> DataFrame:
    """Streaming document curation: the batch quality-model gate and
    exact dedup applied as stream transformations — proof that the
    curation operators are incremental-safe. The model filter is pure
    per-row projection (stateless, runs unchanged on a streaming
    frame); exact dedup becomes ``dropDuplicates`` on the content
    fingerprint (keyed state; bounded by a watermark-less availableNow
    run in tests, by a fingerprint-TTL in continuous production).
    Emits the curated stream of (doc_id, fp, source, quality_logit).
    The model gate reuses the batch scorer's Column expression
    directly — no self-join of the stream, one stateless projection."""
    from ..operators.textquality import quality_model_logit

    guarded = quality_model_logit()
    return (
        stream.select(
            "doc_id",
            "source",
            F.md5("text").alias("fp"),
            F.round(guarded, 6).alias("quality_logit"),
            F.coalesce(guarded >= 0, F.lit(False)).alias("_keep"),
        )
        .filter(F.col("_keep"))
        .drop("_keep")
        .dropDuplicates(["fp"])
    )


def dedup_passthrough_stream(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Replication-overlap dedup as a PASS-THROUGH stream: emit each
    event_id's first arrival unchanged, suppress replays — the
    streaming analog of the reference's ROW_NUMBER dedup
    (sql/bq_fact_vitals.sql) for feeding a raw landing sink where no
    aggregation follows.

    ``dropDuplicatesWithinWatermark`` is the state-bounded form: plain
    ``dropDuplicates`` on a non-aggregated append stream keeps every
    key seen FOREVER (state grows with the corpus — a 100 TB/day
    non-starter); the within-watermark variant evicts a key's state
    once the watermark passes its event time, which exactly matches
    the replication cadence's bounded overlap window (a duplicate can
    only arrive within the 20-minute lookback, so a 2-hour watermark
    retires state three orders of magnitude before memory matters).

    Caveat (standard watermark semantics): a row whose EVENT TIME is
    already older than the watermark when it arrives is dropped as
    late data even if its event_id was never seen — i.e. a genuinely
    new but very-late first arrival does not pass through. The
    watermark must therefore bound late arrival as well as the replay
    overlap; size it to the upstream's max end-to-end lateness, not
    just the replication window."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)


def read_embeddings_stream(spark: SparkSession, emb_dir: str) -> DataFrame:
    """File-source stream over an embeddings parquet directory — the
    ingest side of a continuously-maintained vector index (each crawl
    drop's embedding shard lands as files; the stream picks them up)."""
    return (
        spark.readStream.schema(EMB_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(emb_dir)
    )


def index_assign_stream(
    stream: DataFrame, cent: list[tuple[int, list[float]]]
) -> DataFrame:
    """Streaming IVF-index insertion: every arriving vector gets its
    cell via the per-row argmax against the FIXED centroid table —
    ``ann_index_incremental``'s insert contract under Structured
    Streaming. The centroid table is embedded in the expression
    closure (it IS the broadcast: C ∝ √n keeps it a few MB at any
    corpus size), so the transformation is a STATELESS projection —
    no watermark, no state store, unbounded uptime; asserted
    state-free in tests via the query progress's stateOperators.

    Identical rounding/tie-break to the batch assignment
    (``similarity._rank_cells`` element 1) ⇒ the drained stream
    converges to the batch index row-for-row."""
    from ..functions.vectors import as_double, dot, normalized

    cents = F.array(
        *[
            F.struct(
                F.lit(int(cid)).cast("long").alias("cent_id"),
                F.array(*[F.lit(float(x)) for x in vec])
                .cast("array<double>")
                .alias("centroid"),
            )
            for cid, vec in cent
        ]
    )
    base = stream.select(
        "vec_id", normalized(as_double("embedding")).alias("_nv")
    )
    scored = F.transform(
        cents,
        lambda c: F.struct(
            F.round(dot(F.col("_nv"), c["centroid"]), 6).alias("cdot"),
            (-c["cent_id"]).alias("_neg_id"),
        ),
    )
    best = F.array_max(scored)
    return base.select(
        "vec_id",
        (-best["_neg_id"]).cast("long").alias("cell"),
        best["cdot"].alias("cent_sim"),
    )


def ann_index_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming index-maintenance surface as an oracle-checkable
    registry query (the ``fact_events_streamed`` pattern): stage the
    embeddings table as a multi-file stream, drain it through
    ``index_assign_stream`` with the established-slice md5-seeded
    centroids (``ann_index_incremental``'s fixed-centroid contract),
    and return the final assignment table (vec_id, cell, cent_sim,
    is_new). Converges to EXACTLY the batch per-row assignment — the
    deterministic argmax is order- and batch-boundary-independent, so
    the same DuckDB oracle value-hashes a result that was computed
    through availableNow micro-batches."""
    from ..catalog import table
    from ..operators.similarity import ANN_INCR_MOD, _corpus, _ivf_index

    emb = table(spark, sf_dir, "embeddings")
    corpus = _corpus(emb)
    cent_df, _ = _ivf_index(
        corpus.filter(F.col("neighbor_id") % ANN_INCR_MOD != 0), 16
    )
    cent = [(r.cent_id, list(r.centroid)) for r in cent_df.collect()]
    if not cent:
        # empty established corpus ⇒ no index to insert into — the
        # closure array would be untyped, so short-circuit with the
        # operator's schema (the ivf_ann_topk empty-corpus convention)
        return spark.createDataFrame(
            [], "vec_id long, cell long, cent_sim double, is_new boolean"
        )
    out = _staged_drain(
        emb.repartition(7),
        "hc_stream_emb_",
        "ann_index_streamed",
        lambda src: index_assign_stream(read_embeddings_stream(spark, src), cent),
    )
    return out.select(
        "vec_id",
        "cell",
        "cent_sim",
        (F.col("vec_id") % ANN_INCR_MOD == 0).alias("is_new"),
    )


def drift_bin_counts_stream(
    stream: DataFrame, edges: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming half of the drift monitor: watermarked tumbling DAILY
    histogram of ``value`` per event_type, binned against the FIXED
    reference-period edges (a stream-static broadcast join — the
    trained monitor's frozen binning, exactly
    ``analytics.events_drift_report``'s rule). State = open daily
    windows only; the watermark finalizes each day so append mode
    emits exactly one immutable row per (day, type, bin) — the
    unbounded-uptime shape a 100 TB/day monitor needs.

    The inner join on event_type doubles as the sentinel filter: a
    type with no reference-period rows (e.g. the watermark-advancing
    sentinel event the driver query stages) never reaches the
    aggregation, but its event TIME still advances the watermark —
    which is what closes the final real windows under an availableNow
    drain."""
    from ..plans.analytics import drift_bin

    return (
        stream.withWatermark("ts", watermark)
        .join(F.broadcast(edges), "event_type")
        .select("ts", "event_type", drift_bin())
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type", "bin")
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(
            F.col("win.start").alias("window_start"), "event_type", "bin", "cnt"
        )
    )


def events_drift_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift monitor under STRUCTURED STREAMING, as an
    oracle-checkable registry query (the ``fact_events_streamed``
    convention): the reference half of the events table (at or before
    the integer-µs midpoint) trains the monitor in batch — frozen bin
    edges + the smoothed reference bin distribution; the CURRENT half
    is staged as a multi-file stream and drained through
    ``drift_bin_counts_stream`` (watermarked daily histograms, append
    mode); the drained counts are scored in batch into a per-(day,
    type) PSI series against the reference distribution. This is the
    monitoring loop a production pipeline runs continuously: train
    once on a trusted window, stream-score forever.

    A sentinel event 30 days past max(ts) (a type absent from the
    reference period, so the stream-static inner join drops it before
    the aggregation) advances the watermark past every real day, so
    the availableNow drain finalizes and emits ALL real windows —
    making the streamed result identical to the batch computation and
    value-hash-oracle-able.

    PSI terms reuse the batch operator's exact arithmetic (Laplace
    +0.5 smoothing, 10-dp rounding, DECIMAL sum, 6-dp final), so the
    DuckDB oracle mirrors the whole chain."""
    from ..catalog import table
    from ..plans.analytics import DRIFT_BINS, drift_bin, psi_term

    events = table(spark, sf_dir, "events")
    sentinel = _watermark_sentinel(events, [(-1, -1, SENTINEL_TYPE)])
    if sentinel is None:
        return spark.createDataFrame(
            [],
            "window_start timestamp, event_type string, n_cur long, psi double",
        )
    ev = events.withColumn("us", F.unix_micros(F.col("ts")))
    b = ev.agg(F.min("us").alias("mn"), F.max("us").alias("mx")).collect()[0]
    mid = b.mn + (b.mx - b.mn) // 2
    ref = ev.filter(F.col("us") <= mid)
    edges = ref.groupBy("event_type").agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    # the current half is the stream, followed by the watermark sentinel
    cur = ev.filter(F.col("us") > mid).select(*EVENTS_SCHEMA.fieldNames())
    counts = _staged_drain(
        cur.repartition(7),
        "hc_stream_drift_",
        "events_drift_streamed_counts",
        lambda src: drift_bin_counts_stream(read_events_stream(spark, src), edges),
        sentinel=sentinel,
    )
    # batch scoring of the drained histogram series vs the reference.
    # Grid completion starts from the REFERENCE side (independent
    # lineage) crossed with the per-window totals, whose aggregate
    # output is re-aliased — the memory-sink table reuses one
    # attribute set across reads, so joining two projections of it
    # directly raises "conflicting references".
    refb = ref.join(edges, "event_type").select("event_type", drift_bin())
    refc = refb.groupBy("event_type", "bin").agg(
        F.count("*").cast("long").alias("ref_c")
    )
    refn = refb.groupBy("event_type").agg(F.count("*").cast("long").alias("n_ref"))
    bins = F.explode(F.sequence(F.lit(0), F.lit(DRIFT_BINS - 1))).alias("bin")
    ref_grid = (
        refn.select("event_type", "n_ref", bins)
        .join(refc, ["event_type", "bin"], "left")
        .select(
            "event_type",
            "bin",
            "n_ref",
            F.coalesce("ref_c", F.lit(0)).alias("ref_c"),
        )
    )
    curn = (
        counts.groupBy("window_start", "event_type")
        .agg(F.sum("cnt").cast("long").alias("n_cur"))
        .select(
            F.col("window_start").alias("ws"),
            F.col("event_type").alias("et"),
            "n_cur",
        )
    )
    base = ref_grid.join(curn, F.col("event_type") == F.col("et"))
    full = base.join(
        counts,
        (base["ws"] == counts["window_start"])
        & (base["et"] == counts["event_type"])
        & (base["bin"] == counts["bin"]),
        "left",
    ).select(
        base["ws"],
        base["et"],
        base["bin"],
        "n_ref",
        "ref_c",
        "n_cur",
        F.coalesce(counts["cnt"], F.lit(0)).alias("cur_c"),
    )
    return (
        full.select(
            F.col("ws").alias("window_start"),
            F.col("et").alias("event_type"),
            "n_cur",
            psi_term(),
        )
        .groupBy("window_start", "event_type", "n_cur")
        .agg(F.round(F.sum("t").cast("double"), 6).alias("psi"))
    )


def sessions_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION WINDOWS as an oracle-checkable registry query
    (the ``fact_events_streamed`` convention): the events table is
    staged as a multi-file stream and drained through
    ``session_agg_stream`` (built-in ``session_window`` gap-merge,
    watermark-finalized); a sentinel event 30 days past max(ts) under
    a user id that never occurs (-1) advances the watermark past every
    real session, so the availableNow drain emits ALL of them in
    append mode — and the sentinel's own still-open session is never
    emitted by construction (no later event closes it).

    Session-window merge is deterministic (gap rule on event time), so
    the drained result equals the BATCH gap-sessionization and shares
    ``session_window_agg``'s DuckDB oracle verbatim — the registry's
    third stateful streaming shape (windowed agg: events_drift_streamed;
    MERGE sink: fact_events_streamed; session windows: this)."""
    from ..catalog import table

    events = table(spark, sf_dir, "events")
    sentinel = _watermark_sentinel(events, [(-1, -1, SENTINEL_TYPE)])
    if sentinel is None:
        return spark.createDataFrame(
            [],
            "user_id long, session_start timestamp, session_end timestamp,"
            " n_events long, session_value double",
        )
    out = _staged_drain(
        events.repartition(7),
        "hc_stream_sess_",
        "sessions_streamed_sink",
        lambda src: session_agg_stream(read_events_stream(spark, src)),
        sentinel=sentinel,
    )
    return out.filter(F.col("user_id") >= 0)


def user_totals_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM STATEFUL operator (applyInPandasWithState) as an
    oracle-checkable registry query: drain the events stream through
    ``running_user_totals`` in update mode and keep each user's FINAL
    state row. Both state fields are monotone (exact event count,
    exact integer cents), so the final row per user is the MAX over
    its update-mode emissions — and, because the cents accumulation is
    order- and batch-boundary-independent, it equals the batch
    aggregate exactly: full value-hash oracle over a path that
    previously had only tolerance-based test coverage."""
    from ..catalog import table

    events = table(spark, sf_dir, "events")
    out = _staged_drain(
        events.repartition(7),
        "hc_stream_totals_",
        "user_totals_streamed_sink",
        lambda src: running_user_totals(read_events_stream(spark, src)),
        mode="update",
    )
    return out.groupBy("user_id").agg(
        F.max("total_events").cast("long").alias("total_events"),
        F.max("total_value").alias("total_value"),
    )


def events_hourly_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORIGINAL reference-parity streaming pipeline (ingest →
    watermarked dedup → tumbling hourly aggregate, ``hourly_agg_stream``)
    as a driver-gated registry query — until r8 it was plumbing-only
    (equals-batch test) while every other stateful shape had a
    CORRECTNESS row. Standard staging convention: the events table as
    a multi-file stream plus a sentinel 30 days past max(ts) whose
    watermark advance finalizes every real hourly window under
    availableNow (the sentinel's own still-open window is never
    emitted — no later event closes it). Tumbling windows and the
    exact-decimal value sum are deterministic, so the drain equals the
    batch ``events_hourly`` and SHARES its DuckDB oracle verbatim (the
    sessions_streamed convention)."""
    from ..catalog import table

    events = table(spark, sf_dir, "events")
    sentinel = _watermark_sentinel(events, [(-1, -1, SENTINEL_TYPE)])
    if sentinel is None:
        return spark.createDataFrame(
            [],
            "hour timestamp, event_type string, n_events long,"
            " sum_value double",
        )
    out = _staged_drain(
        events.select(*EVENTS_SCHEMA.fieldNames()).repartition(7),
        "hc_stream_hourly_",
        "events_hourly_streamed_sink",
        lambda src: hourly_agg_stream(read_events_stream(spark, src)),
        sentinel=sentinel,
    )
    return out.filter(F.col("event_type") != SENTINEL_TYPE)


def view_purchase_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAM-STREAM INTERVAL JOIN as an oracle-checkable registry
    query (VERDICT r7 item 5 — the last stateful streaming shape
    without a driver-gated entry): the events table is staged as a
    multi-file stream and drained through ``view_purchase_join_stream``
    (watermarked both sides, join state evictable past the interval),
    emitting every (view, purchase) pair of the same user with the
    purchase at most one hour after the view.

    Two sentinel events 30 days past max(ts) — one per side, under
    user ids −1/−2 that never occur (and never each other's user, so
    the sentinels cannot pair) — advance BOTH sides' watermarks past
    every real event; inner interval joins emit matches eagerly in
    append mode, so the availableNow drain equals the batch interval
    join row-for-row and the query carries a full value-hash oracle
    (timestamps and ids are exact; purchase_value is a pass-through
    column, never arithmetic)."""
    from ..catalog import table

    events = table(spark, sf_dir, "events")
    sentinels = _watermark_sentinel(events, JOIN_SENTINELS)
    if sentinels is None:
        return spark.createDataFrame(
            [],
            "user_id long, view_id long, purchase_id long,"
            " view_ts timestamp, purchase_ts timestamp,"
            " purchase_value double",
        )
    out = _staged_drain(
        events.select(*EVENTS_SCHEMA.fieldNames()).repartition(7),
        "hc_stream_vp_",
        "view_purchase_streamed_sink",
        lambda src: view_purchase_join_stream(read_events_stream(spark, src)),
        sentinel=sentinels,
    )
    return out.filter(F.col("user_id") >= 0)


def views_without_purchase_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LEFT-OUTER stream-stream interval join as an
    oracle-checkable registry query — the one interval-join semantics
    ``view_purchase_streamed`` doesn't exercise: views with NO
    same-user purchase within the horizon. Outer rows are emitted at
    state EVICTION (watermark past view_ts + horizon + delay), the
    only point "no purchase arrived" becomes decidable on an unbounded
    stream — a genuinely different stateful behaviour from the inner
    join's eager match emission, and the streaming form of the
    abandonment/attribution-gap query (the batch NOT-EXISTS twin is
    the oracle).

    Same staging convention as ``view_purchase_streamed``: per-side
    sentinels under never-occurring users advance both watermarks a
    month past max(ts), so every real view's state is evicted during
    the drain and the unmatched set equals the batch anti-join
    row-for-row. The view-side sentinel itself is never emitted (the
    watermark never passes its own eviction bound) and is filtered
    defensively anyway. All-exact columns ⇒ full value-hash oracle."""
    from ..catalog import table

    events = table(spark, sf_dir, "events")
    sentinels = _watermark_sentinel(events, JOIN_SENTINELS)
    if sentinels is None:
        return spark.createDataFrame(
            [], "user_id long, view_id long, view_ts timestamp"
        )
    out = _staged_drain(
        events.select(*EVENTS_SCHEMA.fieldNames()).repartition(7),
        "hc_stream_vnp_",
        "views_without_purchase_streamed_sink",
        lambda src: view_purchase_join_stream(
            read_events_stream(spark, src), join_type="left_outer"
        ),
        sentinel=sentinels,
    )
    return out.filter(
        F.col("purchase_id").isNull() & (F.col("user_id") >= 0)
    ).select("user_id", "view_id", "view_ts")
