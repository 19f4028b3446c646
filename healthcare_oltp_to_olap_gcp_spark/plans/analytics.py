"""Warehouse analytics — the OLAP query surface the star schema serves.

The reference's warehouse exists to answer analytical queries over the
star (BigQuery + Looker, README "Views Hooked to Looker Studio"); these
are the equivalent headline queries over the driver's TPC-H-ish tables,
each chosen to exercise one physical pattern that matters at 100 TB:

- q1: full-scan aggregation with predicate pushdown + partial agg
- q3: selective dim filter → fact join → top-k
- q5: 6-way snowflake join with broadcast dims
- top_customers_per_nation: window rank per group
- events_hourly: tumbling-window aggregation (batch form)

Money aggregates use exact DECIMAL sums (functions/keys.money_sum) so
results are independent of partitioning and order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import sketch
from ..functions.keys import money_sum
from ..functions.rank import top_k
from ..functions.sketch import U, hash32
from ..session import query_scope, scoped

Q1_CUTOFF = "2001-09-02"
Q3_DATE = "1998-06-01"
Q5_LO, Q5_HI = "1996-01-01", "1997-01-01"


def q1_pricing_summary(lineitem: DataFrame) -> DataFrame:
    """Pricing summary (TPC-H Q1 shape). The shipdate filter reaches the
    parquet scan as a pushed filter; aggregation is map-side partial."""
    li = lineitem.filter(F.col("l_shipdate") <= F.lit(Q1_CUTOFF).cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(F.col("l_quantity")).alias("sum_qty"),
            money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            money_sum(disc_price).alias("sum_disc_price"),
            money_sum(charge).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


def q3_top_revenue_orders(customer: DataFrame, orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Top unshipped-revenue orders (Q3 shape): selective dimension
    filter broadcast against the fact; deterministic top-10."""
    cust = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ords = orders.filter(F.col("o_orderdate") < F.lit(Q3_DATE).cast("timestamp"))
    li = lineitem.filter(F.col("l_shipdate") > F.lit(Q3_DATE).cast("timestamp"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(ords, li["l_orderkey"] == ords["o_orderkey"])
        .join(F.broadcast(cust), ords["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money_sum(revenue).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q5_revenue_by_nation(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """Local-supplier revenue per nation (Q5 shape). Every dimension is
    broadcast; the only shuffle is the lineitem⋈orders join + final agg."""
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dims = (
        customer.join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")),
              nation["n_regionkey"] == region["r_regionkey"])
        .select("c_custkey", "c_nationkey", "n_name")
    )
    ords = orders.filter(
        (F.col("o_orderdate") >= F.lit(Q5_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q5_HI).cast("timestamp"))
    )
    return (
        lineitem.join(ords, lineitem["l_orderkey"] == ords["o_orderkey"])
        .join(F.broadcast(dims), ords["o_custkey"] == dims["c_custkey"])
        .join(
            F.broadcast(supplier),
            (lineitem["l_suppkey"] == supplier["s_suppkey"])
            & (supplier["s_nationkey"] == dims["c_nationkey"]),
        )
        .groupBy("n_name")
        .agg(money_sum(revenue).alias("revenue"))
    )


def top_customers_per_nation(customer: DataFrame, orders: DataFrame, nation: DataFrame, k: int = 3) -> DataFrame:
    """Top-k customers by order spend within each nation (window rank)."""
    spend = orders.groupBy("o_custkey").agg(money_sum(F.col("o_totalprice")).alias("spend"))
    joined = (
        customer.join(spend, customer["c_custkey"] == spend["o_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .select("n_name", "c_custkey", "c_name", "spend")
    )
    return top_k(
        joined, ["n_name"], (F.col("spend").desc(), F.col("c_custkey")), k, rank="rank"
    )


def q4_order_priority(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Order-priority counts for orders with at least one late-shipped
    line (TPC-H Q4 shape): LEFT SEMI join — the fact is filtered by
    existence, never widened, so no fan-out at scale."""
    ords = orders.filter(
        (F.col("o_orderdate") >= F.lit(Q5_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q5_HI).cast("timestamp"))
    )
    cond = (F.col("o_orderkey") == F.col("l_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate")
    )
    return (
        ords.join(lineitem, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Customers that never ordered: LEFT ANTI join (NOT EXISTS)."""
    return customer.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_rollup(events: DataFrame) -> DataFrame:
    """ROLLUP aggregation: per (day, type), per day, and grand total in
    one pass (partial aggregation handles all grouping sets)."""
    return events.rollup(
        F.to_date("ts").alias("event_date"), F.col("event_type")
    ).agg(
        F.count("*").alias("n_events"),
        money_sum(F.col("value")).alias("sum_value"),
    )


def events_cube(events: DataFrame) -> DataFrame:
    """CUBE aggregation: all grouping-set combinations of (day, type)
    in one pass."""
    return events.cube(
        F.to_date("ts").alias("event_date"), F.col("event_type")
    ).agg(
        F.count("*").alias("n_events"),
        money_sum(F.col("value")).alias("sum_value"),
    )


def events_pivot(events: DataFrame) -> DataFrame:
    """Pivot event types into columns (wide daily activity matrix)."""
    p = (
        events.groupBy(F.to_date("ts").alias("event_date"))
        .pivot("event_type", list(EVENT_TYPES))
        .count()
    )
    return p.select(
        "event_date",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    )


def events_unpivot(events: DataFrame) -> DataFrame:
    """Unpivot (melt) the wide daily matrix back to long form via
    stack() — the inverse of events_pivot."""
    wide = events_pivot(events)
    stack_expr = "stack({n}, {args}) as (event_type, n_events)".format(
        n=len(EVENT_TYPES),
        args=", ".join(f"'{t}', n_{t}" for t in EVENT_TYPES),
    )
    return wide.selectExpr("event_date", stack_expr)


def distinct_users_by_type(events: DataFrame) -> DataFrame:
    """Exact distinct-user counts per event type (the exact twin of
    ``approx_distinct_users``)."""
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )


def approx_distinct_users(events: DataFrame) -> DataFrame:
    """HyperLogLog++ distinct counts — the 100 TB path, where exact
    COUNT(DISTINCT) would shuffle every key. No SQL oracle (sketch
    algorithms differ per engine); correctness is bounded-error vs the
    exact twin, asserted in tests."""
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    )


def value_percentiles(events: DataFrame) -> DataFrame:
    """Exact p50/p90/p99 of value per event type. Exact percentile
    sorts within each group — fine for low-cardinality groups; at
    100 TB swap in approx_percentile (t-digest) for one-pass behavior."""
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


def funnel_view_to_purchase(events: DataFrame) -> DataFrame:
    """Conversion funnel: users who viewed, users who purchased, and
    users whose first view precedes their last purchase — one
    conditional-aggregate pass per user, then one row of counts."""
    us = F.unix_micros("ts")
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("first_view"),
        F.max(F.when(F.col("event_type") == "purchase", us)).alias("last_purchase"),
    )
    return per_user.agg(
        F.count(F.col("first_view")).alias("n_users_view"),
        F.count(F.col("last_purchase")).alias("n_users_purchase"),
        F.sum(
            F.when(F.col("first_view") < F.col("last_purchase"), 1).otherwise(0)
        ).cast("long").alias("n_users_converted"),
    )


def events_json_k(events: DataFrame) -> DataFrame:
    """JSON column processing via the typed from_json path (the raw
    ``props`` string parsed with an explicit schema — schema-checked
    parsing, vs. the regexp fallback used for the star's src key)."""
    parsed = events.withColumn(
        "k", F.from_json("props", "k BIGINT").getField("k")
    )
    return parsed.groupBy("k").agg(
        F.count("*").alias("n_events"),
        money_sum(F.col("value")).alias("sum_value"),
    )


def value_range_join(events: DataFrame) -> DataFrame:
    """Range join via bucketization: for each event, count same-type
    events whose value lies within ±0.5 (value-collision detection).
    A naive inequality self-join is O(n²); bucketizing both sides by
    floor(value/width) turns it into an equi-join on (type, bucket) —
    each probe row explodes to its 3 candidate buckets — plus a residual
    range filter, the scalable range-join pattern Spark lacks natively.
    Bucket math only generates candidates; correctness comes from the
    exact residual predicate, so the oracle is the naive join.

    The build side is further compressed by value multiplicity (one
    row per (type, bucket, value) with count + two smallest ids —
    spill-safe window, no arrays), so repeated values stop multiplying
    the candidate join; the id_a != id_b exclusion is reconstructed
    exactly from the (cnt, min1, min2) bookkeeping."""
    width = 0.5
    a = events.select(
        F.col("event_id").alias("id_a"), "event_type", F.col("value").alias("va")
    ).withColumn(
        "bucket",
        F.explode(
            F.array(
                *[
                    (F.floor(F.col("va") / width) + i).cast("long")
                    for i in (-1, 0, 1)
                ]
            )
        ),
    )
    # Build side compressed by VALUE MULTIPLICITY: one row per
    # (type, bucket, value) carrying (count, min id, second-min id) —
    # repeated values (2x at sf0.1) stop multiplying the candidate
    # join. Exactness bookkeeping for the id_a != id_b predicate:
    # a row's own value-group always matches (|va-va| = 0), so its
    # count contributes cnt-1 and its min id falls back to the
    # second-min when the min IS id_a.
    bsrc = events.select(
        F.col("event_id").alias("id_b"),
        "event_type",
        F.col("value").alias("vb"),
        F.floor(F.col("value") / width).cast("long").alias("bucket"),
    )
    wv = Window.partitionBy("event_type", "bucket", "vb").orderBy("id_b")
    b = (
        bsrc.withColumn("cnt", F.count("*").over(wv.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("_rn", F.row_number().over(wv))
        .filter(F.col("_rn") <= 2)
        .groupBy("event_type", "bucket", "vb")
        .agg(
            F.max("cnt").alias("cnt"),
            F.min(F.when(F.col("_rn") == 1, F.col("id_b"))).alias("min1"),
            F.min(F.when(F.col("_rn") == 2, F.col("id_b"))).alias("min2"),
        )
    )
    matched = a.join(b, ["event_type", "bucket"]).filter(
        F.abs(F.col("va") - F.col("vb")) <= width
    )
    self_group = F.col("vb") == F.col("va")
    eff_cnt = F.when(self_group, F.col("cnt") - 1).otherwise(F.col("cnt"))
    eff_min = F.when(
        self_group & (F.col("min1") == F.col("id_a")), F.col("min2")
    ).otherwise(F.col("min1"))
    return (
        matched.select("id_a", eff_cnt.alias("c"), eff_min.alias("m"))
        .filter(F.col("c") > 0)
        .groupBy(F.col("id_a").alias("event_id"))
        .agg(
            F.sum("c").cast("long").alias("n_collisions"),
            F.min("m").alias("min_collision_id"),
        )
    )


def approx_value_percentiles(events: DataFrame) -> DataFrame:
    """Sketch twin of value_percentiles: one-pass approx_percentile
    (t-digest style) — the 100 TB default where exact percentile's
    per-group sort is prohibitive. Bounded error vs the exact twin is
    asserted in tests; no SQL oracle (sketches differ per engine)."""
    return events.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("p50"),
        F.percentile_approx("value", 0.9, 10000).alias("p90"),
        F.percentile_approx("value", 0.99, 10000).alias("p99"),
    )


def events_hourly(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour aggregation (batch form of the streaming window;
    see streaming/pipeline.py for the readStream form)."""
    return events.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        money_sum(F.col("value")).alias("sum_value"),
    )


def events_daily_rollup_incremental(
    events: DataFrame, cutoff: str = "2024-01-24"
) -> DataFrame:
    """Incremental AGGREGATE maintenance (materialized-view refresh):
    the day-grain rollup is brought up to date by merging the
    already-materialized pre-cutoff rollup with the delta slice's
    partial aggregate — never rescanning history. The companion to
    ``plans/star.fact_events_incremental``, one level up the stack:
    that maintains the deduplicated FACT incrementally, this maintains
    an AGGREGATE over it.

    Provably equal to the full recompute: count/sum/max over the
    day-type key are commutative monoids and the value sum accumulates
    in exact DECIMAL(18,8), so rollup(base) ⊕ rollup(delta) =
    rollup(base ∪ delta) bit-for-bit under any partitioning — the
    oracle IS the full-table GROUP BY.

    At 100 TB: the cutoff filter pushes into the scan, so raw data
    read ∝ delta only; the merge groupBy shuffles just the rollup
    table (days × types rows — KBs per century) plus the delta
    partials. With date-partitioned storage this is the classic
    partition-overwrite refresh: only delta-touched days change."""
    cut = F.lit(cutoff).cast("timestamp")

    def _partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.to_date("ts").alias("event_date"), "event_type"
        ).agg(
            F.count("*").alias("_n"),
            F.sum(F.col("value").cast("decimal(18,8)")).alias("_s"),
            F.max("value").alias("_mx"),
        )

    base = _partial(events.filter(F.col("ts") < cut))
    delta = _partial(events.filter(F.col("ts") >= cut))
    return (
        base.unionByName(delta)
        .groupBy("event_date", "event_type")
        .agg(
            F.sum("_n").cast("long").alias("n_events"),
            F.sum("_s").cast("double").alias("sum_value"),
            F.max("_mx").alias("max_value"),
        )
    )


def events_sliding_2h(events: DataFrame) -> DataFrame:
    """Sliding window (2-hour length, 1-hour slide): each event lands in
    two windows; window() expands rows before one aggregation pass."""
    return (
        events.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("win"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            money_sum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def salted_event_type_counts(events: DataFrame, buckets: int = 8) -> DataFrame:
    """Skew-mitigation pattern: two-stage aggregation through a salt.
    event_type has only 5 values — at 100 TB a plain groupBy sends each
    type's entire volume to one reducer; salting fans each hot key over
    ``buckets`` partial aggregates, and the second (tiny) stage merges.
    Result provably equals the direct aggregation (the SQL oracle IS the
    unsalted query); decimal partials keep the sums exact."""
    salted = events.withColumn("_salt", F.pmod(F.col("event_id"), F.lit(buckets)))
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count("*").alias("pc"),
        F.sum(F.col("value").cast("decimal(18,8)")).alias("pv"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pc").cast("long").alias("n_events"),
        F.sum("pv").cast("double").alias("sum_value"),
    )


def q10_returned_item_revenue(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, nation: DataFrame, k: int = 20
) -> DataFrame:
    """Top customers by revenue lost to returns (TPC-H Q10 shape):
    selective fact filter (l_returnflag = 'R') reaches the scan, the
    customer/nation dims broadcast, one shuffle for the per-customer
    agg, deterministic top-k."""
    li = lineitem.filter(F.col("l_returnflag") == "R")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(money_sum(revenue).alias("lost_revenue"))
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey"))
        .limit(k)
    )


def q12_priority_lines(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Conditional aggregation over a join (TPC-H Q12 shape): per line
    status, how many lines belong to high- vs low-priority orders.
    The CASE folds into the partial aggregate — one shuffle total."""
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(Q5_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q5_HI).cast("timestamp"))
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


def min_price_supplier_per_part(lineitem: DataFrame) -> DataFrame:
    """Cheapest supplier per part (TPC-H Q2's correlated-subquery shape,
    re-expressed as a window min — one shuffle on l_partkey serves both
    the per-(part,supplier) aggregate and the correlated min filter).
    The average is exact-decimal-sum then one IEEE double division —
    deterministic under any partitioning and identical across engines
    (decimal÷decimal result scales are NOT engine-portable)."""
    per_supp = lineitem.groupBy("l_partkey", "l_suppkey").agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,8)")).cast("double")
            / F.count("*")
        ).alias("avg_price")
    )
    w = Window.partitionBy("l_partkey")
    return (
        per_supp.withColumn("_min_price", F.min("avg_price").over(w))
        .filter(F.col("avg_price") == F.col("_min_price"))
        .select("l_partkey", "l_suppkey", "avg_price")
    )


BLOOM_BITS = 1 << 20
BLOOM_PRIORITY = "1-URGENT"


def bloom_prejoin_revenue(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Bloom-filter pre-join pruning: revenue of lineitems belonging to
    urgent orders. The selective side's keys are hashed into a bucket
    set (a 1-hash Bloom filter over 2^20 buckets) that broadcast-semi-
    joins against the fact BEFORE the real join, so at 100 TB the fact
    rows that cannot match never enter the join shuffle. False positives
    are removed by the actual join, so the result is provably exact —
    the oracle is the plain join. (Spark's AQE runtime bloom filter
    automates this shape; this operator is the explicit form with a
    hand-set bucket count.)"""
    ords = orders.filter(F.col("o_orderpriority") == BLOOM_PRIORITY)
    bloom = ords.select(
        F.pmod(F.xxhash64("o_orderkey"), F.lit(BLOOM_BITS)).alias("_bucket")
    ).distinct()
    pruned = lineitem.withColumn(
        "_bucket", F.pmod(F.xxhash64("l_orderkey"), F.lit(BLOOM_BITS))
    ).join(F.broadcast(bloom), "_bucket", "left_semi")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        pruned.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            money_sum(revenue).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


def user_value_deltas(events: DataFrame) -> DataFrame:
    """Per-user event-over-event value deltas plus quartile assignment:
    lag/lead/ntile share ONE window sort — a single shuffle on user_id
    serves all four window functions (tie-broken by event_id so the
    frame order is total and engine-independent)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
        F.lead("value").over(w).alias("next_value"),
        F.ntile(4).over(w).cast("long").alias("user_quartile"),
    )


def hll_sketch_distinct_users(events: DataFrame) -> DataFrame:
    """Mergeable-sketch rollup table — the 100 TB pattern behind
    `approx_distinct_users`: build one Datasketches HLL sketch per
    (day, event_type) partition, then answer "distinct users per type
    over any day range" by MERGING sketches (hll_union_agg) instead of
    re-scanning raw data. At scale the daily sketch table is KBs per
    partition; the merge is O(days × types), not O(rows). Estimates are
    implementation-defined → rows-only oracle; the bounded-error test
    vs the exact twin lives in tests/test_operators.py."""
    daily = events.groupBy(
        F.to_date("ts").alias("event_date"), "event_type"
    ).agg(F.hll_sketch_agg("user_id").alias("user_sketch"))
    return (
        daily.groupBy("event_type")
        .agg(F.hll_union_agg("user_sketch").alias("merged"))
        .select(
            "event_type",
            F.hll_sketch_estimate("merged").alias("approx_users"),
        )
        .orderBy("event_type")
    )


KMV_K = 256


def _kmv_counts(sk: DataFrame, k: int) -> DataFrame:
    """Per event type of a bottom-k sketch: (event_type, sketch_size,
    approx_users), the KMV estimate rounded to 4 places."""
    return sketch.bounds(sk, ["event_type"]).select(
        "event_type",
        "sketch_size",
        F.round(sketch.kmv_estimate(F.col("sketch_size"), F.col("theta_int"), k), 4).alias(
            "approx_users"
        ),
    )


def kmv_distinct_users(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """K-minimum-values distinct-count sketch per event type: keep the
    k smallest hash values; estimate = (k−1)/U_k with U_k the k-th
    smallest normalized hash. One distinct + one bounded per-group
    top-k — the shuffle carries (type, hash) pairs only, never users.
    Groups with < k distinct hashes report the exact count. The KMV
    estimate is hash-deterministic, so unlike HLL this sketch has a
    full value-hash DuckDB oracle; error vs the exact twin is also
    asserted in tests (stderr ≈ 1/√(k−2) ≈ 6% at k=256)."""
    d = events.select("event_type", hash32("user_id").alias(U)).distinct()
    return _kmv_counts(sketch.bottom_k(d, ["event_type"], k), k)


def kmv_daily_merge_distinct_users(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """Mergeable-rollup form of ``kmv_distinct_users``: per (day, type)
    keep each day's k smallest hashes (the daily sketch table — KBs per
    partition at 100 TB), then MERGE per type with the sketch union (the
    k smallest over the union). A value in the global top-k is top-k
    within its own day, so the merge is provably lossless and this
    returns bit-identical estimates to the direct sketch — the same
    oracle SQL serves both, and tests assert the equality."""
    d = events.select(
        F.to_date("ts").alias("event_date"), "event_type", hash32("user_id").alias(U)
    ).distinct()
    daily = sketch.bottom_k(d, ["event_date", "event_type"], k)
    return _kmv_counts(sketch.union(daily, ["event_type"], k), k)


def orders_revenue_7d_ma(orders: DataFrame) -> DataFrame:
    """7-day moving-average daily revenue: a RANGE frame over the day
    number (6 preceding .. current), so missing calendar days still
    shorten the window correctly — frame membership is integer
    arithmetic, no float boundaries. Decimal partials keep each
    window sum order-independent; one divide per output row.

    The unpartitioned window runs AFTER the day-grain aggregate, whose
    cardinality is calendar-bounded (≤ 37k rows per century) — the
    single-partition sort is over days, never over raw orders."""
    daily = orders.groupBy(F.to_date("o_orderdate").alias("order_date")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,8)")).alias("_rev"),
    )
    day_num = F.datediff("order_date", F.lit("1970-01-01").cast("date"))
    w = (
        Window.orderBy(day_num)
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "order_date",
        F.col("_rev").cast("double").alias("day_revenue"),
        F.round(
            F.sum("_rev").over(w).cast("double") / F.count("*").over(w), 4
        ).alias("ma7_revenue"),
        F.count("*").over(w).cast("long").alias("days_in_window"),
    )


def q6_forecast_revenue(lineitem: DataFrame) -> DataFrame:
    """Forecast-revenue-change (TPC-H Q6 shape): pure scan + conjunctive
    pushed filters + ONE global aggregate — the cheapest possible plan
    shape; at 100 TB the entire job is the parquet scan, so every
    predicate must appear in PushedFilters."""
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(Q5_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q5_HI).cast("timestamp"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        money_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


def q14_promo_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Promo revenue share (TPC-H Q14 shape): fact ⋈ broadcast part dim,
    conditional aggregate, one double division at the end (exact decimal
    sums → IEEE-stable percentage)."""
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(Q5_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q5_HI).cast("timestamp"))
    )
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,8)"
    )
    promo = F.col("p_type") == "PROMO"
    agg = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")).agg(
        F.sum(F.when(promo, revenue).otherwise(F.lit(0).cast("decimal(18,8)"))).alias(
            "_promo"
        ),
        F.sum(revenue).alias("_total"),
    )
    return agg.select(
        (F.lit(100.0) * F.col("_promo").cast("double") / F.col("_total").cast("double")).alias(
            "promo_revenue_pct"
        ),
        F.col("_promo").cast("double").alias("promo_revenue"),
        F.col("_total").cast("double").alias("total_revenue"),
    )


Q18_MIN_QTY = 250


def q18_large_orders(customer: DataFrame, orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Large-volume orders (TPC-H Q18 shape): HAVING on a grouped sum,
    then join the tiny surviving key set back to orders/customer. The
    having-filter runs BEFORE the joins, so at 100 TB only ~1% of order
    keys ever enter a join."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(money_sum(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > Q18_MIN_QTY)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


def q19_disjunctive_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Discounted revenue under an OR-of-conjuncts predicate (TPC-H Q19
    shape): three (brand, size-range, quantity-range) branches OR'd
    together over fact ⋈ broadcast part. Catalyst's CNF conversion
    (SPARK-31705) extracts the part-only disjunction (brand/size) and
    pushes it to the part scan, and the lineitem-only quantity
    disjunction to the fact scan — so at 100 TB the fact scan skips
    row groups outside quantity ∈ [1, 30] before the join runs."""
    branch = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


Q7_NATION_A, Q7_NATION_B = "NATION_1", "NATION_2"
Q7_LO, Q7_HI = "1996-01-01", "1998-01-01"
Q8_REGION, Q8_NATION, Q8_TYPE = "AMERICA", "NATION_3", "ECONOMY"
Q9_NAME_FRAGMENT = "gear"
Q11_SHARE = 0.001
Q17_BRAND = "Brand#2"
Q15_LO, Q15_HI = "1996-01-01", "1996-04-01"


def q7_volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Bilateral shipping volume between two nations by year (TPC-H Q7
    shape). The nation filter lands on BOTH dimension sides before any
    fact join, so customer and supplier shrink to 2/25 nations and
    broadcast; the only big shuffle is lineitem ⋈ orders."""
    n = nation.filter(F.col("n_name").isin(Q7_NATION_A, Q7_NATION_B)).select(
        "n_nationkey", "n_name"
    )
    cust = (
        customer.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    supp = (
        supplier.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(Q7_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q7_HI).cast("timestamp"))
    )
    pair = (
        (F.col("supp_nation") == Q7_NATION_A) & (F.col("cust_nation") == Q7_NATION_B)
    ) | ((F.col("supp_nation") == Q7_NATION_B) & (F.col("cust_nation") == Q7_NATION_A))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


def q8_market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """National market share within a region (TPC-H Q8 shape): the
    numerator/denominator are two conditional decimal sums in ONE
    aggregation pass; the share division happens once per output row so
    both engines hit the same IEEE result."""
    cust_region = (
        customer.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == Q8_REGION)),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp_nation = (
        supplier.join(
            F.broadcast(nation.select("n_nationkey", F.col("n_name"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    ords = orders.filter(
        (F.col("o_orderdate") >= F.lit(Q7_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q7_HI).cast("timestamp"))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,8)")
    zero = F.lit(0).cast("decimal(18,8)")
    agg = (
        lineitem.join(
            F.broadcast(part.filter(F.col("p_type") == Q8_TYPE).select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_region), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == Q8_NATION, rev).otherwise(zero)
            ).alias("_num"),
            F.sum(rev).alias("_den"),
        )
    )
    return agg.select(
        "o_year",
        F.round(
            F.col("_num").cast("double") / F.col("_den").cast("double"), 6
        ).alias("mkt_share"),
        F.col("_num").cast("double").alias("nation_revenue"),
        F.col("_den").cast("double").alias("total_revenue"),
    )


def q9_product_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """Profit by supplier nation and year (TPC-H Q9 shape, adapted: the
    testdata has no partsupp, so supply cost is proxied as 10% of
    p_retailprice per unit). Part filter is a substring match — it
    cannot push to the scan as a range, but it DOES broadcast, so the
    fact is pre-pruned by the join before the wide shuffle."""
    pf = part.filter(F.col("p_name").contains(Q9_NAME_FRAGMENT)).select(
        "p_partkey", "p_retailprice"
    )
    supp_nation = (
        supplier.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.lit(0.1) * F.col("l_quantity")
    return (
        lineitem.join(F.broadcast(pf), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(money_sum(amount).alias("sum_profit"))
    )


def q11_important_parts(lineitem: DataFrame) -> DataFrame:
    """Parts holding an outsized share of total traded value (TPC-H Q11
    shape, adapted to lineitem): per-part exact-decimal value vs a
    global-total scalar — the scalar is ONE row, broadcast into the
    filter, so the per-part aggregate never reshuffles. Both sides
    compute value from the raw rows (never by re-summing doubles), so
    the share comparison is IEEE-identical across engines."""
    value = F.col("l_extendedprice") * F.col("l_quantity")
    per_part = lineitem.groupBy("l_partkey").agg(
        money_sum(value).alias("part_value")
    )
    total = lineitem.agg(money_sum(value).alias("_total"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("_total") * Q11_SHARE)
        .select("l_partkey", "part_value")
    )


def q13_customer_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Distribution of customers by order count (TPC-H Q13 shape): LEFT
    OUTER join so zero-order customers keep a 0 bucket, then a
    two-level aggregation — the second groupBy has ≤ max-orders keys,
    so the heavy shuffle happens exactly once on c_custkey."""
    per_cust = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").alias("custdist")
    )


def q15_top_supplier(lineitem: DataFrame, supplier: DataFrame) -> DataFrame:
    """Top supplier(s) by quarterly revenue (TPC-H Q15 shape): the
    correlated MAX over the revenue view is a one-row aggregate cross-
    broadcast into the filter (a global window would drag the whole
    view to one partition). Ties (exact-decimal revenue) all surface,
    as in the spec."""
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(Q15_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q15_HI).cast("timestamp"))
    )
    revenue = (
        li.groupBy("l_suppkey")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    top = revenue.join(
        F.broadcast(revenue.agg(F.max("total_revenue").alias("_max")))
    ).filter(F.col("total_revenue") == F.col("_max"))
    return (
        top.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q16_supplier_variety(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Supplier variety per part attribute combo (TPC-H Q16 shape,
    adapted to lineitem supply relationships): COUNT(DISTINCT suppkey)
    per (brand, type, size) after anti-filtering one brand/type — the
    distinct runs inside the (brand,type,size)-keyed aggregation, so
    partial aggregation still applies to the distinct pairs."""
    pf = part.filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        lineitem.join(F.broadcast(pf), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q17_small_quantity_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Average yearly revenue lost if small-quantity orders stop (TPC-H
    Q17 shape): the per-part average quantity is a window over the SAME
    l_partkey shuffle the join already created — no second shuffle, no
    self-join. The 0.2·avg threshold is decimal-sum ÷ count, one IEEE
    divide, so the row filter matches the oracle exactly."""
    pf = part.filter(F.col("p_brand") == Q17_BRAND).select("p_partkey")
    w = Window.partitionBy("l_partkey")
    joined = lineitem.join(
        F.broadcast(pf), F.col("l_partkey") == F.col("p_partkey")
    ).withColumn(
        "_avg_qty",
        F.sum(F.col("l_quantity").cast("decimal(18,8)")).over(w).cast("double")
        / F.count("*").over(w),
    )
    small = joined.filter(F.col("l_quantity") < F.lit(0.2) * F.col("_avg_qty"))
    return small.agg(
        (money_sum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly")
    )


def q22_global_sales_opportunity(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Wealthy never-ordered customers by country code (TPC-H Q22 shape,
    adapted: country code ≡ nationkey mod 10). Three pieces that all
    avoid big shuffles: a one-row global average (broadcast), a LEFT
    ANTI join against orders (semi-join shuffle, no row widening), and
    a ≤10-key final aggregate."""
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,8)")).cast("double")
            / F.count("*")
        ).alias("_avg_bal")
    )
    return (
        customer.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.pmod(F.col("c_nationkey"), F.lit(10)).cast("long").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            money_sum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


Q20_LO, Q20_HI = "1996-01-01", "1997-01-01"


def q20_promotable_suppliers(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """Suppliers holding an outsized share of a part's shipments
    (TPC-H Q20 shape; no partsupp table, so "availqty > ½ shipped"
    becomes "supplier's shipped qty > ½ of the part's per-supplier
    average" — the same nested-semi-join-with-correlated-threshold
    plan). The per-part threshold is a broadcast aggregate joined back
    (never a window over the fact), parts pre-filtered by name prefix
    before touching lineitem, and the comparison is kept in exact
    integer/decimal arithmetic (2·qty·cnt > total avoids a decimal
    division both engines would round differently)."""
    pf = part.filter(F.col("p_name").startswith("b")).select("p_partkey")
    li = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(Q20_LO).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(Q20_HI).cast("timestamp"))
        )
        .join(F.broadcast(pf), F.col("l_partkey") == F.col("p_partkey"))
    )
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,8)")).alias("qty")
    )
    per_part = per_ps.groupBy("l_partkey").agg(
        F.sum("qty").alias("total_qty"), F.count("*").alias("n_supp")
    )
    keep = (
        per_ps.join(F.broadcast(per_part), "l_partkey")
        .filter(
            F.col("qty") * 2 * F.col("n_supp") > F.col("total_qty")
        )
        .select("l_suppkey")
        .distinct()
    )
    return (
        keep.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


Q21_LATE_DAYS = 60


def q21_waiting_suppliers(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    top: int = 20,
) -> DataFrame:
    """Suppliers who alone held up multi-supplier finished orders
    (TPC-H Q21 shape; no commit/receipt dates, so "late" is shipping
    > 60 days after the order date). The EXISTS (another supplier on
    the order) and NOT EXISTS (another LATE supplier on the order)
    become one left-semi and one left-anti self-join on l_orderkey —
    both shuffle-partitioned by the same key as the base, so the three
    passes co-locate; supplier/nation dims broadcast at the end onto
    the per-supplier counts."""
    fo = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
    late = (
        li.join(fo, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {Q21_LATE_DAYS} DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    multi = late.join(
        others,
        (F.col("l_orderkey") == F.col("o2_orderkey"))
        & (F.col("l_suppkey") != F.col("o2_suppkey")),
        "left_semi",
    )
    other_late = late.select(
        F.col("l_orderkey").alias("o3_orderkey"), F.col("l_suppkey").alias("o3_suppkey")
    )
    sole = multi.join(
        other_late,
        (F.col("l_orderkey") == F.col("o3_orderkey"))
        & (F.col("l_suppkey") != F.col("o3_suppkey")),
        "left_anti",
    )
    counts = sole.groupBy("l_suppkey").agg(F.count("*").alias("numwait"))
    # Global top-k via orderBy().limit() → TakeOrderedAndProject: each
    # partition ships only its local top-k, so no single-reducer sort
    # even when |suppliers| scales with the corpus (s_name is unique per
    # supplier, so the order — and the selected set — is deterministic).
    return (
        counts.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(top)
    )


def orders_daily_cumulative(orders: DataFrame) -> DataFrame:
    """Daily order revenue with a year-to-date running total. The
    cumulative sum is a ROWS-frame window over exact DECIMAL partials —
    order-independent — partitioned by year so no single reducer ever
    holds the whole history (the 100 TB version of a global running
    total)."""
    daily = orders.groupBy(F.to_date("o_orderdate").alias("order_date")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,8)")).alias("_rev"),
        F.count("*").alias("n_orders"),
    )
    w = (
        Window.partitionBy(F.year("order_date"))
        .orderBy("order_date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "order_date",
        "n_orders",
        F.col("_rev").cast("double").alias("day_revenue"),
        F.sum("_rev").over(w).cast("double").alias("cum_revenue_ytd"),
    )


def user_retention_cohorts(events: DataFrame) -> DataFrame:
    """Cohort retention: users bucketed by first-activity day, counted
    per week offset since their cohort day. One shuffle on user_id
    serves both the distinct-day dedup and the window min (cohort
    assignment); the final (cohort, week) aggregate is tiny."""
    ud = events.select(
        "user_id", F.to_date("ts").alias("active_date")
    ).distinct()
    cohorted = ud.withColumn(
        "cohort_date", F.min("active_date").over(Window.partitionBy("user_id"))
    )
    return (
        cohorted.groupBy(
            "cohort_date",
            F.floor(
                F.datediff("active_date", F.col("cohort_date")) / 7
            ).cast("long").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


def event_type_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types per user (lead over one user_id/ts window sort), with the
    per-source transition share computed from BIGINT counts — no float
    accumulation, one IEEE divide per output row."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counted = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_transitions")
    )
    wt = Window.partitionBy("from_type")
    return counted.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(wt), 6
        ).alias("share"),
    )


def value_range_window(events: DataFrame) -> DataFrame:
    """Self-range-join twin of ``value_range_join``: same ±0.5
    same-type collision counting, but via a RANGE-frame window — one
    sort per event_type, O(n log n), and the candidate pairs are never
    materialized (the bucket join builds ~n·density rows first). The
    frame boundary arithmetic (value ± 0.5 then compare) is IEEE-stable,
    and the oracle runs the identical window so both engines place
    boundary ties identically. sum_collision_ids replaces the join
    twin's min_collision_id because a frame cannot exclude the current
    row from a MIN, but subtracting self from SUM is exact."""
    frame = (
        "OVER (PARTITION BY event_type ORDER BY value "
        "RANGE BETWEEN 0.5 PRECEDING AND 0.5 FOLLOWING)"
    )
    return events.selectExpr(
        "event_id",
        f"CAST(count(*) {frame} - 1 AS BIGINT) AS n_collisions",
        f"CAST(sum(event_id) {frame} - event_id AS BIGINT) AS sum_collision_ids",
    ).filter(F.col("n_collisions") > 0)


# Columns profiled by lineitem_column_stats, with their numeric
# projection for min/max (timestamps → epoch micros; strings → NULL so
# cross-engine string formatting never enters the hash compare).
_STATS_COLS: dict[str, str | None] = {
    "l_orderkey": "l_orderkey",
    "l_partkey": "l_partkey",
    "l_suppkey": "l_suppkey",
    "l_quantity": "l_quantity",
    "l_extendedprice": "l_extendedprice",
    "l_discount": "l_discount",
    "l_returnflag": None,
    "l_linestatus": None,
    "l_shipdate": "unix_micros(l_shipdate)",
}


def lineitem_column_stats(lineitem: DataFrame) -> DataFrame:
    """ANALYZE-style column statistics: one row per profiled column with
    row/null/exact-NDV counts and numeric min/max — the stats a
    cost-based optimizer or data-quality monitor collects.

    Single-pass shape: all columns' aggregates (including the multiple
    COUNT(DISTINCT)s, which Catalyst plans via one Expand + one
    aggregate) run in ONE scan, then the 1-row wide result is unpivoted
    driver-side via stack(). At 100 TB swap the exact NDVs for
    approx_count_distinct to drop the Expand fan-out; kept exact here
    so the DuckDB oracle is the same computation."""
    aggs = [F.count("*").alias("n_rows")]
    for c, num in _STATS_COLS.items():
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            (F.min(F.expr(num)) if num else F.lit(None)).cast("double").alias(f"{c}__mn"),
            (F.max(F.expr(num)) if num else F.lit(None)).cast("double").alias(f"{c}__mx"),
        ]
    wide = lineitem.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__mn, {c}__mx" for c in _STATS_COLS
    )
    return wide.selectExpr(
        "n_rows",
        f"stack({len(_STATS_COLS)}, {stack}) AS (column_name, n_non_null, n_distinct, min_value, max_value)",
    ).select(
        "column_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_non_null").cast("long").alias("n_non_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_value",
        "max_value",
    )


def _view_purchase_union(events: DataFrame, k: int, *aggs: F.Column) -> DataFrame:
    """The union sketch of the view and purchase users' KMV sketches."""
    d = (
        events.filter(F.col("event_type").isin("view", "purchase"))
        .select("event_type", hash32("user_id").alias(U))
        .distinct()
    )
    return sketch.union(sketch.bottom_k(d, ["event_type"], k), [], k, *aggs)


def _union_fraction(
    un: DataFrame, by: list[str], k: int, hits: F.Column, n: str, frac: str, est: str
) -> DataFrame:
    """Per ``by`` group of a union sketch: its size, the ``hits`` count
    among its hashes (as ``n``), their fraction, the union's KMV
    estimate and fraction × union estimate (as ``est``)."""
    size = F.col("sketch_size")
    union_est = sketch.kmv_estimate(size, F.col("theta_int"), k)
    return sketch.bounds(un, by, F.sum(F.when(hits, 1).otherwise(0)).alias("_n")).select(
        *by,
        "sketch_size",
        F.col("_n").cast("long").alias(n),
        F.round(F.col("_n") / size, 6).alias(frac),
        F.round(union_est, 4).alias("union_est"),
        F.round(F.col("_n") / size * union_est, 4).alias(est),
    )


def kmv_view_purchase_overlap(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """Set-intersection estimate between two distinct-user sets (view ∩
    purchase) from KMV sketches — the theta-sketch set operation built
    on the engine's deterministic md5 hash, so even this *approximate*
    op has an exact value-hash oracle.

    Shape: one distinct over (type, hash) for both sides, the sketch
    union of the two (tiny) sketches, and the Jaccard estimated as the
    fraction of union-sketch members present in both sides;
    |A∩B| ≈ jaccard · (k−1)/U_k. Everything after the first distinct
    runs on ≤2k rows."""
    return _union_fraction(
        _view_purchase_union(events, k),
        [],
        k,
        F.col("_sides") == 2,
        "n_in_both",
        "jaccard_est",
        "intersection_est",
    )


def kmv_view_not_purchase(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """Theta-style A-NOT-B set difference from KMV sketches: distinct
    users who VIEWED but never PURCHASED. Same union sketch as
    ``kmv_view_purchase_overlap`` (a union-sketch hash that belongs to a
    side is provably inside that side's own sketch, so membership flags
    are exact); the difference estimate is the A∧¬B fraction of the
    union sketch × the union estimate. Deterministic md5 hashing ⇒
    full value-hash oracle despite being an approximate operator."""
    purchased = sketch.member(F.col("event_type") == "purchase").alias("_purchased")
    return _union_fraction(
        _view_purchase_union(events, k, purchased),
        [],
        k,
        F.col("_purchased") == 0,
        "n_a_not_b",
        "a_not_b_frac",
        "difference_est",
    )


ANOMALY_Z = 2.0


def events_hourly_anomalies(events: DataFrame) -> DataFrame:
    """Operational anomaly detection: hours whose event count deviates
    more than ``ANOMALY_Z`` standard deviations from that event type's
    hourly mean.

    Two aggregations (hour grain, then per-type moments) and one
    broadcast join of the tiny per-type stats back onto hour rows.
    The moments are EXACT integer sums (counts and squared counts), so
    mean/variance/z reduce to one fixed IEEE expression over exact
    inputs — deterministic across engines and partitionings, unlike
    stddev_samp whose float accumulation is order-dependent."""
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
        "event_type",
    ).agg(F.count("*").alias("n_events"))
    # Squared terms accumulate in DECIMAL(38,0) (Spark) / HUGEINT
    # (DuckDB): exact at any realistic scale, and the later cast to
    # double is the same IEEE rounding in both engines. The s² term is
    # computed double×double — NOT in 64-bit integers, which would wrap
    # once a type's total count passes ~3e9 (√LONG_MAX).
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("_hours"),
        F.sum("n_events").alias("_s"),
        F.sum(F.col("n_events").cast("decimal(19,0)") * F.col("n_events")).alias("_sq"),
    )
    mean = F.col("_s").cast("double") / F.col("_hours")
    var = (
        F.col("_sq").cast("double")
        - F.col("_s").cast("double") * F.col("_s").cast("double") / F.col("_hours")
    ) / (F.col("_hours") - 1)
    z = (F.col("n_events") - mean) / F.sqrt(var)
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .filter((F.col("_hours") > 1) & (var > 0))
        .withColumn("z_score", F.round(z, 6))
        .filter(F.abs(F.col("z_score")) > ANOMALY_Z)
        .select(
            "event_type",
            "hour_ts",
            F.col("n_events").cast("long").alias("n_events"),
            "z_score",
        )
    )


SAMPLE_SKETCH_K = 256


def _sample_percentiles(sample: DataFrame) -> DataFrame:
    return sample.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_sample"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


def sampled_value_percentiles(events: DataFrame, k: int = SAMPLE_SKETCH_K) -> DataFrame:
    """Approximate percentiles from a DETERMINISTIC uniform sample: per
    event type keep the k rows with smallest md5(event_id) (the KMV
    trick applied to sampling) and take exact percentiles of the
    sample. Like the KMV distinct sketch — and unlike t-digest — the
    estimate is hash-deterministic, so this approximate operator has a
    full value-hash oracle; sampling error vs the exact twin is
    asserted separately in tests."""
    rows = events.select("event_type", "event_id", "value")
    return _sample_percentiles(sketch.hash_sample(rows, ["event_type"], "event_id", k))


def sampled_daily_merge_percentiles(
    events: DataFrame, k: int = SAMPLE_SKETCH_K
) -> DataFrame:
    """Mergeable-rollup form of ``sampled_value_percentiles``: per
    (day, type) keep each day's k hash-smallest rows (the daily sample
    table — KBs per partition at 100 TB), then MERGE per type by
    re-selecting the k hash-smallest over the union. A row in the
    global hash-top-k is top-k within its own day, so the merge is
    provably lossless: bit-identical estimates to the direct sample,
    one shared oracle, equality asserted in tests."""
    rows = events.select("event_type", "event_id", "value", "ts")
    daily = sketch.hash_sample(rows, [F.to_date("ts"), F.col("event_type")], "event_id", k)
    return _sample_percentiles(sketch.hash_sample(daily, ["event_type"], "event_id", k))


# Power-of-two bin width: value / W, bucket * W and the in-bucket
# interpolation are all exact IEEE operations, so the estimate is
# bit-identical in any engine — which is what gives this approximate
# sketch a full value-hash oracle (unlike t-digest/KLL, whose
# compactions are order- or RNG-dependent).
HIST_BIN_WIDTH = 16.0
HIST_PCTS = (0.5, 0.9, 0.99)


def _hist_percentiles_from(hist: DataFrame, width: float) -> DataFrame:
    """Percentile estimates from an (event_type, bucket, c) histogram:
    cumulative counts locate the target bucket for each percentile, a
    linear interpolation inside it refines the estimate (error ≤ one
    bin width, asserted vs the exact twin in tests). The cumulative
    window is partitioned by event_type over ≤ range/width bucket rows
    per type — never a global or data-proportional sort."""
    wc = Window.partitionBy("event_type").orderBy("bucket")
    cum = hist.withColumn("cum", F.sum("c").over(wc)).withColumn(
        "cum_prev", F.col("cum") - F.col("c")
    )
    tot = hist.groupBy("event_type").agg(F.sum("c").alias("n"))
    j = cum.join(F.broadcast(tot), "event_type")
    outs = []
    for p in HIST_PCTS:
        rank = F.ceil(F.lit(p) * F.col("n")).cast("double")
        est = F.when(
            (F.col("cum") >= rank) & (F.col("cum_prev") < rank),
            F.col("bucket") * F.lit(width)
            + F.lit(width) * (rank - F.col("cum_prev")) / F.col("c"),
        )
        outs.append(F.round(F.max(est), 4).alias(f"p{int(p * 100)}"))
    return j.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_values"), *outs
    )


def hist_value_percentiles(
    events: DataFrame, width: float = HIST_BIN_WIDTH
) -> DataFrame:
    """Fixed-bin histogram quantile sketch (the deterministic analog of
    DDSketch's bucketed quantiles — Masson et al., VLDB 2019 — with
    linear power-of-two bins instead of log-γ ones so both engines
    compute identical buckets): one map-side-combining aggregation
    builds per-type bucket counts, percentiles read off the cumulative
    histogram. State is O(range/width) per type regardless of row
    count, and the sketch is trivially mergeable (bucket-count sums) —
    see ``hist_daily_merge_percentiles`` for the provably lossless
    rollup form."""
    hist = (
        events.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.floor(F.col("value") / F.lit(width)).cast("long").alias("bucket"),
        )
        .agg(F.count("*").alias("c"))
    )
    return _hist_percentiles_from(hist, width)


def hist_daily_merge_percentiles(
    events: DataFrame, width: float = HIST_BIN_WIDTH
) -> DataFrame:
    """Mergeable-rollup form of ``hist_value_percentiles``: per
    (day, type) bucket counts — the KB-sized daily sketch table a
    100 TB pipeline would persist — merged per type by SUMMING bucket
    counts. Integer count addition is exact and commutative, so the
    merged histogram is bit-identical to the direct one and the
    estimates are provably lossless under any merge order/partitioning:
    same oracle, equality asserted in tests."""
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy(
            F.to_date("ts").alias("_day"),
            "event_type",
            F.floor(F.col("value") / F.lit(width)).cast("long").alias("bucket"),
        )
        .agg(F.count("*").alias("_dc"))
    )
    merged = daily.groupBy("event_type", "bucket").agg(F.sum("_dc").alias("c"))
    return _hist_percentiles_from(merged, width)


@scoped
def value_percentiles_2pass(events: DataFrame, n_bins: int = 1024) -> DataFrame:
    """EXACT p50/p90/p99 per event type without any per-group sort —
    the distributed selection algorithm (two histogram passes, in the
    spirit of Munro & Paterson's selection-in-rounds):

    1. per-type count/min/max (one agg);
    2. per-type fixed-bin histogram over [min, max] (one agg) →
       cumulative counts locate, for every percentile, the bucket
       holding each needed order statistic;
    3. only rows in those target buckets (expected n/n_bins per type)
       are re-ranked with a small partitioned window; the global rank
       = bucket offset + local rank picks the two order statistics,
       and the standard idx = p·(n−1) linear interpolation reproduces
       ``percentile()`` bit-for-bit — so this APPROXIMATION-FREE scale
       path shares the exact oracle of ``value_percentiles``.

    At 100 TB: every stage is a hash-shuffle agg or a broadcast of
    per-type bucket metadata (≤ n_bins rows/type); the only sort is
    within target buckets (data/n_bins rows, worst-case bounded by
    value-tie skew). The exact twin's ``percentile()`` instead sorts
    every group's full value list in one task."""
    vals = query_scope().persist(
        events.filter(F.col("value").isNotNull()).select("event_type", "value")
    )
    stats = vals.groupBy("event_type").agg(
        F.count("*").alias("_n"), F.min("value").alias("_mn"), F.max("value").alias("_mx")
    )
    bwidth = (F.col("_mx") - F.col("_mn")) / n_bins
    bucket = F.when(F.col("_mx") > F.col("_mn"),
        F.least(F.lit(n_bins - 1), F.floor((F.col("value") - F.col("_mn")) / bwidth)),
    ).otherwise(F.lit(0)).cast("long")
    hist = (
        vals.join(F.broadcast(stats), "event_type")
        .withColumn("_b", bucket)
        .groupBy("event_type", "_b")
        .agg(F.count("*").alias("_c"))
    )
    wc = Window.partitionBy("event_type").orderBy("_b")
    cum = hist.withColumn("_cum_prev", F.sum("_c").over(wc) - F.col("_c"))

    # (type, percentile) → the two 1-indexed order-statistic ranks the
    # interpolation needs, tagged lo/hi: r1 = floor(p·(n−1))+1 and
    # r2 = min(n, r1+1). One exploded frame serves bucket location AND
    # result assembly, so the ranked-candidates subtree below is built
    # exactly once (joining it twice — once per order statistic — would
    # instantiate the whole refine pass twice).
    pct_rows = F.explode(
        F.array(*[
            F.struct(
                F.lit(p).alias("_p"),
                (F.floor(F.lit(p) * (F.col("_n") - 1)) + 1).alias("_r1"),
            )
            for p in (0.5, 0.9, 0.99)
        ])
    )
    targets = (
        stats.select("event_type", "_n", pct_rows.alias("_t"))
        .select(
            "event_type", "_n", F.col("_t._p").alias("_p"),
            F.col("_t._r1").alias("_r1"),
            F.least(F.col("_n"), F.col("_t._r1") + 1).alias("_r2"),
        )
    )
    lo_hi = F.explode(
        F.array(
            F.struct(F.lit(1).alias("_w"), F.col("_r1").alias("_r")),
            F.struct(F.lit(2).alias("_w"), F.col("_r2").alias("_r")),
        )
    )
    needs = targets.select("event_type", "_n", "_p", lo_hi.alias("_t")).select(
        "event_type", "_n", "_p", F.col("_t._w").alias("_w"), F.col("_t._r").alias("_r")
    )
    ranks = needs.select("event_type", "_r").distinct()
    located = ranks.join(
        cum,
        (ranks["event_type"] == cum["event_type"])
        & (F.col("_cum_prev") < F.col("_r"))
        & (F.col("_r") <= F.col("_cum_prev") + F.col("_c")),
    ).select(ranks["event_type"], "_r", "_b", "_cum_prev")

    # refine: rank only the rows inside target buckets
    tb = located.select("event_type", "_b").distinct()
    cand = (
        vals.join(F.broadcast(stats), "event_type")
        .withColumn("_b", bucket)
        .join(F.broadcast(tb), ["event_type", "_b"], "left_semi")
    )
    wv = Window.partitionBy("event_type", "_b").orderBy("value")
    ranked = cand.select("event_type", "_b", "value").withColumn(
        "_rk", F.row_number().over(wv)
    )
    os_vals = ranked.join(
        F.broadcast(located),
        ["event_type", "_b"],
    ).filter(F.col("_cum_prev") + F.col("_rk") == F.col("_r")).select(
        "event_type", "_r", F.col("value").alias("_v")
    )

    # assemble: v1 + (idx − floor(idx)) · (v2 − v1), idx = p·(n−1)
    hits = os_vals.join(F.broadcast(needs), ["event_type", "_r"])
    idx = F.col("_p") * (F.col("_n") - 1)
    per_pct = hits.groupBy("event_type", "_p").agg(
        F.max("_n").alias("_n"),
        F.max(F.when(F.col("_w") == 1, F.col("_v"))).alias("_v1"),
        F.max(F.when(F.col("_w") == 2, F.col("_v"))).alias("_v2"),
    ).select(
        "event_type", "_p",
        (F.col("_v1") + (idx - F.floor(idx)) * (F.col("_v2") - F.col("_v1"))).alias(
            "_est"
        ),
    )
    return per_pct.groupBy("event_type").agg(
        *[
            F.round(F.max(F.when(F.col("_p") == p, F.col("_est"))), 4).alias(
                f"p{int(p * 100)}"
            )
            for p in (0.5, 0.9, 0.99)
        ]
    )


def customer_rfm_segments(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """RFM segmentation: per customer the recency (days since last
    order, against the global max order date), frequency (order count)
    and monetary (exact-decimal total spend), each cut into quartiles
    by VALUE against the exact 25/50/75th-percentile boundaries,
    concatenated into the classic 'RFM' segment code.

    Scale shape: one aggregation over orders, then ONE one-row
    percentile aggregate over the (scope-persisted) per-customer
    rollup, broadcast back for a CASE-style bucket assignment — no
    global sort anywhere, so the plan holds when |customers| is
    hundreds of millions (the previous ntile(4) formulation was three
    single-partition sorts). Boundary semantics: quartile k+1 starts
    strictly above the k·25th interpolated percentile (ties at a
    boundary share the lower bucket); both engines compute the same
    linear-interpolated percentile over exact inputs, so the oracle is
    a value-hash match, not approximate.

    The rollup subtree feeds both the boundary aggregate and the
    scoring pass; it is deliberately NOT cached here — at bench scale
    recomputing the map-side-combined agg is ~2× cheaper than a cache
    materialization (measured), while a 100 TB deployment would persist
    the (tiny) rollup output to avoid a second raw-orders scan."""
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("_last"),
        F.count("*").alias("frequency"),
        money_sum(F.col("o_totalprice")).alias("monetary"),
    )
    bounds = orders.agg(F.max("o_orderdate").alias("_gmax"))
    base = per_cust.join(F.broadcast(bounds)).select(
        "o_custkey",
        F.datediff(F.col("_gmax"), F.col("_last")).cast("long").alias("recency_days"),
        F.col("frequency").cast("long").alias("frequency"),
        "monetary",
    )
    qb = base.agg(
        F.expr("percentile(recency_days, array(0.25, 0.5, 0.75))").alias("_rb"),
        F.expr("percentile(frequency, array(0.25, 0.5, 0.75))").alias("_fb"),
        F.expr("percentile(cast(monetary as double), array(0.25, 0.5, 0.75))").alias(
            "_mb"
        ),
    )

    def _bucket_up(col: F.Column, b: str) -> F.Column:
        # ascending metric: quartile 1 = smallest values
        return sum(
            (F.when(col > F.col(b)[i], 1).otherwise(0) for i in range(3)), F.lit(1)
        )

    def _bucket_down(col: F.Column, b: str) -> F.Column:
        # descending metric: quartile 1 = largest values
        return sum(
            (F.when(col < F.col(b)[i], 1).otherwise(0) for i in range(3)), F.lit(1)
        )

    scored = base.join(F.broadcast(qb)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        _bucket_up(F.col("recency_days"), "_rb").alias("r_q"),
        _bucket_down(F.col("frequency"), "_fb").alias("f_q"),
        _bucket_down(F.col("monetary").cast("double"), "_mb").alias("m_q"),
    )
    return (
        scored.join(
            F.broadcast(customer.select("c_custkey", "c_name")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            "recency_days",
            "frequency",
            "monetary",
            F.concat(
                F.col("r_q").cast("string"),
                F.col("f_q").cast("string"),
                F.col("m_q").cast("string"),
            ).alias("rfm_segment"),
        )
    )


def events_hourly_gapfill(events: DataFrame) -> DataFrame:
    """Dense hourly activity grid: one row for EVERY (event_type, hour)
    between the corpus min and max hour, with zero-filled counts and a
    gap flag — the time-series densification step dashboards and
    forecasting models need (sparse aggregates silently skip empty
    hours; models must see them).

    Scale shape: the corpus contributes one hour-grain aggregate (one
    shuffle with map-side partials); the grid itself is calendar ×
    types — ``sequence()`` on a ONE-ROW bounds aggregate cross-joined
    with the distinct type table (both broadcast, ≤ hours×types rows ≈
    9k/year/type), then one broadcast-able join back to the hourly
    counts. The raw events table is scanned exactly once and never
    materializes a dense row set."""
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"), "event_type"
    ).agg(F.count("*").alias("n"))
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("_lo"),
        F.date_trunc("hour", F.max("ts")).alias("_hi"),
    )
    types = events.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("_lo"), F.col("_hi"), F.expr("INTERVAL 1 HOUR"))
            ).alias("hour_ts"),
        )
    )
    return grid.join(hourly, ["event_type", "hour_ts"], "left").select(
        "event_type",
        "hour_ts",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        F.col("n").isNull().alias("is_gap"),
    )


def kmv_type_overlap_matrix(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """Pairwise distinct-user overlap across ALL event-type pairs from
    per-type KMV sketches — the theta-sketch similarity matrix
    (audience overlap analysis) generalizing the two-set
    ``kmv_view_purchase_overlap``.

    For every unordered type pair, the k smallest hashes of the union
    are re-selected from the two per-type sketches (a union-top-k hash
    is provably inside its own side's top-k, so membership flags are
    exact); jaccard_est is the both-sides fraction of that union
    sketch and intersection_est scales it by the union estimate.

    Scale shape: the ONLY corpus-sized stage is the initial distinct
    on (type, user-hash). Sketches are ≤ T·k rows; the pair expansion
    joins them to the T² pair list via broadcast, and every window
    below runs per-pair on ≤ 2k rows — the matrix costs O(T²·k)
    regardless of corpus size. Deterministic md5 hashing ⇒ full
    value-hash oracle despite being an approximate operator."""
    d = events.select("event_type", hash32("user_id").alias(U)).distinct()
    sk = sketch.bottom_k(d, ["event_type"], k)
    types = d.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .crossJoin(types.select(F.col("event_type").alias("type_b")))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    members = pairs.join(
        F.broadcast(sk),
        (F.col("event_type") == F.col("type_a"))
        | (F.col("event_type") == F.col("type_b")),
    )
    by = ["type_a", "type_b"]
    return _union_fraction(
        sketch.union(members, by, k),
        by,
        k,
        F.col("_sides") == 2,
        "n_in_both",
        "jaccard_est",
        "intersection_est",
    )


JSE_MOD = 16


def join_size_estimate(
    orders: DataFrame, lineitem: DataFrame, p_mod: int = JSE_MOD
) -> DataFrame:
    """Join-cardinality estimation by KEY-SYNCHRONIZED hash sampling —
    the planner-style "how big would orders ⋈ lineitem be?" probe that
    answers before paying for the real join.

    Both sides keep only rows whose JOIN-KEY hash ≡ 0 (mod p_mod): the
    same keys survive on both sides, so the sampled join is an unbiased
    1/p_mod universe sample of the true join (key-level sampling is
    exact for join estimation where independent row-level sampling is
    famously biased — per-key fan-out products survive intact).
    Estimate = sampled pairs × p_mod. The md5 key hash is the engine-
    shared deterministic one (``sketch.hash32``), so even this sampling
    operator is value-hash oracle-able.

    Scale shape: both scans prune to ~1/p_mod of rows BEFORE the
    shuffle (the hash filter pushes into the scan stage); the sampled
    join then shuffles only the surviving slice — cost is 1/p_mod of
    the real join's."""
    ok = hash32("o_orderkey") % p_mod == 0
    lk = hash32("l_orderkey") % p_mod == 0
    o = orders.filter(ok).select("o_orderkey")
    l = lineitem.filter(lk).select("l_orderkey")
    joined = o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
    return joined.agg(
        F.count("*").cast("long").alias("sampled_pairs"),
        (F.count("*") * p_mod).cast("long").alias("est_pairs"),
        F.round(F.lit(1.0) / p_mod, 6).alias("sample_rate"),
    )


def events_grouping_sets(events: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS — the general form rollup/cube are sugar
    for: per (day, type), per type across all days, and the grand
    total, but NOT per-day subtotals (a set neither ROLLUP nor CUBE
    can express). One pass, one Expand + partial aggregation, exactly
    like the rollup/cube twins."""
    # Grouping columns must be pre-projected plain attributes: passing
    # an expression alias (to_date(ts).alias(...)) into groupingSets
    # fails to unify the set member with the output grouping column
    # and silently nulls it in every set.
    base = events.select(
        F.to_date("ts").alias("event_date"), "event_type", "value"
    )
    d, t = F.col("event_date"), F.col("event_type")
    return base.groupingSets([[d, t], [t], []], d, t).agg(
        F.count("*").alias("n_events"),
        money_sum(F.col("value")).alias("sum_value"),
    )


def events_hourly_robust_anomalies(events: DataFrame) -> DataFrame:
    """Median/MAD twin of ``events_hourly_anomalies``: hours whose
    count deviates more than ``ANOMALY_Z`` robust sigmas
    ((n − median) / (1.4826·MAD)) from the type's hourly median —
    immune to the anomalies themselves inflating the baseline, which
    is exactly when the z-score version under-fires.

    Cross-engine exactness: inputs are integer counts, so the exact
    interpolated median and the MAD (medians of dyadic .5 values) are
    bit-identical doubles in both engines; the score is one fixed IEEE
    expression rounded once. Scale: the grouped percentiles sort
    HOUR-GRAIN rows — calendar-bounded (≤ 8.8k hours/year/type),
    independent of raw event volume, same argument as the 7-day
    moving average."""
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
        "event_type",
    ).agg(F.count("*").alias("n_events"))
    med = hourly.groupBy("event_type").agg(
        F.percentile("n_events", 0.5).alias("med")
    )
    dev = hourly.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("n_events") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.percentile("ad", 0.5).alias("mad"))
    rz = (F.col("n_events") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("mad") > 0)
        .withColumn("robust_z", F.round(rz, 6))
        .filter(F.abs(F.col("robust_z")) > ANOMALY_Z)
        .select(
            "event_type",
            "hour_ts",
            F.col("n_events").cast("long").alias("n_events"),
            "robust_z",
        )
    )


COPURCHASE_TOP_K = 50


def part_copurchase_lift(lineitem: DataFrame, k: int = COPURCHASE_TOP_K) -> DataFrame:
    """Market-basket affinity over order baskets: for the top-k
    co-purchased part pairs, support counts and lift
    P(a,b) / (P(a)·P(b)) — the association-rule primitive behind
    "frequently bought together".

    Scale shape: the self-join is keyed on l_orderkey with per-order
    fan-out C(m,2) bounded by basket size (m ≤ 7 in TPC-H; real carts
    are similarly capped — a df-cap on pathological baskets is the
    standard guard), part supports and the order total derive from the
    distinct (order, part) stream, the two support joins run on the
    pair-count table, and the final cut is TakeOrdered — never a
    global sort."""
    items = lineitem.select("l_orderkey", "l_partkey").distinct()
    a = items.select(
        "l_orderkey", F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        "l_orderkey", F.col("l_partkey").alias("part_b")
    )
    pair_counts = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_ab"))
    )
    supports = items.groupBy("l_partkey").agg(F.count("*").alias("n_orders"))
    total = items.agg(F.countDistinct("l_orderkey").alias("n_total"))
    lift = (F.col("n_ab").cast("double") * F.col("n_total")) / (
        F.col("n_a") * F.col("n_b").cast("double")
    )
    return (
        pair_counts.join(
            supports.select(
                F.col("l_partkey").alias("part_a"), F.col("n_orders").alias("n_a")
            ),
            "part_a",
        )
        .join(
            supports.select(
                F.col("l_partkey").alias("part_b"), F.col("n_orders").alias("n_b")
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(total))
        .orderBy(F.col("n_ab").desc(), "part_a", "part_b")
        .limit(k)
        .select(
            F.col("part_a").cast("long").alias("part_a"),
            F.col("part_b").cast("long").alias("part_b"),
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(lift, 6).alias("lift"),
        )
    )


CUSUM_K = 0.5
CUSUM_H = 5.0


def events_cusum_changepoints(events: DataFrame) -> DataFrame:
    """CUSUM level-shift detection over the hourly count series of each
    event type: standardized deviations accumulate in a one-sided sum
    that resets at zero (slack ``CUSUM_K``); hours where either side
    exceeds ``CUSUM_H`` flag a sustained shift — the classic
    complement to pointwise z/robust anomaly scoring (which misses
    slow drifts).

    The recurrence s_i = max(0, s_{i-1} + x_i) is not a plain window
    sum, but it IS expressible exactly: s_i = p_i − min(p_0..p_i)
    where p is the running prefix sum — so both engines compute it
    with two stacked window functions over the hour series, no UDF,
    no iteration. Windows partition by type over calendar-bounded
    hour rows (same scale argument as the robust twin); the per-type
    mean/std baseline reuses the exact integer moments."""
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
        "event_type",
    ).agg(F.count("*").alias("n_events"))
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("_hours"),
        F.sum("n_events").alias("_s"),
        F.sum(F.col("n_events").cast("decimal(19,0)") * F.col("n_events")).alias(
            "_sq"
        ),
    )
    mean = F.col("_s").cast("double") / F.col("_hours")
    var = (
        F.col("_sq").cast("double")
        - F.col("_s").cast("double") * F.col("_s").cast("double") / F.col("_hours")
    ) / (F.col("_hours") - 1)
    based = (
        hourly.join(F.broadcast(stats), "event_type")
        .filter((F.col("_hours") > 1) & (var > 0))
        .select(
            "event_type",
            "hour_ts",
            F.col("n_events").cast("long").alias("n_events"),
            F.round((F.col("n_events") - mean) / F.sqrt(var), 8).alias("_z"),
        )
    )
    # Prefix sums accumulate in exact DECIMAL: a float running SUM's
    # association order is an engine implementation detail (DuckDB may
    # use a segment tree where Spark adds sequentially), so doubles
    # here could drift at the last ulp between engines.
    w = Window.partitionBy("event_type").orderBy("hour_ts")
    wmin = w.rowsBetween(Window.unboundedPreceding, 0)
    zero = F.lit(0).cast("decimal(28,8)")
    up_p = F.sum(
        F.round(F.col("_z") - CUSUM_K, 8).cast("decimal(18,8)")
    ).over(wmin)
    dn_p = F.sum(
        F.round(-F.col("_z") - CUSUM_K, 8).cast("decimal(18,8)")
    ).over(wmin)
    scored = (
        based.withColumn("_up_p", up_p)
        .withColumn("_dn_p", dn_p)
        .withColumn(
            "cusum_up",
            F.round(
                (
                    F.col("_up_p") - F.least(F.min("_up_p").over(wmin), zero)
                ).cast("double"),
                6,
            ),
        )
        .withColumn(
            "cusum_down",
            F.round(
                (
                    F.col("_dn_p") - F.least(F.min("_dn_p").over(wmin), zero)
                ).cast("double"),
                6,
            ),
        )
    )
    return scored.filter(
        (F.col("cusum_up") > CUSUM_H) | (F.col("cusum_down") > CUSUM_H)
    ).select("event_type", "hour_ts", "n_events", "cusum_up", "cusum_down")


PARETO_TOP_PCT = 0.01


def orders_revenue_concentration(orders: DataFrame) -> DataFrame:
    """Revenue concentration (the Pareto question): what share of total
    revenue the top-1%-by-revenue customers hold, plus the customer
    counts behind it — the one-row health metric behind "do a handful
    of accounts carry the business".

    Scale shape: per-customer rollup (one shuffle, map-side partials),
    the cutoff revenue from one exact interpolated percentile over the
    per-customer frame (scale path: approx_percentile, same swap as
    the RFM boundaries), broadcast back as a one-row bound, then one
    conditional aggregate. Money stays in exact DECIMAL until the
    final share division."""
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    cut = per_cust.agg(
        F.percentile(F.col("rev").cast("double"), 1.0 - PARETO_TOP_PCT).alias("_cut")
    )
    agg = per_cust.crossJoin(F.broadcast(cut)).agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum(F.when(F.col("rev").cast("double") >= F.col("_cut"), 1).otherwise(0))
        .cast("long")
        .alias("n_top"),
        F.sum("rev").alias("_total"),
        F.sum(
            F.when(F.col("rev").cast("double") >= F.col("_cut"), F.col("rev")).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        ).alias("_top_rev"),
    )
    return agg.select(
        "n_customers",
        "n_top",
        F.col("_total").cast("double").alias("total_revenue"),
        F.col("_top_rev").cast("double").alias("top_revenue"),
        F.round(
            F.col("_top_rev").cast("double") / F.col("_total").cast("double"), 6
        ).alias("top_share"),
    )


PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 3
PAGERANK_SCALE = 12
PAGERANK_CHECKPOINT_EVERY = 5


def part_pagerank(
    lineitem: DataFrame,
    iters: int = PAGERANK_ITERS,
    checkpoint_every: int = PAGERANK_CHECKPOINT_EVERY,
) -> DataFrame:
    """PageRank over the undirected part co-purchase graph (nodes =
    parts, edges = distinct same-order part pairs): the canonical
    iterative graph algorithm, done the way Spark wants it — each
    round is one edges⋈ranks join plus one groupBy on the destination
    key, nothing ever reaches the driver.

    Cross-engine exactness for an iterative float algorithm: every
    per-edge contribution r(src)/deg(src) is an IEEE double division
    rounded to ``PAGERANK_SCALE`` places, summed as exact
    DECIMAL(38,18) (order-independent under any partitioning), and
    each new rank is re-rounded — so ranks stay bit-identical between
    Spark and the oracle's unrolled-CTE form by induction over rounds.
    Undirected edges mean deg ≥ 1 for every node: no dangling-mass
    term.

    Scale shape: the edge list is built once and eagerly
    ``localCheckpoint``-ed (the basket self-join is planned a single
    time; each round replans only the shallow join/agg subtree), and
    ``ranks`` itself is localCheckpoint-ed every ``checkpoint_every``
    rounds so the logical plan depth is bounded by a constant rather
    than growing one join+agg per iteration; the per-round shuffle is
    keyed on part — high-cardinality, no skew; the one-row node count
    broadcasts. Rounds are O(log ε⁻¹) in practice and fixed here so
    the output is deterministic."""
    items = lineitem.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
    )
    edges = (
        pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
        .localCheckpoint()
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    n_total = deg.agg(F.count("*").alias("n_nodes"))
    ranks = deg.crossJoin(F.broadcast(n_total)).select(
        "node",
        "deg",
        "n_nodes",
        F.round(F.lit(1.0) / F.col("n_nodes"), PAGERANK_SCALE).alias("r"),
    )
    for i in range(iters):
        # Truncate the growing per-iteration lineage: without this the
        # logical plan nests one join+agg deeper every round, inflating
        # planning time and task binaries at high iteration counts
        # (VERDICT r3 item 3). Ranks are rounded at every step, so the
        # materialization is value-identical to the lazy plan.
        if checkpoint_every and i and i % checkpoint_every == 0:
            ranks = ranks.localCheckpoint()
        # r9: PIN the per-round joins to sort-merge (guide §3.1 — pick
        # the strategy deliberately). Under the raised broadcast
        # threshold the planner broadcasts the rank/deg sides, and each
        # iteration's broadcast build is a SEPARATE sequential job —
        # the nested builds serialize the whole loop (measured 21.3s
        # vs 9.7s at sf0.1). SMJ keeps every round inside one
        # pipeline-scheduled job with stable co-partitioning — and at
        # 100 TB the rank/deg sides are corpus-sized, where SMJ is the
        # only correct choice anyway.
        contrib = edges.join(
            ranks.select(F.col("node").alias("src"), "deg", "r").hint("merge"),
            "src",
        ).select(
            F.col("dst").alias("node"),
            F.round(F.col("r") / F.col("deg"), PAGERANK_SCALE)
            .cast("decimal(38,18)")
            .alias("c"),
        )
        ranks = (
            contrib.groupBy("node")
            .agg(F.sum("c").alias("_s"))
            .join(deg.hint("merge"), "node")
            .crossJoin(F.broadcast(n_total))
            .select(
                "node",
                "deg",
                "n_nodes",
                F.round(
                    F.lit(1.0 - PAGERANK_DAMPING) / F.col("n_nodes")
                    + F.lit(PAGERANK_DAMPING) * F.col("_s").cast("double"),
                    PAGERANK_SCALE,
                ).alias("r"),
            )
        )
    return ranks.select(
        F.col("node").cast("long").alias("part"),
        F.col("deg").cast("long").alias("degree"),
        F.round(F.col("r"), 6).alias("pagerank"),
    )


@scoped
def part_triangles(lineitem: DataFrame) -> DataFrame:
    """Triangle counts + local clustering coefficient per part over the
    undirected co-purchase graph — the standard graph-health metric
    (community density) next to ``part_pagerank``'s centrality.

    Degree-ordered compact-forward enumeration: every undirected edge
    is oriented from the lower-(degree, id) endpoint to the higher, so
    per-node out-degree is O(√m) and wedge work is O(m^1.5) — the
    textbook bound — instead of the Σdeg² blowup a hub suffers under
    naive id-ordering. Each triangle is then found exactly once: a
    wedge (x→y, x→z) with rank(y) < rank(z) closed by the oriented
    edge y→z. Three hash-joins on part keys, one groupBy; clustering
    coefficient = 2T / (deg·(deg−1)) in one rounded division."""
    # r9 (guide §2.4): hash-partition by l_orderkey up front — the
    # (l_orderkey, l_partkey) distinct needs no further exchange
    # (subset rule) and BOTH sides of the basket self-join arrive
    # pre-partitioned on the join key, so the join is exchange-free.
    par = lineitem.sparkSession.sparkContext.defaultParallelism
    items = (
        lineitem.repartition(par, "l_orderkey")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
        .localCheckpoint()
    )
    scope = query_scope()
    # r9 (guide §5 caching rule — reused AND expensive to recompute):
    # ``deg`` feeds the two ranking joins AND the final report join,
    # and ``oriented`` feeds THREE consumers (both wedge legs + the
    # closing-edge probe); unpersisted, the pairs⋈deg⋈deg double join
    # re-ran per consumer (measured 60s → 23s at sf0.1 from these two
    # persists alone).
    deg = scope.persist(
        pairs.select(F.col("pa").alias("node"))
        .unionAll(pairs.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ranked = (
        pairs.join(deg.select(F.col("node").alias("pa"), F.col("deg").alias("da")), "pa")
        .join(deg.select(F.col("node").alias("pb"), F.col("deg").alias("db")), "pb")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
    )
    oriented = scope.persist(
        ranked.select(
            F.when(lower_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
            F.when(lower_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
            F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dst_deg"),
        )
    )
    e1 = oriented.select("src", F.col("dst").alias("y"), F.col("dst_deg").alias("dy"))
    e2 = oriented.select("src", F.col("dst").alias("z"), F.col("dst_deg").alias("dz"))
    wedges = e1.join(e2, "src").filter(
        (F.col("dy") < F.col("dz"))
        | ((F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z")))
    )
    closing = oriented.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    tris = wedges.join(closing, ["y", "z"]).select("src", "y", "z")
    # r10 (guide §2.4 — remove duplicated subtrees): the three-way
    # union of per-corner projections re-ran the WHOLE wedge join
    # pipeline once per branch (the r9 plan shows three copies of the
    # e1⋈e2⋈closing subtree under Union(100)); exploding each triangle
    # row into its three corners enumerates the 41M-row wedge stream
    # exactly ONCE. Same multiset of corner rows ⇒ identical counts,
    # oracle unchanged.
    member = (
        tris.select(F.explode(F.array("src", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.join(member, "node", "left")
        .select(
            F.col("node").cast("long").alias("part"),
            F.col("deg").cast("long").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("deg") > 1,
                F.round(
                    F.lit(2.0)
                    * F.coalesce(F.col("triangles"), F.lit(0))
                    / (F.col("deg").cast("double") * (F.col("deg") - 1)),
                    6,
                ),
            ).alias("clustering_coeff"),
        )
    )


ATTRIBUTION_WINDOW_DAYS = 7


def view_purchase_attribution(
    events: DataFrame, window_days: int = ATTRIBUTION_WINDOW_DAYS
) -> DataFrame:
    """Linear multi-touch attribution: every purchase's value is split
    evenly across the user's views in the preceding ``window_days``,
    and the credit is rolled up by the DAY THE VIEW HAPPENED — the
    marketing-analytics complement of the last-touch as-of join
    (which credits only the final view).

    Scale shape: one equi-join on user_id builds the (purchase, view)
    touch table — fan-out is bounded by per-user activity inside the
    window, not corpus size; the per-purchase touch count is a window
    count on the purchase key (second keyed shuffle); day rollup is an
    ordinary partial agg. Credit divisions are rounded then summed in
    exact DECIMAL, so the split is engine-identical and the day total
    is order-independent."""
    win_us = int(window_days) * 86_400 * 1_000_000
    us = F.unix_micros("ts")
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", us.alias("pus"), "value"
    )
    v = events.filter(F.col("event_type") == "view").select(
        "user_id", us.alias("vus"), F.to_date("ts").alias("view_date")
    )
    touches = p.join(v, "user_id").filter(
        (F.col("vus") < F.col("pus")) & (F.col("vus") >= F.col("pus") - F.lit(win_us))
    )
    w = Window.partitionBy("pid")
    credited = touches.withColumn("n_touch", F.count("*").over(w)).select(
        "view_date",
        F.round(F.col("value") / F.col("n_touch"), 9)
        .cast("decimal(28,12)")
        .alias("credit"),
    )
    return credited.groupBy("view_date").agg(
        F.count("*").cast("long").alias("n_touches"),
        F.round(F.sum("credit").cast("double"), 6).alias("attributed_revenue"),
    )


def events_seasonality(events: DataFrame) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap — the seasonality
    panel of an ops dashboard (ingest dips, batch-window spikes and
    weekend effects all read directly off this grid), and the load
    profile a scheduler consults before placing heavy refreshes. One
    row per (day_of_week, hour) cell with event count, distinct users
    and the cell's exact share of all events.

    Spark's ``dayofweek`` is 1=Sunday (the dim_time convention; the
    oracle applies DuckDB's +1 correction). One map-side-combined
    aggregation to ≤168 cells; the share divides by a one-row total
    broadcast cross — the tfidf count-cross shape. Zero data-scale
    windows; corpus-linear."""
    cells = events.groupBy(
        F.dayofweek("ts").cast("long").alias("day_of_week"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    total = events.agg(F.count("*").cast("long").alias("_tot"))
    return cells.crossJoin(F.broadcast(total)).select(
        "day_of_week",
        "hour",
        "n_events",
        "n_users",
        F.when(
            F.col("_tot") > 0,
            F.round(F.col("n_events") / F.col("_tot").cast("double"), 6),
        ).alias("share"),
    )


DRIFT_BINS = 10


def drift_bin() -> F.Column:
    """``value``'s bin against frozen per-type edges ``vmin``/``vmax``:
    ``DRIFT_BINS`` equal-width bins, out-of-range values clamped to the
    edge bins, and a constant reference range is a single bin."""
    nb = float(DRIFT_BINS)
    raw_bin = F.floor(
        (F.col("value") - F.col("vmin"))
        / ((F.col("vmax") - F.col("vmin")) / F.lit(nb))
    )
    return (
        F.when(F.col("vmax") == F.col("vmin"), F.lit(0))
        .otherwise(
            F.least(F.lit(nb - 1.0), F.greatest(F.lit(0.0), raw_bin)).cast("int")
        )
        .alias("bin")
    )


def psi_term() -> F.Column:
    """One bin's PSI term from ``ref_c``/``n_ref`` and ``cur_c``/``n_cur``:
    Laplace +0.5 smoothing, rounded to 10 dp as a DECIMAL so the
    per-type sum is exact in both engines."""
    smooth = F.lit(0.5 * DRIFT_BINS)
    p = (F.col("ref_c") + F.lit(0.5)) / (F.col("n_ref") + smooth)
    q = (F.col("cur_c") + F.lit(0.5)) / (F.col("n_cur") + smooth)
    return F.round((p - q) * F.log(p / q), 10).cast("decimal(18,10)").alias("t")


def events_drift_report(events: DataFrame) -> DataFrame:
    """Distribution-drift monitor — PSI + two-sample KS per event_type
    between the first and second half of the observed time range (r7;
    the reference repo's monitoring surface tracks pipeline HEALTH —
    mon_* views over run metadata; this is the model/data-quality
    counterpart every production pipeline bolts on next: "did the
    VALUE distribution shift?").

    Metrics per event_type (reference window = events at or before the
    integer-microsecond midpoint of [min ts, max ts]; current window =
    the rest):
      * PSI — Population Stability Index over ``DRIFT_BINS``
        equal-width bins FROZEN on the reference window's [min, max]
        (the standard monitoring convention: the baseline owns the
        binning), Laplace-smoothed (+0.5 per bin) so empty bins don't
        blow up the log; industry rule of thumb: < 0.1 stable,
        0.1-0.25 drifting, > 0.25 shifted.
      * KS — the exact two-sample Kolmogorov–Smirnov statistic
        max |ECDF_ref − ECDF_cur|.
      * mean_ref / mean_cur for eyeballing direction.
    Event types need rows in BOTH windows to have a drift measure
    (types absent from either half are excluded, like an untrained
    monitor).

    Scale shape: the midpoint is one global min/max (map-side
    combined) broadcast as a one-row cross; binning + counts are
    map-side-combined aggregations keyed by (type, bin) — ≤ |types|·B
    rows ever shuffle for PSI. The exact-KS cumulative window runs
    over the (type, value) DISTINCT-value frame, whose size is bounded
    by the value domain (2-dp readings here), not the event count —
    at 100 TB with an unbounded-cardinality value column you'd swap
    the exact ECDF for the already-binned histogram KS (same code
    shape on the PSI bin table; documented, not needed at this domain).

    Determinism: the midpoint is exact integer arithmetic on epoch
    micros (both engines truncate parquet nanos to micros); bin edges
    chain the same IEEE double ops in the same order in DuckDB; PSI
    terms are rounded 10 dp and DECIMAL-summed; KS distances are
    rounded 8 dp before the MAX; means are 6-dp-rounded DECIMAL sums.
    Full value-hash oracle."""
    ev = events.select(
        "event_type", "value", F.unix_micros(F.col("ts")).alias("us")
    )
    mid = ev.agg(F.min("us").alias("mn"), F.max("us").alias("mx")).select(
        F.expr("mn + (mx - mn) DIV 2").alias("mid")
    )
    tagged = ev.crossJoin(F.broadcast(mid)).select(
        "event_type", "value", (F.col("us") <= F.col("mid")).alias("is_ref")
    )
    edges = (
        tagged.filter(F.col("is_ref"))
        .groupBy("event_type")
        .agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    )
    dec6 = "decimal(18,6)"
    per_type = tagged.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).cast("long").alias("n_ref"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).cast("long").alias("n_cur"),
        F.sum(F.when(F.col("is_ref"), F.round(F.col("value"), 6).cast(dec6))).alias(
            "sum_ref"
        ),
        F.sum(F.when(~F.col("is_ref"), F.round(F.col("value"), 6).cast(dec6))).alias(
            "sum_cur"
        ),
    )
    binned = tagged.join(edges, "event_type").select(
        "event_type", "is_ref", drift_bin()
    )
    grid = edges.select(
        "event_type",
        F.explode(F.sequence(F.lit(0), F.lit(DRIFT_BINS - 1))).alias("bin"),
    )
    bc = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("ref_c"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("cur_c"),
    )
    fullb = grid.join(bc, ["event_type", "bin"], "left").select(
        "event_type",
        F.coalesce("ref_c", F.lit(0)).alias("ref_c"),
        F.coalesce("cur_c", F.lit(0)).alias("cur_c"),
    )
    psi = (
        fullb.join(per_type.select("event_type", "n_ref", "n_cur"), "event_type")
        .select("event_type", psi_term())
        .groupBy("event_type")
        .agg(F.sum("t").alias("s"))
    )
    vcounts = tagged.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("ref_c"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("cur_c"),
    )
    wv = Window.partitionBy("event_type").orderBy("value")
    cum = vcounts.select(
        "event_type",
        F.sum("ref_c").over(wv).alias("cr"),
        F.sum("cur_c").over(wv).alias("cc"),
    )
    ks = (
        cum.join(per_type.select("event_type", "n_ref", "n_cur"), "event_type")
        .select(
            "event_type",
            F.round(
                F.abs(F.col("cr") / F.col("n_ref") - F.col("cc") / F.col("n_cur")), 8
            ).alias("d"),
        )
        .groupBy("event_type")
        .agg(F.max("d").alias("ks_d"))
    )
    return (
        per_type.join(psi, "event_type")
        .join(ks, "event_type")
        .filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            F.round(F.col("sum_ref").cast("double") / F.col("n_ref"), 6).alias(
                "mean_ref"
            ),
            F.round(F.col("sum_cur").cast("double") / F.col("n_cur"), 6).alias(
                "mean_cur"
            ),
            F.round(F.col("s").cast("double"), 6).alias("psi"),
            "ks_d",
        )
    )
