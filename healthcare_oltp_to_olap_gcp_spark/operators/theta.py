"""Theta-sketch set algebra: union / intersection / A-NOT-B over
DISTINCT-id sets defined by arbitrary predicates (VERDICT r3 item 4 —
"theta sketches beyond KMV").

The KMV family in plans/analytics.py hard-codes one set operation per
query (view∩purchase, view∖purchase). This module is the general
algebra: build a bounded sketch per named predicate set, then compose
sketches with the standard theta rules

    union(S₁..Sₘ):  θ = min θᵢ, keep distinct hashes < θ from all
                    sides, re-cap to the k smallest (θ ← k-th bound if
                    capped)  — still mergeable, state stays ≤ k.
    intersect:      θ = min θᵢ, keep hashes < θ present in EVERY side.
    a_not_b:        θ = min(θ_A, θ_B), keep A-hashes < θ absent from B.

and estimate |set| = |retained| / θ  (θ normalized to (0, 1]). A set
with fewer than k distinct ids has θ = 1 and is EXACT, so the algebra
degrades to exact set arithmetic on small sets — the estimates below
are exact until saturation and unbiased after it.

Determinism/oracle: hashes come from the engine-shared md5 transform
(plans/analytics._kmv_hash — first 8 md5 hex digits as an integer), so
every retained hash, every θ, and every estimate is bit-reproducible
in DuckDB: the approximate operators carry full value-hash oracles
(oracles.py), the same unusual property the KMV family has.

Scale shape: the only full-data work is one scan + one distinct per
build (shuffle carries (set, hash32) pairs, never ids); the per-set
top-k window sorts only within set keys. Everything downstream of the
build runs on ≤ m·k rows (m sets × k=256 hashes — KBs), and per-day
sketch tables for the merge forms are bounded by days × k. At 100 TB
the sketches are the ONLY state that crosses stage boundaries.

Reference parity: the reference's monitoring views count distincts
exactly (monitoring/*.sql); this family is the sketch path those
counts need at fleet scale, same shape as BigQuery's APPROX_COUNT_
DISTINCT + theta-sketch UDF extensions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.rank import top_k
from ..plans.analytics import _KMV_SCALE, _kmv_hash

THETA_K = 256
# Exclusive upper bound of the 32-bit hash domain: an exact (unsaturated)
# sketch has theta_int = 2^32, i.e. theta = 1.0.
_THETA_EXACT = 1 << 32


def _stack_predicate_sets(
    df: DataFrame, id_col: str, sets: dict[str, Column]
) -> DataFrame:
    """One scan → (s, u) rows: each input row contributes its hashed id
    to every named set whose predicate it satisfies. Expressed as an
    array-of-names + explode so Catalyst keeps it one pass, no union of
    m filtered scans."""
    names = F.array(
        *[F.when(pred, F.lit(name)) for name, pred in sets.items()]
    )
    return (
        df.select(
            F.explode(F.filter(names, lambda x: x.isNotNull())).alias("s"),
            _kmv_hash(F.col(id_col)).alias("u"),
        )
        .distinct()
    )


def build_theta_sketches(
    df: DataFrame, id_col: str, sets: dict[str, Column], k: int = THETA_K
) -> DataFrame:
    """Sketch rows (s, u, theta_int): per set, the k smallest distinct
    hashes and the exclusive hash bound theta_int (= kth+1 when
    saturated, 2^32 when exact). All retained rows satisfy
    u < theta_int by construction."""
    d = _stack_predicate_sets(df, id_col, sets)
    return _sketch_from_hashes(d, k)


def _sketch_from_hashes(d: DataFrame, k: int) -> DataFrame:
    """(s, u) distinct hash rows → (s, u, theta_int) sketch rows."""
    kept = top_k(d, ["s"], ["u"], k)
    theta = kept.groupBy("s").agg(
        F.when(F.count("*") < k, F.lit(_THETA_EXACT))
        .otherwise(F.max("u") + 1)
        .alias("theta_int")
    )
    return kept.join(F.broadcast(theta), "s").select("s", "u", "theta_int")


def theta_union(sketches: DataFrame, k: int = THETA_K) -> DataFrame:
    """Union all sets in ``sketches`` into ONE sketch (s='union'):
    θ = min over inputs, distinct surviving hashes, re-capped to the k
    smallest with θ tightened to the cap bound — the standard bounded
    theta union, so a union of 365 daily sketches still carries ≤ k
    hashes. Input sketch frames are ≤ m·k rows; this is driver-free
    metadata-scale work."""
    theta_min = sketches.agg(F.min("theta_int").alias("_tmin"))
    surv = (
        sketches.crossJoin(F.broadcast(theta_min))
        .filter(F.col("u") < F.col("_tmin"))
        .select("u", "_tmin")
        .distinct()
    )
    capped = top_k(surv, [], ["u"], k)
    theta = capped.agg(
        F.when(F.count("*") < k, F.min("_tmin"))
        .otherwise(F.least(F.min("_tmin"), F.max("u") + 1))
        .alias("theta_int")
    )
    return capped.crossJoin(F.broadcast(theta)).select(
        F.lit("union").alias("s"), "u", "theta_int"
    )


def theta_intersect(sketches: DataFrame, n_sets: int) -> DataFrame:
    """Intersection of all ``n_sets`` sets: θ = min θᵢ; a hash survives
    iff it appears in every set's sketch below θ. Membership below θ is
    exact within each sketch (a hash < θ ≤ θᵢ is inside set i's own
    top-k by definition), so the intersection sketch is itself a valid
    theta sketch."""
    theta_min = sketches.agg(F.min("theta_int").alias("_tmin"))
    surv = (
        sketches.crossJoin(F.broadcast(theta_min))
        .filter(F.col("u") < F.col("_tmin"))
        .groupBy("u", "_tmin")
        .agg(F.count("*").alias("_sides"))
        .filter(F.col("_sides") == n_sets)
    )
    return surv.select(
        F.lit("intersect").alias("s"), "u", F.col("_tmin").alias("theta_int")
    )


def theta_a_not_b(sketch_a: DataFrame, sketch_b: DataFrame) -> DataFrame:
    """A-NOT-B: θ = min(θ_A, θ_B); keep A's hashes below θ that B's
    sketch does not contain. B-membership below θ is exact (same
    argument as intersect), so no false exclusions."""
    tb = sketch_b.agg(F.min("theta_int").alias("_tb"))
    ta = sketch_a.agg(F.min("theta_int").alias("_ta"))
    b_hashes = sketch_b.select(F.col("u").alias("_ub")).distinct()
    return (
        sketch_a.crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .withColumn("_tmin", F.least("_ta", "_tb"))
        .filter(F.col("u") < F.col("_tmin"))
        .join(F.broadcast(b_hashes), F.col("u") == F.col("_ub"), "left_anti")
        .select(F.lit("a_not_b").alias("s"), "u", F.col("_tmin").alias("theta_int"))
    )


def theta_estimate(sketch: DataFrame, label_col: str = "s") -> DataFrame:
    """One row per sketch label: (s, sketch_size, theta, est) with
    est = |retained| / θ — exact when θ = 1."""
    return (
        sketch.groupBy(label_col)
        .agg(
            F.count("*").cast("long").alias("sketch_size"),
            F.round(F.min("theta_int") / F.lit(_KMV_SCALE), 10).alias("theta"),
            F.round(
                F.count("*") / (F.min("theta_int") / F.lit(_KMV_SCALE)), 4
            ).alias("est"),
        )
        .orderBy(label_col)
    )


def _one_row_estimate(
    result: DataFrame, inputs: DataFrame, est_alias: str
) -> DataFrame:
    """ALWAYS-one-row estimate for a set-operation result: an empty
    intersection/difference must still report est = 0, with θ taken
    from the input sketches when the result carries no rows."""
    agg = result.agg(
        F.count("*").cast("long").alias("sketch_size"),
        F.min("theta_int").alias("_t"),
    )
    fallback = inputs.agg(F.min("theta_int").alias("_tf"))
    theta_norm = F.coalesce(F.col("_t"), F.col("_tf")) / F.lit(_KMV_SCALE)
    return agg.crossJoin(F.broadcast(fallback)).select(
        "sketch_size",
        F.round(theta_norm, 10).alias("theta"),
        F.round(F.col("sketch_size") / theta_norm, 4).alias(est_alias),
    )


# ---------------------------------------------------------------------------
# Registered query forms (arbitrary-predicate demonstrations; oracles.py
# carries the bit-identical DuckDB mirrors).
# ---------------------------------------------------------------------------

HIGH_VALUE = 100.0


def _segment_sets() -> dict[str, Column]:
    """Three overlapping user segments defined by ARBITRARY predicates —
    a value threshold, a calendar predicate, and a categorical one —
    exactly the ad-hoc segment algebra exact COUNT(DISTINCT) can't do
    incrementally at scale."""
    return {
        "high_value": F.col("value") >= HIGH_VALUE,
        "weekend": F.dayofweek("ts").isin(1, 7),
        "purchase": F.col("event_type") == "purchase",
    }


def theta_segment_users(events: DataFrame, k: int = THETA_K) -> DataFrame:
    """Per-segment distinct-user estimates from one scan: the build op
    exposed directly (s, sketch_size, theta, est)."""
    sk = build_theta_sketches(events, "user_id", _segment_sets(), k)
    return theta_estimate(sk).select(
        F.col("s").alias("segment"), "sketch_size", "theta", F.col("est").alias("users_est")
    )


def theta_union_segment_users(events: DataFrame, k: int = THETA_K) -> DataFrame:
    """|high_value ∪ weekend ∪ purchase| distinct users via sketch
    union — one row (sketch_size, theta, union_users_est)."""
    sk = build_theta_sketches(events, "user_id", _segment_sets(), k)
    return _one_row_estimate(theta_union(sk, k), sk, "union_users_est")


def theta_intersect_segment_users(events: DataFrame, k: int = THETA_K) -> DataFrame:
    """|high_value ∩ weekend ∩ purchase| distinct users via sketch
    intersection — one row (sketch_size, theta, intersection_users_est)."""
    sk = build_theta_sketches(events, "user_id", _segment_sets(), k)
    return _one_row_estimate(
        theta_intersect(sk, len(_segment_sets())), sk, "intersection_users_est"
    )


def theta_anotb_segment_users(events: DataFrame, k: int = THETA_K) -> DataFrame:
    """|high_value ∖ purchase| distinct users (high-value users who
    never purchased) via sketch A-NOT-B — one row (sketch_size, theta,
    anotb_users_est)."""
    sets = _segment_sets()
    sk = build_theta_sketches(
        events, "user_id", {"high_value": sets["high_value"], "purchase": sets["purchase"]}
    )
    a = sk.filter(F.col("s") == "high_value")
    b = sk.filter(F.col("s") == "purchase")
    return _one_row_estimate(theta_a_not_b(a, b), sk, "anotb_users_est")


def theta_daily_merge_events(events: DataFrame, k: int = THETA_K) -> DataFrame:
    """Mergeable rollup: per-DAY theta sketches of distinct event_ids
    (the tiny daily sketch table a 100 TB pipeline would persist),
    union-merged into one global estimate. Saturates at sf0.01 (≈330
    events/day > k) so the capped-union path is driver-checked, not
    just unit-tested. One row (n_days, sketch_size, theta,
    total_events_est)."""
    d = events.select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("s"),
        _kmv_hash(F.col("event_id")).alias("u"),
    ).distinct()
    daily = _sketch_from_hashes(d, k)
    n_days = daily.agg(F.count_distinct("s").cast("long").alias("n_days"))
    merged = theta_union(daily, k)
    return (
        _one_row_estimate(merged, daily, "total_events_est")
        .crossJoin(F.broadcast(n_days))
        .select("n_days", "sketch_size", "theta", "total_events_est")
    )
