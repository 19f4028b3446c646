"""Theta-sketch set algebra: union / intersection / A-NOT-B over
DISTINCT-id sets defined by arbitrary predicates (VERDICT r3 item 4 —
"theta sketches beyond KMV").

The KMV family in plans/analytics.py composes one fixed set operation
per query (view∩purchase, view∖purchase). This module is the general
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

The sketch itself — the md5-32 hash, the bottom-k build, the bound,
the candidates below θ and both estimators — lives in
functions/sketch.py and is shared with the KMV family and the hash
samples. Every retained hash, every θ, and every estimate is
bit-reproducible in DuckDB: the approximate operators carry full
value-hash oracles (oracles.py), the same unusual property the KMV
family has.

Scale shape: the only full-data work is one scan + one distinct per
build (shuffle carries (set, hash32) pairs, never ids); the per-set
bottom-k window sorts only within set keys. Everything downstream of
the build runs on ≤ m·k rows (m sets × k=256 hashes — KBs) in one
partition, and per-day sketch tables for the merge forms are bounded
by days × k. At 100 TB the sketches are the ONLY state that crosses
stage boundaries.

Reference parity: the reference's monitoring views count distincts
exactly (monitoring/*.sql); this family is the sketch path those
counts need at fleet scale, same shape as BigQuery's APPROX_COUNT_
DISTINCT + theta-sketch UDF extensions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import sketch
from ..functions.sketch import U, hash32

THETA_K = 256


def build_theta_sketches(
    df: DataFrame, id_col: str, sets: dict[str, Column], k: int = THETA_K
) -> DataFrame:
    """Sketch rows (s, u, theta_int): per set, the k smallest distinct
    hashes and the exclusive hash bound theta_int (= kth+1 when
    saturated, 2^32 when exact). One scan: each input row contributes
    its hashed id to every named set whose predicate it satisfies, as
    an array of names + explode, so Catalyst keeps it one pass."""
    names = F.array(*[F.when(pred, F.lit(name)) for name, pred in sets.items()])
    hashes = df.select(
        F.explode(F.filter(names, lambda x: x.isNotNull())).alias("s"),
        hash32(id_col).alias(U),
    ).distinct()
    return sketch.bottom_k(hashes, ["s"], k)


def _labelled(rows: DataFrame, label: str) -> DataFrame:
    return rows.select(F.lit(label).alias("s"), U, "theta_int")


def theta_union(sketches: DataFrame, k: int = THETA_K) -> DataFrame:
    """Union all sets in ``sketches`` into ONE sketch (s='union'):
    θ = min over inputs, distinct surviving hashes, re-capped to the k
    smallest with θ tightened to the cap bound — the standard bounded
    theta union, so a union of 365 daily sketches still carries ≤ k
    hashes."""
    return _labelled(sketch.union(sketches, [], k), "union")


def _intersection(sketches: DataFrame, n_sets: int) -> tuple[DataFrame, Column]:
    return sketch.below_theta(sketches, []), F.col("_sides") == n_sets


def theta_intersect(sketches: DataFrame, n_sets: int) -> DataFrame:
    """Intersection of all ``n_sets`` sets: θ = min θᵢ; a hash survives
    iff it appears in every set's sketch below θ. The intersection
    sketch is itself a valid theta sketch."""
    cands, keep = _intersection(sketches, n_sets)
    return _labelled(cands.filter(keep), "intersect")


def _difference(sketches: DataFrame, in_a: Column, in_b: Column) -> tuple[DataFrame, Column]:
    cands = sketch.below_theta(
        sketches, [], sketch.member(in_a).alias("_in_a"), sketch.member(in_b).alias("_in_b")
    )
    return cands, (F.col("_in_a") == 1) & (F.col("_in_b") == 0)


def theta_a_not_b(sketch_a: DataFrame, sketch_b: DataFrame) -> DataFrame:
    """A-NOT-B: θ = min(θ_A, θ_B); keep A's hashes below θ that B's
    sketch does not contain (B-membership below θ is exact, so no false
    exclusions)."""
    sides = sketch_a.withColumn("_b", F.lit(False)).unionByName(
        sketch_b.withColumn("_b", F.lit(True))
    )
    cands, keep = _difference(sides, ~F.col("_b"), F.col("_b"))
    return _labelled(cands.filter(keep), "a_not_b")


def theta_estimate(sk: DataFrame, label_col: str = "s") -> DataFrame:
    """One row per sketch label: (s, sketch_size, theta, est) with
    est = |retained| / θ — exact when θ = 1."""
    return (
        sketch.bounds(sk, [label_col])
        .select(
            label_col,
            "sketch_size",
            *sketch.theta_estimate(F.col("sketch_size"), F.col("theta_int"), "est"),
        )
        .orderBy(label_col)
    )


def _one_row_estimate(cands: DataFrame, keep: Column, est_alias: str) -> DataFrame:
    """ALWAYS-one-row estimate of the ``keep`` rows of a set operation's
    candidates: an empty intersection/difference still reports est = 0
    with θ from the candidates, which a non-empty input never leaves
    empty."""
    kept = F.col("_kept")
    return sketch.bounds(cands, [], F.count_if(keep).cast("long").alias("_kept")).select(
        kept.alias("sketch_size"),
        *sketch.theta_estimate(kept, F.col("theta_int"), est_alias),
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
    return _one_row_estimate(sketch.union(sk, [], k), F.lit(True), "union_users_est")


def theta_intersect_segment_users(events: DataFrame, k: int = THETA_K) -> DataFrame:
    """|high_value ∩ weekend ∩ purchase| distinct users via sketch
    intersection — one row (sketch_size, theta, intersection_users_est)."""
    sets = _segment_sets()
    cands, keep = _intersection(build_theta_sketches(events, "user_id", sets, k), len(sets))
    return _one_row_estimate(cands, keep, "intersection_users_est")


def theta_anotb_segment_users(events: DataFrame, k: int = THETA_K) -> DataFrame:
    """|high_value ∖ purchase| distinct users (high-value users who
    never purchased) via sketch A-NOT-B — one row (sketch_size, theta,
    anotb_users_est)."""
    sets = _segment_sets()
    sk = build_theta_sketches(
        events, "user_id", {"high_value": sets["high_value"], "purchase": sets["purchase"]}, k
    )
    cands, keep = _difference(sk, F.col("s") == "high_value", F.col("s") == "purchase")
    return _one_row_estimate(cands, keep, "anotb_users_est")


def theta_daily_merge_events(events: DataFrame, k: int = THETA_K) -> DataFrame:
    """Mergeable rollup: per-DAY theta sketches of distinct event_ids
    (the tiny daily sketch table a 100 TB pipeline would persist),
    union-merged into one global estimate. Saturates at sf0.01 (≈330
    events/day > k) so the capped-union path is driver-checked, not
    just unit-tested. One row (n_days, sketch_size, theta,
    total_events_est)."""
    d = events.select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("s"),
        hash32("event_id").alias(U),
    ).distinct()
    daily = sketch.bottom_k(d, ["s"], k)
    n_days = daily.agg(F.count_distinct("s").cast("long").alias("n_days"))
    return (
        _one_row_estimate(sketch.union(daily, [], k), F.lit(True), "total_events_est")
        .crossJoin(F.broadcast(n_days))
        .select("n_days", "sketch_size", "theta", "total_events_est")
    )
