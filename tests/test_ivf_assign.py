"""The r6-verdict IVF assignment fix: cell assignment / probe selection
must be a PER-ROW sorted-slice over a one-row broadcast centroid array
— never a materialized n·C frame pushed through a window shuffle.

Two guarantees, asserted here:
1. EQUIVALENCE — the per-row form (`_rank_cells`) produces row-for-row
   the same (cell, cent_sim, probe list) as the legacy broadcast-cross
   + ``row_number() OVER (PARTITION BY id)`` form, for both hash-seeded
   and KMeans-trained centroid tables (same round(·,6) arithmetic, same
   (cdot desc, cent_id asc) tie-break).
2. PLAN SHAPE — no Window executes on an n·C frame: ivf_flat keeps
   exactly ONE Window (the final per-query top-k), knn_graph_edges
   exactly ONE (the per-src edge top-k; the mutual self-join adds
   none), semdedup ZERO.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from healthcare_oltp_to_olap_gcp_spark.operators.similarity import (
    _cents_row,
    _corpus,
    _rank_cells,
    _trained_centroids,
    ivf_flat_ann_topk,
    knn_graph_edges,
    semdedup_embeddings,
)
from healthcare_oltp_to_olap_gcp_spark.functions.vectors import dot

from .conftest import SF001
from .helpers import plan_nodes, plan_text


def _emb(spark):
    return spark.read.parquet(f"{SF001}/embeddings.parquet")


def _seeded_cent(corpus, n):
    return (
        corpus.orderBy(F.md5(F.col("neighbor_id").cast("string")), "neighbor_id")
        .limit(n)
        .select(F.col("neighbor_id").alias("cent_id"), F.col("cv").alias("centroid"))
    )


def _legacy_assign(corpus, cent, n_probe):
    """The pre-r7 window form, verbatim: broadcast-cross the C-row
    centroid table onto the corpus, rank with row_number over
    (cdot desc, cent_id) — the n·C frame + shuffle this round removed.
    Kept here as the equivalence reference."""
    w = Window.partitionBy("neighbor_id").orderBy(F.col("cdot").desc(), F.col("cent_id"))
    return (
        corpus.join(F.broadcast(cent))
        .withColumn("cdot", F.round(dot(F.col("cv"), F.col("centroid")), 6))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_probe)
        .select("neighbor_id", F.col("cent_id").alias("cell"), "cdot", "_rn")
    )


def _perrow_assign(corpus, cent, n_probe):
    return (
        corpus.join(F.broadcast(_cents_row(cent)))
        .select(
            "neighbor_id",
            F.posexplode(F.slice(_rank_cells("cv"), 1, n_probe)).alias("_pos", "_pc"),
        )
        .select(
            "neighbor_id",
            F.col("_pc.cent_id").alias("cell"),
            F.col("_pc.cdot").alias("cdot"),
            (F.col("_pos") + 1).alias("_rn"),
        )
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_perrow_assignment_equals_window_form_seeded(spark):
    corpus = _corpus(_emb(spark))
    cent = _seeded_cent(corpus, 16)
    assert _rows(_perrow_assign(corpus, cent, 4)) == _rows(
        _legacy_assign(corpus, cent, 4)
    )


def test_perrow_assignment_equals_window_form_trained(spark):
    emb = _emb(spark)
    corpus = _corpus(emb)
    cent, _, _ = _trained_centroids(emb, 16)
    assert _rows(_perrow_assign(corpus, cent, 4)) == _rows(
        _legacy_assign(corpus, cent, 4)
    )


def test_perrow_assignment_equals_window_form_grown_c(spark):
    # the deploy-knob regime the fix exists for: C = sqrt(n)-ish, wide
    # enough that ties and ordering get real exercise
    corpus = _corpus(_emb(spark))
    cent = _seeded_cent(corpus, 40)
    assert _rows(_perrow_assign(corpus, cent, 8)) == _rows(
        _legacy_assign(corpus, cent, 8)
    )


def _n_windows(df) -> int:
    # count true Window exec nodes only — "WindowGroupLimit" is the
    # rank-filter pushdown Spark adds below a top-k window, not a
    # per-partition shuffle of its own
    return plan_nodes(plan_text(df), "Window")


def test_ivf_flat_plan_has_single_topk_window(spark):
    assert _n_windows(ivf_flat_ann_topk(_emb(spark))) == 1


def test_knn_graph_edges_plan_has_no_assignment_window(spark):
    # the persisted edge frame feeds both sides of the mutual
    # self-join, so the ONE per-src top-k window can print twice —
    # what must be gone is any window partitioned on the assignment
    # key (vec_id), the old n·C shuffle
    plan = plan_text(knn_graph_edges(_emb(spark)))
    assert "windowspecdefinition(vec_id" not in plan, plan
    assert plan_nodes(plan, "Window") <= 2


def test_semdedup_plan_has_no_window(spark):
    assert _n_windows(semdedup_embeddings(_emb(spark))) == 0


def test_perrow_assignment_equals_window_form_under_heavy_ties(spark):
    """Adversarial tie stress: only 3 distinct vectors across 24 rows,
    so most centroids are duplicates of each other and every assignment
    decision falls through the cdot tie to the cent_id order — the
    exact code path where a comparator bug would diverge from the
    window form silently on natural data."""
    base = [
        [1.0] + [0.0] * 63,
        [0.0, 1.0] + [0.0] * 62,
        [0.6, 0.8] + [0.0] * 62,
    ]
    rows = [(i, [float(x) for x in base[i % 3]], i % 2) for i in range(24)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    corpus = _corpus(emb)
    cent = _seeded_cent(corpus, 8)  # 8 draws over 3 distinct values
    for n_probe in (1, 3, 8):
        assert _rows(_perrow_assign(corpus, cent, n_probe)) == _rows(
            _legacy_assign(corpus, cent, n_probe)
        ), f"divergence at n_probe={n_probe}"


def test_perrow_assignment_equals_window_form_with_nan_vectors(spark):
    """A NaN embedding component propagates to an all-NaN normalization
    (a zero vector, by contrast, cannot reach the comparator at all:
    ANSI mode makes x/0.0 THROW in both forms — asserted below), and
    Spark's window total order puts NaN ABOVE every double (DESC ⇒
    first) while raw >/< on NaN is always false — the comparator must
    branch on isnan explicitly or a NaN-scored cell silently falls to
    the cent_id tie-break. Mix NaN vectors into BOTH the corpus and
    the centroid draw and assert the per-row form still matches the
    window form row-for-row (the Spark-vs-Spark fidelity the oracles
    rely on)."""
    rows = []
    for i in range(20):
        vec = [0.0] * 64
        if i % 5 == 0:
            vec[0] = float("nan")  # NaN component → all-NaN normalization
        else:
            vec[i % 64] = 1.0
            vec[(i + 1) % 64] = 0.5
        rows.append((i, [float(x) for x in vec], i % 2))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    corpus = _corpus(emb)
    cent = _seeded_cent(corpus, 8)
    # the md5 draw must actually include a zero-vector centroid for the
    # NaN-beats-finite branch to be exercised — verify, don't assume
    import math

    cent_rows = cent.collect()
    assert any(math.isnan(r.centroid[0]) for r in cent_rows), (
        "seed draw missed every zero vector; widen the draw"
    )
    for n_probe in (1, 4):
        got = _rows(_perrow_assign(corpus, cent, n_probe))
        want = _rows(_legacy_assign(corpus, cent, n_probe))
        # NaN != NaN under tuple equality — canonicalize
        canon = lambda rs: [
            tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r)
            for r in rs
        ]
        assert canon(got) == canon(want), f"divergence at n_probe={n_probe}"
