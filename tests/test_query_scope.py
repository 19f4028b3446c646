"""The query scope (session.QueryScope): cached frames live until the
next top-level build, nested builders share one scope, memoized values
are keyed by their source frame, and zero-hit report rows read 0.0."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from healthcare_oltp_to_olap_gcp_spark.catalog import table
from healthcare_oltp_to_olap_gcp_spark.operators import retrieval, similarity
from healthcare_oltp_to_olap_gcp_spark.plans import star
from healthcare_oltp_to_olap_gcp_spark.session import QueryScope, query_scope, scoped

from .conftest import SF001
from .helpers import jobs_run, normalize


def _facts(spark):
    events = table(spark, SF001, "events")
    return (
        star.fact_events(events.filter(F.col("event_id") % 2 == 0)),
        star.fact_events(events.filter(F.col("event_id") % 2 == 1)),
    )


@scoped
def _persisting_builder(fact):
    """A builder that persists its input for the rest of its scope."""
    return query_scope().persist(fact).groupBy("user_id").count()


def test_next_top_level_build_releases_previous_frames(spark):
    first, second = _facts(spark)
    _persisting_builder(first)
    assert first.is_cached
    _persisting_builder(second)
    assert not first.is_cached
    assert second.is_cached


def test_nested_builders_share_one_scope(spark):
    first, second = _facts(spark)

    @scoped
    def both():
        return _persisting_builder(first), _persisting_builder(second)

    both()
    assert first.is_cached and second.is_cached
    _persisting_builder(first)  # a new top-level build
    assert not second.is_cached


def test_memo_builds_once_and_caches_none():
    scope = QueryScope()
    calls = []

    def build():
        calls.append(1)
        return None

    assert scope.memo(("k",), build) is None
    assert scope.memo(("k",), build) is None
    assert len(calls) == 1


def test_fit_sample_is_per_corpus_and_empty_corpus_collects_once(spark):
    emb = table(spark, SF001, "embeddings")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    empty = emb.filter(F.col("vec_id") < 0)

    @scoped
    def fits():
        return (
            similarity._fit_sample_matrix(emb, 64),
            similarity._fit_sample_matrix(even, 64),
            similarity._fit_sample_matrix(emb, 64),
        )

    x_all, x_even, x_again = fits()
    assert x_again is x_all  # memoized in the scope
    assert not np.array_equal(x_all, x_even)  # no corpus hits another's entry
    assert np.array_equal(scoped(similarity._fit_sample_matrix)(even, 64), x_even)

    @scoped
    def empty_twice():
        assert similarity._fit_sample_matrix(empty, 64) is None
        assert similarity._fit_sample_matrix(empty, 64) is None

    assert jobs_run(spark, "empty_fit_once", empty_twice) == 1
    # two scopes collect twice: the job count above is not vacuous
    assert jobs_run(spark, "empty_fit_twice", lambda: (empty_twice(), empty_twice())) == 2


def test_bm25_rerank_with_or_without_memoized_vectors(spark):
    docs = table(spark, SF001, "documents")
    emb = table(spark, SF001, "embeddings")
    want = normalize(retrieval.bm25_rerank_topk(docs, emb).toPandas())

    @scoped
    def corpus_only():
        # a scope holding only a persisted corpus, no query frame
        query_scope().persist(similarity._corpus(emb))
        return retrieval.bm25_rerank_topk(docs, emb)

    @scoped
    def report_vectors():
        # the quality report's path: its persisted frames become the
        # rerank vectors
        scope = query_scope()
        corpus = scope.persist(similarity._corpus(emb))
        qs = scope.persist(similarity._queries(emb))
        retrieval._reuse_rerank_vectors(emb, corpus, qs)
        return retrieval.bm25_rerank_topk(docs, emb)

    assert want
    assert normalize(corpus_only().toPandas()) == want
    assert normalize(report_vectors().toPandas()) == want


def test_zero_hit_method_has_recall_zero(spark):
    emb = table(spark, SF001, "embeddings")

    @scoped
    def report():
        k = similarity.DEFAULT_K
        brute = similarity._persist_recall_inputs(emb, k)
        gens = {
            "ivf_flat": similarity._seeded_ivf_flat(emb, 16, 4),
            "none": similarity._no_candidates(emb),
        }
        return similarity._recall_tail(emb, k, gens, brute, "method")

    rows = {r.method: r for r in report().collect()}
    assert rows["none"].n_total > 0
    assert rows["none"].n_hit == 0
    assert rows["none"].recall == 0.0
    assert rows["ivf_flat"].recall > 0.0
