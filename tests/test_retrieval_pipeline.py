"""The shared pieces of the lexical pipeline (operators/retrieval): the
df-cap threshold θ and the BM25 stage-1 list the rerank, fusion and RM3
rankers read."""

from __future__ import annotations

import math
import random
import re

import pytest

from healthcare_oltp_to_olap_gcp_spark.catalog import table
from healthcare_oltp_to_olap_gcp_spark.operators import retrieval
from healthcare_oltp_to_olap_gcp_spark.session import scoped

from .conftest import SF001
from .helpers import plan_text


def _rank_rule(dfs: list[int]) -> int:
    """The ⌈V/2⌉-th smallest df."""
    return sorted(dfs)[math.ceil(len(dfs) / 2) - 1]


def _theta_of(spark, dfs: list[int]):
    vocab = spark.createDataFrame(
        [(f"t{i}", d) for i, d in enumerate(dfs)], "term string, df long"
    )
    return vocab.agg(retrieval._theta().alias("theta")).first().theta


@pytest.mark.parametrize(
    "dfs",
    [
        [5],  # V = 1
        [3, 1, 3, 3, 2],  # odd V, ties on θ
        [4, 1, 3, 2],  # even V: the lower middle, not a mean
        [2, 2, 2, 2],  # all tied
        [9, 1, 5, 1, 9, 5],  # even V, ties on both middles
        [7, 7, 1, 8],  # even V, θ tied with the next larger rank
    ],
)
def test_theta_is_the_rank_rule(spark, dfs):
    assert _theta_of(spark, dfs) == _rank_rule(dfs)


def test_theta_matches_the_rank_rule_on_random_vocabularies(spark):
    rng = random.Random(14)
    for _ in range(12):
        dfs = [rng.randint(1, 6) for _ in range(rng.randint(1, 31))]
        assert _theta_of(spark, dfs) == _rank_rule(dfs), dfs


def test_theta_of_an_empty_vocabulary_is_null(spark):
    assert _theta_of(spark, []) is None


def _stage1_cache_reads(df) -> int:
    """Reads of a cached (query_id, doc_id, score, rank) list — the
    BM25 stage-1 list — in ``df``'s formatted plan."""
    return len(
        re.findall(
            r"^\(\d+\) InMemoryRelation\n"
            r"Arguments: \[query_id#\d+L?, doc_id#\d+L?, score#\d+, rank#\d+L?\]",
            plan_text(df),
            re.M,
        )
    )


def test_rankers_of_one_scope_read_one_persisted_stage1_list(spark):
    docs = table(spark, SF001, "documents")
    emb = table(spark, SF001, "embeddings")

    @scoped
    def one_scope():
        return [
            retrieval.bm25_rerank_topk(docs, emb),
            retrieval.hybrid_rrf_topk(docs, emb),
            retrieval.rm3_expansion_topk(docs),
        ]

    for df in one_scope():
        assert _stage1_cache_reads(df) == 1
    # a ranker alone keeps its list pipelined into the rerank
    assert _stage1_cache_reads(retrieval.bm25_rerank_topk(docs, emb)) == 0
