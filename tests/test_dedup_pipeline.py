"""The near-dup pipeline of operators/dedup: the detectors of one query
scope share one shingle table, one hash table and one overlap count."""

from __future__ import annotations

import re

from healthcare_oltp_to_olap_gcp_spark.catalog import table
from healthcare_oltp_to_olap_gcp_spark.operators import dedup
from healthcare_oltp_to_olap_gcp_spark.session import scoped

from .conftest import SF001
from .helpers import plan_details, plan_text


def _reads_cached(plan: str, col: str) -> bool:
    """Whether ``plan`` reads a cached (doc_id, ``col``) relation."""
    return bool(
        re.search(
            rf"^\(\d+\) InMemoryRelation\nArguments: \[doc_id#\d+L?, {col}#\d+\]",
            plan,
            re.M,
        )
    )


def _built(plans: list[str], col: str) -> set[str]:
    """The distinct ``col`` columns the plans compute: a relation read
    from one cache shows its cached plan, so one build prints one id."""
    return {m for p in plans for m in re.findall(rf"AS {col}#\d+", p)}


def test_detectors_of_one_scope_read_one_shingle_and_one_hash_table(spark):
    docs = table(spark, SF001, "documents")

    @scoped
    def one_scope():
        return [
            dedup.ngram_jaccard_pairs(docs),
            dedup.ngram_containment_pairs(docs),
            dedup.minhash_lsh_dup_pairs(docs),
        ]

    plans = [plan_text(df) for df in one_scope()]
    assert all(_reads_cached(p, "shingles") for p in plans)
    assert _reads_cached(plans[2], "hs")
    assert len(_built(plans, "shingles")) == 1
    assert len(_built(plans, "hs")) == 1


def test_recall_report_counts_the_postings_once(spark):
    """The truth set (exact Jaccard) and containment score one overlap
    count: the report plans one posting self-join on the shingle key."""
    plan = plan_text(dedup.neardup_recall_report(table(spark, SF001, "documents")))
    self_joins = [
        b
        for b in plan_details(plan, r"\w+Join")
        if re.search(r"^Left keys \[1\]: \[s#\d+\]$", b, re.M)
    ]
    assert len(self_joins) == 1, self_joins
