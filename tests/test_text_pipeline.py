"""The text statistics of operators/textquality read the corpus's one
term-count table (operators/corpus): a scope's text statistics and
lexical rankers share one postings relation, and the log-log fits
share one tail."""

from __future__ import annotations

import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from healthcare_oltp_to_olap_gcp_spark.catalog import table
from healthcare_oltp_to_olap_gcp_spark.operators import retrieval, textquality
from healthcare_oltp_to_olap_gcp_spark.session import scoped

from .conftest import SF001
from .helpers import assert_parity, plan_text


def _postings_reads(plan: str) -> int:
    """Reads of a cached (doc_id, term, tf, dl) relation in ``plan``."""
    return len(
        re.findall(
            r"^\(\d+\) InMemoryRelation\n"
            r"Arguments: \[doc_id#\d+L?, term#\d+, tf#\d+L?, dl#\d+L?\]",
            plan,
            re.M,
        )
    )


def test_text_statistics_and_a_ranker_of_one_scope_read_one_postings_table(spark):
    docs = table(spark, SF001, "documents")

    @scoped
    def one_scope():
        return [
            textquality.token_freq(docs),
            textquality.tfidf_top_terms(docs),
            textquality.docs_perplexity(docs),
            retrieval.bm25_topk(docs),
        ]

    plans = [plan_text(df) for df in one_scope()]
    assert all(_postings_reads(p) >= 1 for p in plans)
    # a relation read from one cache shows its cached plan: one build
    assert len({m for p in plans for m in re.findall(r"AS tf#\d+", p)}) == 1


@pytest.mark.parametrize("name", ["token_zipf_fit", "vocab_growth_fit"])
def test_fits_of_a_one_term_corpus_match_their_oracles(spark, empty_dir, tmp_path, name):
    """A one-term, one-bucket corpus gives each fit a single point, so
    its x variance can be 0: the fits return their oracles' NULLs
    there, not a division error."""
    for f in os.listdir(empty_dir):
        shutil.copy(os.path.join(empty_dir, f), tmp_path / f)
    docs = pq.read_table(tmp_path / "documents.parquet")
    rows = {"doc_id": [1, 2], "text": ["a a a", "a"], "lang": ["en"] * 2,
            "source": ["s"] * 2, "n_chars": [5, 1]}
    pq.write_table(pa.table(rows, schema=docs.schema), tmp_path / "documents.parquet")
    assert_parity(spark, name, str(tmp_path))
