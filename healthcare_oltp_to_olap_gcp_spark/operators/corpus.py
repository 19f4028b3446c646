"""The term-count table of the documents corpus, shared by the lexical
rankers (operators/retrieval) and the text statistics
(operators/textquality): the corpus is tokenized once per query scope
into postings, and every term count derives from them.

1. the *postings* (``postings``): (unit, term, tf, dl), one row per
   distinct term of a unit, hash-partitioned by doc_id; the unit
   length dl rides every row (Lucene's per-document norms). The unit
   is a document, or a (document, chunk) passage for MaxP. ``index``
   persists them per query scope, and every builder of that scope
   that plans them reads the persisted copy. Per-document counts are
   the postings' tf; per-source counts are the postings joined on
   (doc_id, source);
2. the *vocabulary* (``term_counts``): (term, df, cf) — the units
   holding a term and its occurrences. Corpus-level counts read it.
   ``vocabulary`` adds the one-row corpus stats (n_docs,
   total_tokens) and the df-cap, which keeps the terms whose df is at
   most θ, the median df (``df_theta``).

All counts are exact integers, so every consumer's aggregate is
order-independent.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokens
from ..session import query_scope


class Index(NamedTuple):
    """A postings index: ``postings`` (*unit, term, tf, dl), persisted;
    ``unit`` its unit key; ``units`` one row per unit (N counts them)."""

    postings: DataFrame
    unit: tuple[str, ...]
    units: DataFrame


def _count_terms(src: DataFrame, unit: tuple[str, ...], text: str) -> DataFrame:
    """(*unit, term, tf, dl) of the ``text`` column of ``src``."""
    return (
        src.select(*unit, F.explode(tokens(text)).alias("term"))
        .groupBy(*unit, "term")
        .agg(F.count("*").alias("tf"))
        .withColumn("dl", F.sum("tf").over(Window.partitionBy(*unit)))
    )


def postings(docs: DataFrame) -> DataFrame:
    """The (doc_id, term, tf, dl) postings of ``docs``, unpersisted.

    ``docs`` is hash-partitioned by doc_id before the explode, so the
    (doc_id, term) aggregation and the length window need no further
    exchange, and later doc-keyed consumers reuse the partitioning. A
    builder that reads the postings in one job pipelines them into its
    own stages (a cached copy would cost it one more stage); when
    ``index`` has persisted them in the same query scope, Spark's cache
    manager serves this plan from that copy."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    return _count_terms(docs.repartition(par, "doc_id"), ("doc_id",), "text")


def term_counts(postings: DataFrame) -> DataFrame:
    """(term, df, cf) of a postings frame: df counts the units holding
    the term, cf its occurrences."""
    return postings.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").cast("long").alias("cf")
    )


def index(docs: DataFrame, passages: bool = False) -> Index:
    """The ``postings`` of ``docs``, persisted once per query scope for
    builders that probe them in several jobs. The unit is the document,
    or with ``passages`` the ``textquality.chunk_documents`` chunk
    (doc_id, chunk_idx), whose frame is hash-partitioned by doc_id as
    well. An empty document has no postings but counts in N; every
    chunk holds at least one token, so the chunks are the postings'
    distinct units."""
    scope = query_scope()

    def build() -> Index:
        if passages:
            from .textquality import chunk_documents

            unit = ("doc_id", "chunk_idx")
            p = scope.persist(_count_terms(chunk_documents(docs), unit, "chunk_text"))
            return Index(p, unit, p.select(*unit).distinct())
        return Index(scope.persist(postings(docs)), ("doc_id",), docs)

    return scope.memo(("index", docs, passages), build)


def df_theta() -> Column:
    """The df-cap threshold θ, one aggregate over a frame with a ``df``
    column: the ⌈V/2⌉-th smallest df of a V-term vocabulary (a discrete
    median, an exact integer), NULL on an empty vocabulary. The df-cap
    keeps df ≤ θ, and ``bm25_index_stats_report`` reports θ as
    df_median.

    Production caps drop terms above a fixed corpus fraction (df > N/4
    or so). The synthetic corpus has a 31-term vocabulary whose df is
    near-uniform at ~0.8·N, so a fraction cap would drop everything or
    nothing; the median is a data-fitted threshold (the convention
    semdedup and simhash use), so both the kept and the dropped paths
    run at every SF."""
    return F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY df)").cast("long")


def vocabulary(ix: Index, df_cap: bool = False) -> tuple[DataFrame, DataFrame]:
    """The vocabulary (term, df, cf) and the one-row corpus stats
    (n_docs, total_tokens) of ``ix``: df counts the units holding a
    term and cf its occurrences; n_docs counts the units and
    total_tokens sums tf over the postings. ``df_cap`` keeps the terms
    with df ≤ ``df_theta``. All exact integers."""
    p = ix.postings
    vocab = term_counts(p)
    if df_cap:
        theta = vocab.agg(df_theta().alias("_theta"))
        vocab = (
            vocab.crossJoin(F.broadcast(theta))
            .filter(F.col("df") <= F.col("_theta"))
            .drop("_theta")
        )
    stats = ix.units.agg(F.count("*").alias("n_docs")).crossJoin(
        p.agg(F.sum("tf").cast("long").alias("total_tokens"))
    )
    return vocab, stats
