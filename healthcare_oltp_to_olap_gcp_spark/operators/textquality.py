"""Text analysis over the documents table: token stats, quality
scoring, language-ID heuristic, fingerprints.

Everything JVM-side via higher-order functions (SURVEY §4) except the
winnowing fingerprint, which is an Arrow-batched Pandas UDF (rolling
hashes are genuinely imperative).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..functions.localframe import local_frame
from ..functions.rank import top_k
from ..functions.sketch import hash32, hash_unit
from ..functions.text import (
    DE_STOP,
    EN_STOP,
    ES_STOP,
    FR_STOP,
    cjk_count,
    normalized,
    punct_count,
    stop_hits,
    token_count,
    tokens,
)
from ..session import query_scope, scoped


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting per document: whitespace tokens AND a BPE-ish
    regex pre-tokenizer count (GPT-2 pattern shape) + char count."""
    from ..functions.text import BPE_PATTERN

    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.regexp_count("text", F.lit(BPE_PATTERN)).cast("long").alias("n_tokens_bpe"),
        F.char_length("text").cast("long").alias("n_chars"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-density quality signals.

    Empty text / zero tokens yield NULL ratios (explicit guards — ANSI
    mode makes a bare x/0 an error, and web corpora DO contain empty
    documents; found by the Hypothesis edge-case suite)."""
    toks = tokens("text")
    n_tok = F.size(toks).cast("long")
    n_chars = F.char_length("text")
    tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.char_length(t)), F.lit(0), lambda a, v: a + v
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_chars.cast("long").alias("n_chars"),
        F.when(
            n_chars > 0,
            F.round(punct_count("text") / n_chars.cast("double"), 6),
        ).alias("punct_ratio"),
        F.when(
            n_tok > 0,
            F.round(stop_hits(toks, EN_STOP) / n_tok.cast("double"), 6),
        ).alias("stopword_ratio"),
        F.when(
            n_tok > 0, F.round(tok_chars / n_tok.cast("double"), 6)
        ).alias("avg_token_len"),
    )


def source_stats(docs: DataFrame) -> DataFrame:
    """Per-(source, lang) curation dashboard — the per-domain rollup a
    Common-Crawl-style pipeline watches while tuning filters: document
    and token volumes, average length, and the exact-duplicate rate
    from normalized-content fingerprints. One aggregation (map-side
    combined); distinct-fingerprint counting shuffles (source, lang,
    fp) partials only — at 100 TB swap the exact distinct for
    approx_count_distinct exactly like the other profilers."""
    return (
        docs.select(
            "source",
            "lang",
            token_count("text").alias("_nt"),
            F.char_length("text").cast("long").alias("_nc"),
            F.md5(normalized("text")).alias("_fp"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("_nc").cast("decimal(18,2)"))
                / F.count("*").cast("double"),
                4,
            ).alias("avg_chars"),
            F.countDistinct("_fp").cast("long").alias("n_unique"),
            F.round(
                F.lit(1.0) - F.countDistinct("_fp") / F.count("*").cast("double"), 6
            ).alias("dup_rate"),
        )
    )


def langid(docs: DataFrame) -> DataFrame:
    """Deterministic language-ID heuristic: CJK char presence → zh,
    otherwise argmax of per-language stopword hits (cascade order
    en→de→fr→es breaks ties), else 'unknown'."""
    toks = tokens("text")
    hits = {
        "en": stop_hits(toks, EN_STOP),
        "de": stop_hits(toks, DE_STOP),
        "fr": stop_hits(toks, FR_STOP),
        "es": stop_hits(toks, ES_STOP),
    }
    d = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        cjk_count("text").alias("_cjk"),
        *[v.alias(f"_h_{k}") for k, v in hits.items()],
    )
    h = {k: F.col(f"_h_{k}") for k in hits}
    pred = (
        F.when(F.col("_cjk") > 0, F.lit("zh"))
        .when((h["en"] >= h["de"]) & (h["en"] >= h["fr"]) & (h["en"] >= h["es"]) & (h["en"] > 0), F.lit("en"))
        .when((h["de"] >= h["fr"]) & (h["de"] >= h["es"]) & (h["de"] > 0), F.lit("de"))
        .when((h["fr"] >= h["es"]) & (h["fr"] > 0), F.lit("fr"))
        .when(h["es"] > 0, F.lit("es"))
        .otherwise(F.lit("unknown"))
    )
    return d.select("doc_id", "labeled_lang", pred.alias("pred_lang"))


def fingerprints(docs: DataFrame) -> DataFrame:
    """Normalized-content fingerprint: md5 of the canonical text form.
    Catches dups that differ only in case/punctuation/whitespace."""
    return docs.select(
        "doc_id", F.md5(normalized("text")).alias("fp")
    )


def token_freq(docs: DataFrame) -> DataFrame:
    """Corpus-wide token frequency table (the wordcount of LLM-data
    pipelines): total occurrences + document frequency per token.
    One explode + one shuffle; partial aggregation does the heavy
    lifting map-side."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    tok = docs.repartition(par).select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    return tok.groupBy("term").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )


QF_MIN_TOKENS = 10
QF_MAX_PUNCT = 0.30
QF_MAX_DUP3 = 0.30


def quality_filter(docs: DataFrame) -> DataFrame:
    """C4/Gopher-style keep/drop gate composed from the per-doc quality
    and repetition signals: every doc gets a verdict plus the ordered
    reason list (too_short / high_punct / repetitive), so the drop set
    is auditable. All thresholds compare ROUNDED signals — the same
    values the standalone queries emit — keeping the verdict
    engine-portable. Two scans of the corpus (signals are independent
    column pipelines), one doc_id join, no extra shuffles."""
    q = quality_scores(docs)
    r = repetition_scores(docs)
    too_short = F.col("n_tokens") < QF_MIN_TOKENS
    punchy = F.col("punct_ratio") > QF_MAX_PUNCT
    repetitive = F.col("dup_3gram_ratio") > QF_MAX_DUP3
    reasons = F.concat_ws(
        ",",
        F.when(too_short, F.lit("too_short")),
        F.when(punchy, F.lit("high_punct")),
        F.when(repetitive, F.lit("repetitive")),
    )
    return (
        q.join(r, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "punct_ratio",
            "dup_3gram_ratio",
            (reasons == "").alias("keep"),
            reasons.alias("reasons"),
        )
    )


CHUNK_TOKENS = 128
CHUNK_OVERLAP = 32


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    context-window preparation step of a training/RAG pipeline: each
    doc yields windows of ``chunk_tokens`` tokens at stride
    ``chunk_tokens - overlap``.

    All JVM-side array ops (tokens → sequence of starts → slice +
    array_join per start): the explode carries only the start
    generator, so per-chunk work is one slice of the per-row token
    array — no shuffle at all; chunking is a pure map stage that
    pipelines with the scan at any scale. Short docs yield one
    (possibly short) chunk; empty docs drop out."""
    stride = chunk_tokens - overlap
    toks = tokens("text")
    # r9: hash-partition by doc_id instead of round-robin — same
    # spreading (doc_id is unique), no sort-before-repartition cost
    # (guide §2.5 note), and downstream chunk-keyed aggregations
    # (bm25_chunk_maxp_topk's postings) reuse the partitioning with no
    # further exchange (guide §2.4).
    base = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    ).select("doc_id", toks.alias("_t"), F.size(toks).alias("_n"))
    starts = F.sequence(F.lit(0), F.greatest(F.col("_n") - 1, F.lit(0)), F.lit(stride))
    chunk = F.slice(F.col("_t"), F.col("start") + 1, chunk_tokens)
    return (
        base.filter(F.col("_n") > 0)
        .select("doc_id", "_t", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / stride).cast("long").alias("chunk_idx"),
            F.col("start").cast("long").alias("chunk_start"),
            F.size(chunk).cast("long").alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def token_entropy(docs: DataFrame) -> DataFrame:
    """Per-document unigram entropy (low entropy ⇒ repetitive/templated
    text, a standard LLM-data quality signal). Shannon entropy is
    computed as ln(n) − Σc·ln(c)/n where c are per-token counts: the
    Σc·ln(c) partial is rounded per ROW then summed as exact DECIMAL,
    so the aggregate is order-independent and engine-portable; the two
    remaining float ops (one divide, one subtract) happen once per
    output row."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    # r9: hash by doc_id — the (doc_id, term) count and the per-doc
    # rollup then need no further exchange (subset rule, guide §2.4)
    tok = docs.repartition(par, "doc_id").select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    cnt = tok.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").alias("distinct_tokens"),
        F.sum(
            F.round(F.col("c") * F.log("c"), 8).cast("decimal(18,8)")
        ).alias("_clnc"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "distinct_tokens",
        F.round(
            F.log("n_tokens") - F.col("_clnc").cast("double") / F.col("n_tokens"), 6
        ).alias("entropy"),
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document: tf * ln((N+1)/(df+1)),
    deterministic tiebreak on the term."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    # r9: hash by doc_id — the (doc_id, term) tf, the distinct, and
    # the per-doc window all reuse the layout (guide §2.4)
    tok = docs.repartition(par, "doc_id").select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tok.distinct().groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1) / (F.col("df") + 1).cast("double")),
                6,
            ),
        )
    )
    return top_k(
        scored, ["doc_id"], (F.col("score").desc(), F.col("term")), k, rank="rank"
    ).select("doc_id", "term", F.col("tf").cast("long").alias("tf"), "score", "rank")


def token_typo_pairs(docs: DataFrame, max_dist: int = 1) -> DataFrame:
    """Fuzzy vocabulary matching: pairs of distinct corpus tokens within
    ``max_dist`` Levenshtein edits (typo/variant detection).

    Scale design: deletion-neighborhood blocking (FastSS / SymSpell).
    Each vocabulary term is exploded into itself plus every
    single-character-deletion variant; two terms at Levenshtein
    distance ≤ 1 ALWAYS share a variant (substitution at i → both
    delete i; insert/delete → the longer term's deletion equals the
    shorter term), so an equi-join on the variant key produces a
    complete candidate set. That join is an ordinary shuffle join —
    no vocabulary broadcast, so a web-scale vocab (10⁸+ terms) never
    has to fit on one executor — and each bucket holds only the terms
    sharing one variant string. The residual Levenshtein filter removes
    false candidates. Only ``max_dist=1`` is supported (the blocking
    theorem is per-deletion-depth)."""
    if max_dist != 1:
        raise ValueError("token_typo_pairs blocking supports max_dist=1 only")
    vocab = (
        docs.select(F.explode(tokens("text")).alias("term")).distinct()
    )
    # term itself + all 1-deletion variants, deduplicated per term
    variants = vocab.select(
        "term",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.array(F.col("term")),
                    F.transform(
                        F.sequence(F.lit(1), F.char_length("term")),
                        lambda i: F.concat(
                            F.substring(F.col("term"), F.lit(1), i - 1),
                            F.substring(
                                F.col("term"), i + 1, F.char_length("term")
                            ),
                        ),
                    ),
                )
            )
        ).alias("variant"),
    )
    a = variants.select(F.col("term").alias("term_a"), "variant")
    b = variants.select(F.col("term").alias("term_b"), "variant")
    return (
        a.join(b, "variant")
        .filter(F.col("term_a") < F.col("term_b"))
        .select("term_a", "term_b")
        .distinct()
        .withColumn("dist", F.levenshtein("term_a", "term_b").cast("long"))
        .filter(F.col("dist") <= max_dist)
        .select("term_a", "term_b", "dist")
    )


WINNOW_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_grams", LongType()),
        StructField("min_gram_hash", LongType()),
    ]
)

_WINNOW_WINDOW = 4
_GRAM = 5
_MOD = (1 << 61) - 1
_BASE = 257


def _winnow_pdf(batches):
    """Rolling-hash winnowing (Schleimer et al. 2003 style): k-gram
    rolling hashes, min per sliding window → document sketch summary."""
    for pdf in batches:
        out = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            s = [ord(c) for c in str(text).lower()]
            hashes = []
            if len(s) >= _GRAM:
                h = 0
                power = pow(_BASE, _GRAM - 1, _MOD)
                for i, c in enumerate(s):
                    h = (h * _BASE + c) % _MOD
                    if i >= _GRAM:
                        h = (h - s[i - _GRAM] * power * _BASE) % _MOD
                    if i >= _GRAM - 1:
                        hashes.append(h)
            sketch = [
                min(hashes[i : i + _WINNOW_WINDOW])
                for i in range(0, max(len(hashes) - _WINNOW_WINDOW + 1, 0))
            ]
            out.append(
                (doc_id, len(sketch), min(sketch) if sketch else 0)
            )
        yield pd.DataFrame(out, columns=["doc_id", "n_grams", "min_gram_hash"])


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Arrow-batched winnowing sketch summary per document."""
    return docs.select("doc_id", "text").mapInPandas(_winnow_pdf, WINNOW_SCHEMA)


# Java-regex AND RE2-compatible (no lookarounds, no backrefs) so the
# DuckDB oracle can embed the identical pattern text.
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE = "\\+?[0-9][0-9() .-]{6,}[0-9]"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII redaction pass (training-data hygiene): replace email- and
    phone-shaped spans with typed placeholders and count redactions.
    The test corpus is synthetic word soup, so a deterministic contact
    line derived from doc_id is appended first — the redaction path is
    then exercised on EVERY row, and the oracle rebuilds the identical
    input. All regexp ops are JVM-side; at 100 TB this is a pure map
    stage (zero shuffles) that pipelines with any downstream filter."""
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 555-010-"),
        F.col("doc_id").cast("string"),
    )
    n_emails = F.size(F.regexp_extract_all(raw, F.lit(PII_EMAIL), F.lit(0))).cast("long")
    no_email = F.regexp_replace(raw, PII_EMAIL, "<EMAIL>")
    n_phones = F.size(F.regexp_extract_all(no_email, F.lit(PII_PHONE), F.lit(0))).cast("long")
    clean = F.regexp_replace(no_email, PII_PHONE, "<PHONE>")
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
    )


def _all_grams(toks, n: int):
    """All n-word grams (NOT deduplicated — repetition needs totals)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_scores(docs: DataFrame) -> DataFrame:
    """Within-document repetition (Gopher-style quality signal): the
    fraction of 2-gram / 3-gram occurrences that are repeats of an
    earlier gram in the same document. High ratios flag boilerplate and
    degenerate generations. Pure per-row higher-order-function compute —
    no shuffle, whole-stage codegen applies."""
    toks = tokens("text")
    out = docs.select("doc_id", toks.alias("_t"))
    for n in (2, 3):
        grams = _all_grams(F.col("_t"), n)
        total = F.size(grams)
        dup = total - F.size(F.array_distinct(grams))
        out = out.withColumn(
            f"dup_{n}gram_ratio",
            F.when(total > 0, F.round(dup / total.cast("double"), 6)).otherwise(
                F.lit(0.0)
            ),
        )
    return out.drop("_t")


RARE_DF_MAX = 1


def rare_token_ratio(docs: DataFrame, df_max: int = RARE_DF_MAX) -> DataFrame:
    """Per-document rare-token fraction: the share of a document's
    DISTINCT tokens whose corpus document-frequency is ≤ ``df_max``
    (default 1 = hapax-in-corpus). High ratios flag OCR garbage, random
    identifiers, or language the corpus doesn't otherwise contain —
    a standard curation signal next to entropy and repetition.

    Scale shape: one explode + distinct (the same (doc_id, term) stream
    ``tfidf_top_terms`` builds), a token-keyed doc-frequency aggregate,
    and one join back on the token key — work ∝ corpus token volume
    with map-side partial aggregation; no window, no driver collect.
    All outputs are exact integers + one rounded double division."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    # r9: hash by doc_id — the (doc_id, term) distinct needs no
    # second exchange (subset rule, guide §2.4)
    tok = (
        docs.repartition(par, "doc_id")
        .select("doc_id", F.explode(tokens("text")).alias("term"))
        .distinct()
    )
    df = tok.groupBy("term").agg(F.count("*").alias("df"))
    per_doc = (
        tok.join(df, "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("distinct_tokens"),
            F.sum(F.when(F.col("df") <= df_max, 1).otherwise(0)).alias("n_rare"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("distinct_tokens").cast("long").alias("distinct_tokens"),
        F.col("n_rare").cast("long").alias("n_rare"),
        F.round(F.col("n_rare") / F.col("distinct_tokens").cast("double"), 6).alias(
            "rare_ratio"
        ),
    )


BIGRAM_TOP_K = 50


def token_bigram_rates(docs: DataFrame, k: int = BIGRAM_TOP_K) -> DataFrame:
    """Top-k adjacent-token bigrams with conditional co-occurrence
    rates — the collocation table of a corpus-analysis pipeline:
    P(y|x) = n_xy / n_x and P(x|y) = n_xy / n_y over corpus occurrence
    counts (high both ways ⇒ a fixed phrase).

    Rates are single bigint/bigint→double divisions rounded once, so
    the values are engine-portable without decimal gymnastics (unlike
    chained float products, one IEEE division is deterministic).

    Scale shape: bigrams are built per-row with a zero-shuffle
    higher-order transform, counted with map-side partials, and the
    two unigram joins run on the (vocab-sized) count tables, not the
    corpus; top-k is TakeOrdered (count desc, then bigram) — never a
    single-partition global sort."""
    toks = tokens("text")
    bigrams = F.filter(
        F.transform(
            toks,
            lambda t, i: F.when(
                i < F.size(toks) - 1,
                F.struct(t.alias("x"), F.element_at(toks, i + 2).alias("y")),
            ),
        ),
        lambda s: s.isNotNull(),
    )
    par = docs.sparkSession.sparkContext.defaultParallelism
    base = docs.repartition(par)
    uni = (
        base.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    bi = (
        base.select(F.explode(bigrams).alias("b"))
        .select(F.col("b.x").alias("x"), F.col("b.y").alias("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("n_xy"))
    )
    joined = (
        bi.join(uni.select(F.col("term").alias("x"), F.col("n").alias("n_x")), "x")
        .join(uni.select(F.col("term").alias("y"), F.col("n").alias("n_y")), "y")
    )
    return (
        joined.orderBy(F.col("n_xy").desc(), "x", "y")
        .limit(k)
        .select(
            "x",
            "y",
            F.col("n_xy").cast("long").alias("n_xy"),
            F.col("n_x").cast("long").alias("n_x"),
            F.col("n_y").cast("long").alias("n_y"),
            F.round(F.col("n_xy") / F.col("n_x").cast("double"), 6).alias("p_y_given_x"),
            F.round(F.col("n_xy") / F.col("n_y").cast("double"), 6).alias("p_x_given_y"),
        )
    )


# Fixed pretrained-style weights for the linear quality model: chosen
# so the synthetic corpus splits non-trivially around logit 0. A real
# deployment would load fastText/logreg weights the same way — the
# operator shape (per-row feature extraction + dot product, zero
# shuffles) is what matters at 100 TB.
QUALITY_MODEL_BIAS = -2.0
QUALITY_MODEL_W_LOG_TOKENS = 0.45
QUALITY_MODEL_W_STOPWORD = 3.0
QUALITY_MODEL_W_TOKEN_LEN = -0.25
QUALITY_MODEL_W_PUNCT = -8.0


def quality_model_logit():
    """The model logit as a reusable Column over a ``text`` column —
    shared by the batch scorer and the streaming curation stage so
    both paths apply the byte-identical model."""
    toks = tokens("text")
    n_tok = F.size(toks).cast("long")
    n_chars = F.char_length("text").cast("long")
    tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.char_length(t)), F.lit(0), lambda a, v: a + v
    )
    sw_hits = stop_hits(toks, EN_STOP)
    n_punct = punct_count("text")
    logit = (
        F.lit(QUALITY_MODEL_BIAS)
        + F.lit(QUALITY_MODEL_W_LOG_TOKENS) * F.log(F.lit(1) + n_tok)
        + F.lit(QUALITY_MODEL_W_STOPWORD) * (sw_hits / n_tok.cast("double"))
        + F.lit(QUALITY_MODEL_W_TOKEN_LEN) * (tok_chars / n_tok.cast("double"))
        + F.lit(QUALITY_MODEL_W_PUNCT) * (n_punct / n_chars.cast("double"))
    )
    return F.when((n_tok > 0) & (n_chars > 0), logit)


def quality_model_scores(docs: DataFrame) -> DataFrame:
    """Model-based quality scoring: a fixed-weight logistic model over
    four per-document features (log token count, stopword density,
    mean token length, punctuation density) — the classifier-filter
    stage of a training-data pipeline (fastText-style quality models
    are applied exactly like this: per-row scoring, keep above a
    threshold).

    Determinism/oracle notes: the logit is a fixed left-to-right chain
    of IEEE double ops mirrored token-for-token in the DuckDB oracle;
    ``keep`` is decided on the *logit* sign (score >= 0.5 <=> logit
    >= 0), so the only transcendental (exp in the sigmoid) never
    decides a boolean. Scale shape: one narrow projection, zero
    shuffles, whole-stage codegen end to end."""
    guarded = quality_model_logit()
    return docs.select(
        "doc_id",
        F.round(guarded, 6).alias("quality_logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-guarded)), 6).alias(
            "quality_score"
        ),
        F.coalesce(guarded >= 0, F.lit(False)).alias("keep"),
    )


@scoped
def source_kl(docs: DataFrame) -> DataFrame:
    """Per-source KL divergence of the source's unigram distribution
    against the whole-corpus distribution — the drift/outlier signal
    used when auditing a crawl mix (a source whose token distribution
    diverges hard from the corpus is boilerplate, spam, or another
    language).

    KL(p_s || q) = (1/N_s) * sum_t c_st * ln((c_st * N) / (N_s * c_t)).
    The per-(source, term) contribution is rounded then summed as exact
    DECIMAL (the ``token_entropy`` pattern) so the aggregate is
    order-independent and engine-portable.

    Scale shape: one explode + (source, term) partial-agg, a term-keyed
    corpus rollup derived FROM that table (second small agg, not a
    second scan), one term-keyed join, and a broadcast of the tiny
    per-source totals. Work is proportional to corpus token volume;
    no windows, no driver collect."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    tok = docs.repartition(par).select(
        "source", F.explode(tokens("text")).alias("term")
    )
    # Four consumers derive from the (source, term) counts (corpus
    # rollup, per-source totals, grand total, contribution join) —
    # persist so the explode+partial-agg subtree runs once.
    st = query_scope().persist(tok.groupBy("source", "term").agg(F.count("*").alias("c_st")))
    s_tot = st.groupBy("source").agg(
        F.sum("c_st").cast("long").alias("n_s"),
        F.count("*").cast("long").alias("distinct_terms"),
    )
    t_tot = st.groupBy("term").agg(F.sum("c_st").cast("long").alias("c_t"))
    n_all = st.agg(F.sum("c_st").cast("long").alias("n_all"))
    contrib = (
        st.join(t_tot, "term")
        .join(F.broadcast(s_tot.select("source", "n_s")), "source")
        .crossJoin(F.broadcast(n_all))
        .select(
            "source",
            F.round(
                F.col("c_st")
                * F.log(
                    (F.col("c_st").cast("double") * F.col("n_all"))
                    / (F.col("n_s") * F.col("c_t").cast("double"))
                ),
                8,
            )
            .cast("decimal(18,8)")
            .alias("r"),
        )
    )
    kl = contrib.groupBy("source").agg(F.sum("r").alias("_kl"))
    return (
        s_tot.join(kl, "source")
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            "distinct_terms",
            F.round(F.col("_kl").cast("double") / F.col("n_s"), 6).alias(
                "kl_vs_corpus"
            ),
        )
    )


@scoped
def docs_perplexity(docs: DataFrame) -> DataFrame:
    """CCNet-style unigram-LM perplexity filtering: score every document
    by its cross-entropy under the corpus's own unigram distribution —
    the classic "does this look like the rest of the corpus" quality
    signal (high perplexity ⇒ junk/outlier text; CCNet buckets a crawl
    by exactly this number, just with a 5-gram LM).

    H(d) = ln(N) − (1/n_d)·Σ c_dt·ln(c_t);  perplexity = exp(H).
    Per-(doc, term) contributions are rounded then summed as exact
    DECIMAL (order-independent, engine-portable); ln/exp appear once
    per output row.

    Scale shape: one explode into (doc, term) counts (scope-persisted —
    the corpus frequency table derives from it, no second scan), a
    term-keyed join, per-doc aggregation, and a one-row broadcast of
    the grand total. Work ∝ corpus token volume."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    # r9: hash by doc_id — the persisted (doc_id, term) counts build
    # with one exchange and the per-doc rollup reuses the layout
    tok = docs.repartition(par, "doc_id").select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    dt = query_scope().persist(tok.groupBy("doc_id", "term").agg(F.count("*").alias("c_dt")))
    freq = dt.groupBy("term").agg(F.sum("c_dt").cast("long").alias("c_t"))
    n_all = freq.agg(F.sum("c_t").cast("long").alias("n_all"))
    per_doc = (
        dt.join(freq, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("c_dt").cast("long").alias("n_tokens"),
            F.sum(
                F.round(F.col("c_dt") * F.log("c_t"), 8).cast("decimal(18,8)")
            ).alias("_sl"),
        )
    )
    h = F.log("n_all") - F.col("_sl").cast("double") / F.col("n_tokens")
    return per_doc.crossJoin(F.broadcast(n_all)).select(
        "doc_id",
        "n_tokens",
        F.round(h, 6).alias("cross_entropy"),
        F.round(F.exp(h), 6).alias("perplexity"),
    )


@scoped
def docs_ccnet_buckets(docs: DataFrame) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): rank every
    document by its LM perplexity and cut the corpus at the 1/3 and 2/3
    percentiles — the bucketing LLaMA/CCNet-style pipelines use to keep
    "head" (most fluent) data and drop or downweight "tail". Reuses
    ``docs_perplexity``'s corpus-self unigram LM.

    The two boundaries are EXACT interpolated percentiles rounded to
    the same 6 dp as the perplexities themselves, then broadcast as a
    one-row frame — adjacent 6-dp perplexity values are separated by
    ≫ 1 ulp, so an engine's last-ulp interpolation difference cannot
    flip a bucket (the value_percentiles parity argument). At 100 TB
    swap in approx_percentile for the boundary pass; buckets are a
    one-scan CASE either way."""
    # docs_perplexity's persisted (doc, term) counts share this scope,
    # so they stay cached while pp itself materializes.
    pp = query_scope().persist(docs_perplexity(docs))
    b = pp.agg(
        F.round(F.expr("percentile(perplexity, 0.3333333333333333)"), 6).alias("b1"),
        F.round(F.expr("percentile(perplexity, 0.6666666666666666)"), 6).alias("b2"),
    )
    return pp.crossJoin(F.broadcast(b)).select(
        "doc_id",
        "perplexity",
        F.when(F.col("perplexity") <= F.col("b1"), F.lit("head"))
        .when(F.col("perplexity") <= F.col("b2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "en"
DSIR_FRAC = 0.25


def _hashed_grams(docs: DataFrame, n_buckets: int) -> DataFrame:
    """(doc_id, lang, bucket) stream: word unigrams + adjacent bigrams,
    md5-hashed into ``n_buckets`` buckets — DSIR's feature space. Built
    per-row with zero-shuffle higher-order transforms (the
    token_bigram_rates gram idiom)."""
    toks = tokens("text")
    bigrams = F.filter(
        F.transform(
            toks,
            lambda t, i: F.when(
                i < F.size(toks) - 1,
                F.concat_ws(" ", t, F.element_at(toks, i + 2)),
            ),
        ),
        lambda s: s.isNotNull(),
    )
    par = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(par).select(
        "doc_id",
        "lang",
        F.explode(F.concat(toks, bigrams)).alias("gram"),
    ).select(
        "doc_id",
        "lang",
        (hash32("gram") % n_buckets).alias("bucket"),
    )


@scoped
def dsir_importance_weights(
    docs: DataFrame,
    target_lang: str = DSIR_TARGET_LANG,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by its log likelihood ratio under bag-of-hashed-ngrams models of a
    TARGET distribution vs the RAW corpus — the estimator that lets a
    web-scale crawl be resampled to look like a curated target. Target
    here = the ``target_lang`` slice (the paper's formal-text target,
    re-expressed on the synthetic corpus); features = word unigrams +
    bigrams hashed into ``n_buckets`` buckets; both models are
    add-one-smoothed over the bucket space.

    log w_d = Σ_b c_db·[ln(t_b+1) − ln(r_b+1)] + n_d·[ln(T_r+B) − ln(T_t+B)]

    Engine-exactness (the docs_perplexity recipe): every ln takes an
    INTEGER argument; per-(doc, bucket) contributions are rounded then
    summed as exact DECIMAL (order-independent); the per-doc constant
    term applies once per output row.

    Scale shape: one gram explode (map-side combined into (doc, bucket)
    counts), bucket tables capped at ``n_buckets`` rows and broadcast,
    totals a one-row broadcast — work ∝ corpus token volume, no
    corpus-sized shuffle beyond the (doc, bucket) aggregation."""
    db = query_scope().persist(
        _hashed_grams(docs, n_buckets)
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count("*").alias("c_db"))
    )
    raw = db.groupBy("bucket").agg(F.sum("c_db").cast("long").alias("r_b"))
    tgt = (
        db.filter(F.col("lang") == target_lang)
        .groupBy("bucket")
        .agg(F.sum("c_db").cast("long").alias("t_b"))
    )
    buckets = raw.join(tgt, "bucket", "left").select(
        "bucket", "r_b", F.coalesce("t_b", F.lit(0)).alias("t_b")
    )
    totals = buckets.agg(
        F.sum("r_b").cast("long").alias("tr"), F.sum("t_b").cast("long").alias("tt")
    )
    per_doc = (
        db.join(F.broadcast(buckets), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c_db").cast("long").alias("n_grams"),
            F.sum(
                F.round(
                    F.col("c_db") * (F.log(F.col("t_b") + 1) - F.log(F.col("r_b") + 1)),
                    8,
                ).cast("decimal(18,8)")
            ).alias("_s"),
        )
    )
    lw = F.col("_s").cast("double") + F.col("n_grams") * (
        F.log(F.col("tr") + n_buckets) - F.log(F.col("tt") + n_buckets)
    )
    return per_doc.crossJoin(F.broadcast(totals)).select(
        "doc_id", "lang", "n_grams", F.round(lw, 6).alias("log_weight")
    )


def dsir_sample_documents(
    docs: DataFrame,
    frac: float = DSIR_FRAC,
    target_lang: str = DSIR_TARGET_LANG,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR's resampling step: Gumbel-top-k over the importance weights
    — keep the ⌈frac·n⌉ documents with the largest (log w_d + g_d),
    g_d = −ln(−ln(u_d)) with the shared md5-derived uniform. Gumbel
    top-k IS sampling-without-replacement ∝ softmax(log w) (the same
    identity behind the A-ES sampler in weighted_sample_documents), so
    the kept set is a true importance resample, yet fully deterministic
    and value-hash-oracled.

    The sample size is a driver-side scalar (one count — metadata
    grade); selection is orderBy+limit ⇒ TakeOrderedAndProject
    (per-partition heaps, never a global sort)."""
    import math

    w = dsir_importance_weights(docs, target_lang, n_buckets)
    n = docs.count()
    top_n = math.ceil(frac * n)
    u = hash_unit("doc_id")
    g = F.round(-F.log(-F.log(u)), 6)
    scored = w.withColumn("score", F.round(F.col("log_weight") + g, 6))
    return (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(top_n)
        .select("doc_id", "lang", "log_weight", "score")
    )


ZIPF_TOP_V = 500


def token_zipf_fit(docs: DataFrame, v: int = ZIPF_TOP_V) -> DataFrame:
    """Zipf-law fit over the top-``v`` token frequencies: OLS of
    ln(freq) on ln(rank) — the one-row corpus health check (natural
    text sits near slope −1; a badly skewed or templated corpus
    doesn't). Log-log points are rounded then summed as exact DECIMAL
    (order-independent); the closed-form slope/intercept/r² arithmetic
    runs once on the one-row aggregate in an order mirrored by the
    oracle.

    Scale shape: one explode + term count (map-side partials), a
    TakeOrdered top-``v`` cut (never a global sort), then a window
    over exactly ``v`` rows — bounded whatever the corpus size."""
    from pyspark.sql import Window

    par = docs.sparkSession.sparkContext.defaultParallelism
    tok = docs.repartition(par).select(F.explode(tokens("text")).alias("term"))
    freq = tok.groupBy("term").agg(F.count("*").alias("c"))
    top = freq.orderBy(F.col("c").desc(), "term").limit(v)
    w = Window.orderBy(F.col("c").desc(), "term")
    lr = F.log(F.col("r").cast("double"))
    lc = F.log(F.col("c").cast("double"))
    pts = top.select(F.row_number().over(w).alias("r"), "c").select(
        F.round(lr, 8).cast("decimal(18,8)").alias("x"),
        F.round(lc, 8).cast("decimal(18,8)").alias("y"),
        F.round(lr * lc, 8).cast("decimal(18,8)").alias("xy"),
        F.round(lr * lr, 8).cast("decimal(18,8)").alias("xx"),
        F.round(lc * lc, 8).cast("decimal(18,8)").alias("yy"),
    )
    agg = pts.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
        F.sum("yy").cast("double").alias("syy"),
    )
    n = F.col("n_terms").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov / varx
    return agg.select(
        "n_terms",
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias("zipf_intercept"),
        F.round((cov * cov) / (varx * vary), 6).alias("r2"),
    )


def docs_length_histogram(docs: DataFrame) -> DataFrame:
    """Per-source log2-bucketed document-length histogram — the length
    distribution panel of a curation dashboard (truncation spikes and
    boilerplate floods show up as bucket anomalies). The bucket is the
    BINARY-STRING length of n_chars (= floor(log2 n)+1 for n ≥ 1):
    pure integer arithmetic on both engines, so bucket boundaries can
    never drift the way float log2 rounds near exact powers of two.
    One aggregation, map-side combined; output ∝ sources × ~64."""
    return (
        docs.select(
            "source",
            F.length(F.bin("n_chars")).cast("long").alias("len_bucket"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )
        .groupBy("source", "len_bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@scoped
def docs_bigram_perplexity(docs: DataFrame) -> DataFrame:
    """Bigram-LM perplexity per document (the CCNet-faithful upgrade of
    ``docs_perplexity``): cross-entropy under the corpus's own MLE
    bigram model, H(d) = −(1/m_d)·Σ c_dxy·ln(c_xy / c_x·), where c_xy
    is the corpus bigram count and c_x· the prefix total. Every doc
    bigram exists in the corpus model (it came from it), so the MLE
    has no zeros to smooth. Contributions round→DECIMAL-sum per doc
    (order-independent); docs with < 2 tokens have no bigram stream
    and are excluded on both engines.

    Scale shape: bigrams are built per-row with a zero-shuffle
    higher-order transform; (doc, x, y) counts are scope-persisted —
    the corpus bigram table AND its prefix rollup both derive from
    them; joins run bigram- and prefix-keyed with map-side partials."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    toks = tokens("text")
    pairs = F.filter(
        F.transform(
            toks,
            lambda t, i: F.when(
                i < F.size(toks) - 1,
                F.struct(
                    F.element_at(toks, i + 1).alias("x"),
                    F.element_at(toks, i + 2).alias("y"),
                ),
            ),
        ),
        lambda s: s.isNotNull(),
    )
    bi = (
        docs.repartition(par, "doc_id")
        .select("doc_id", F.explode(pairs).alias("b"))
        .select("doc_id", F.col("b.x").alias("x"), F.col("b.y").alias("y"))
    )
    dxy = query_scope().persist(
        bi.groupBy("doc_id", "x", "y").agg(F.count("*").alias("c_dxy"))
    )
    xy = dxy.groupBy("x", "y").agg(F.sum("c_dxy").cast("long").alias("c_xy"))
    xp = xy.groupBy("x").agg(F.sum("c_xy").cast("long").alias("c_xp"))
    per_doc = (
        dxy.join(xy, ["x", "y"])
        .join(xp, "x")
        .groupBy("doc_id")
        .agg(
            F.sum("c_dxy").cast("long").alias("n_bigrams"),
            F.sum(
                F.round(
                    F.col("c_dxy")
                    * F.log(
                        F.col("c_xy").cast("double") / F.col("c_xp").cast("double")
                    ),
                    8,
                ).cast("decimal(18,8)")
            ).alias("_sl"),
        )
    )
    h = -(F.col("_sl").cast("double")) / F.col("n_bigrams")
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        F.round(h, 6).alias("cross_entropy"),
        F.round(F.exp(h), 6).alias("perplexity"),
    )


VOCAB_COVERAGE_SIZES = (100, 500, 1000)


def vocab_coverage(
    docs: DataFrame, sizes: tuple[int, ...] = VOCAB_COVERAGE_SIZES
) -> DataFrame:
    """Tokenizer-prep coverage curve: what fraction of all corpus token
    occurrences the top-V vocabulary covers, for V in ``sizes`` — the
    number that decides a vocab size before training a tokenizer.

    Scale shape: one term count (map-side partials), a TakeOrdered
    top-max(V) cut (never a global sort), a window over ≤ max(V) rows,
    one conditional aggregate per V in a single pass, and a one-row
    broadcast of the corpus total; output is |sizes| rows."""
    from pyspark.sql import Window

    par = docs.sparkSession.sparkContext.defaultParallelism
    tok = docs.repartition(par).select(F.explode(tokens("text")).alias("term"))
    freq = tok.groupBy("term").agg(F.count("*").alias("c"))
    top = freq.orderBy(F.col("c").desc(), "term").limit(max(sizes))
    w = Window.orderBy(F.col("c").desc(), "term")
    ranked = top.withColumn("r", F.row_number().over(w))
    agg = ranked.agg(
        *[
            F.sum(F.when(F.col("r") <= v, F.col("c")))
            .cast("long")
            .alias(f"c{v}")
            for v in sizes
        ]
    )
    total = freq.agg(F.sum("c").cast("long").alias("n_total"))
    stack_args = ", ".join(f"{v}L, c{v}" for v in sizes)
    return (
        agg.crossJoin(F.broadcast(total))
        .selectExpr(
            f"stack({len(sizes)}, {stack_args}) AS (vocab_size, covered_tokens)",
            "n_total",
        )
        .select(
            "vocab_size",
            "covered_tokens",
            "n_total",
            F.round(
                F.col("covered_tokens") / F.col("n_total").cast("double"), 6
            ).alias("coverage"),
        )
    )


def langid_confusion(docs: DataFrame) -> DataFrame:
    """Language-ID quality audit: the confusion matrix of the heuristic
    classifier against the corpus's labeled language, with per-cell
    counts and the row-normalized rate — how curation pipelines decide
    whether the cheap n-gram/stopword LID is good enough before paying
    for a model. One aggregation over the zero-shuffle classifier
    projection; output ≤ |langs|² cells."""
    pred = langid(docs)
    cells = pred.groupBy("labeled_lang", "pred_lang").agg(
        F.count("*").alias("n")
    )
    totals = cells.groupBy("labeled_lang").agg(F.sum("n").alias("n_labeled"))
    return (
        cells.join(totals, "labeled_lang")
        .select(
            "labeled_lang",
            "pred_lang",
            F.col("n").cast("long").alias("n"),
            F.col("n_labeled").cast("long").alias("n_labeled"),
            F.round(F.col("n") / F.col("n_labeled").cast("double"), 6).alias("rate"),
        )
    )


CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_TOP_K = 50


def cms_token_counts(
    docs: DataFrame,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    k: int = CMS_TOP_K,
) -> DataFrame:
    """Count-Min-sketch heavy-hitter audit: estimate the corpus counts
    of the top-``k`` tokens from a ``depth``×``width`` counter table
    and report them against the exact counts (CMS never
    underestimates; the overestimate column is the sketch's measured
    collision error).

    The counter table is built the way a 100 TB run would: each token
    occurrence increments ``depth`` (row, bucket) counters — a map-side
    partial aggregate into exactly depth×width cells, O(1) sketch
    memory regardless of vocabulary (the exact groupBy this query also
    carries is the AUDIT side, not the sketch side). Bucket hashes are
    md5-derived (engine-shared), so the whole sketch — including its
    collision errors — is deterministic and value-hash-oracled."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    tok = docs.repartition(par).select(F.explode(tokens("text")).alias("term"))
    j = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("j")
    bucket = (hash32(F.concat_ws(":", F.col("j"), F.col("term"))) % width).alias("bucket")
    counters = (
        tok.select("term", j)
        .select("j", bucket)
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("c"))
    )
    true_top = (
        tok.groupBy("term")
        .agg(F.count("*").alias("true_count"))
        .orderBy(F.col("true_count").desc(), "term")
        .limit(k)
    )
    probes = true_top.select("term", "true_count", j).select(
        "term", "true_count", "j", bucket
    )
    est = (
        probes.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("term", "true_count")
        .agg(F.min("c").alias("cms_count"))
    )
    return est.select(
        "term",
        F.col("true_count").cast("long").alias("true_count"),
        F.col("cms_count").cast("long").alias("cms_count"),
        (F.col("cms_count") - F.col("true_count")).cast("long").alias("overestimate"),
    )


BPE_MERGES = 20
BPE_CHECKPOINT_EVERY = 5
BPE_BATCH = 8


def _bpe_select_batch(
    rows: list, max_n: int, saw_all: bool
) -> list[tuple[str, str, int]]:
    """Greedy exact-batch selection over candidate pairs already sorted
    by (count desc, left, right) — picks a prefix of mutually
    NON-INTERACTING merges that sequential BPE would provably choose in
    this exact order:

    - symbols pairwise disjoint: fusing (a1,b1) can neither create nor
      destroy occurrences of a symbol-disjoint (a2,b2) — fusion never
      makes two surviving symbols newly adjacent, and only consumes
      a1/b1 occurrences — so batched counts equal sequential counts;
    - fused outputs disjoint from every batched symbol and from each
      other: a fused token COLLIDING with another batch pair's symbol
      (e.g. learning (a,b) while batching (ab,c)) would make counts
      order-dependent — rejected;
    - strict-count cutoff: the batch is capped at counts STRICTLY above
      the first conflicting candidate (or the fetch boundary when every
      fetched row was batched but more pairs may exist). Any pair a
      batched merge can change — and any NEW pair a merge creates,
      whose count is bounded by an existing symbol-sharing pair's
      count — sits at or below that cap, so it can never outrank or
      tie a kept element when sequential BPE recomputes its argmax
      (ties at the cap could lex-sort ahead; strictness removes them).

    Counts are non-increasing in sort order, so the cutoff keeps a
    prefix. Returns [(left, right, count)] — ≥ 1 element always (the
    round's argmax is unconditionally safe)."""
    used: set[str] = set()
    fused: set[str] = set()
    batch: list[tuple[str, str, int]] = []
    stop_cnt: int | None = None
    for r in rows:
        a, b, cnt = r.a, r.b, int(r.cnt)
        if len(batch) >= max_n:
            stop_cnt = cnt
            break
        blocked = used | fused
        if batch and (a in blocked or b in blocked or (a + b) in blocked):
            stop_cnt = cnt
            break
        batch.append((a, b, cnt))
        used.update((a, b))
        fused.add(a + b)
    else:
        if not saw_all:
            # Unseen pairs count <= the last fetched row's; without
            # seeing them assume the worst (symbol-sharing + lex tie).
            stop_cnt = int(rows[-1].cnt)
    if stop_cnt is not None:
        batch = [t for i, t in enumerate(batch) if i == 0 or t[2] > stop_cnt]
    return batch


def bpe_merges(
    docs: DataFrame,
    n_merges: int = BPE_MERGES,
    checkpoint_every: int = BPE_CHECKPOINT_EVERY,
    batch: int = BPE_BATCH,
) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich et al.): learn the first
    ``n_merges`` byte-pair merges from the corpus — the step that
    produces the merge table every LLM tokenizer ships. Classic
    algorithm: start from characters, repeatedly take the most frequent
    adjacent symbol pair (weighted by word frequency) and fuse it
    everywhere; each later count reflects all earlier merges.

    Spark shape: all iterative state is the WORD-FREQUENCY table
    (|vocab| rows — millions at 100 TB, never the corpus): the corpus
    is scanned once to build it. Per round: adjacent pairs via
    slice+arrays_zip (per-row, no shuffle), one vocab-sized pair-count
    shuffle, a TakeOrdered(1) argmax whose single row is the only thing
    the driver sees (loop control, like dedup_components' convergence
    scalar), then a per-row fold (F.aggregate) fusing the winning pair
    left-to-right — higher-order functions, zero shuffle. The vocab
    lineage is localCheckpoint-ed every ``checkpoint_every`` rounds so
    plan depth stays bounded (the part_pagerank pattern).

    BATCHED rounds: each round fetches the top ``4*batch`` pairs (one
    TakeOrdered, tiny rows) and applies up to ``batch`` of them in ONE
    fold pass — ``_bpe_select_batch`` admits only merges that are
    provably order-independent (symbol-disjoint, fused-output-disjoint,
    strictly above the first conflicting count), so the learned table
    is RANK-FOR-RANK identical to ``batch=1`` — the unit tests pin both
    against a pure-python reference trainer. Driver round-trips drop
    ~batch× on real text (natural-language pair argmaxes rarely share
    symbols); a production 30k-merge run is rounds ≈ 30k/batch.

    Determinism: counts are exact longs and ties break
    lexicographically on (left, right), so the learned table is
    bit-stable under any partitioning. Rows-only correctness (the
    argmax loop is not single-statement SQL); unit tests pin the exact
    merge sequence on known corpora.

    Returns (merge_rank, left, right, pair_count) — rank 0 is the
    first, most frequent merge."""
    spark = docs.sparkSession
    words = (
        docs.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    # Materialize the initial vocab eagerly: every round's argmax would
    # otherwise re-run the corpus scan + word groupBy from parquet
    # (measured 18.7s -> ~4s at sf0.1 for 20 merges), and re-checkpoint
    # periodically so later rounds replay only a bounded rewrite suffix.
    vocab = words.select("n", F.split("term", "").alias("syms")).localCheckpoint()
    out: list[tuple[int, str, str, int]] = []
    rounds = 0
    while len(out) < n_merges:
        if checkpoint_every and rounds and rounds % checkpoint_every == 0:
            vocab = vocab.localCheckpoint()
        rounds += 1
        pairs = (
            vocab.filter(F.size("syms") >= 2)
            .select(
                "n",
                F.explode(
                    F.arrays_zip(
                        F.slice("syms", 1, F.size("syms") - 1).alias("a"),
                        F.slice("syms", 2, F.size("syms") - 1).alias("b"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").alias("cnt"))
        )
        fetch = max(1, 4 * batch)
        top = pairs.orderBy(F.col("cnt").desc(), "a", "b").limit(fetch).collect()
        if not top:
            break
        chosen = _bpe_select_batch(
            top, min(batch, n_merges - len(out)), saw_all=len(top) < fetch
        )
        for a, b, cnt in chosen:
            out.append((len(out), a, b, cnt))

        # NB: exactly (acc, x) — pyspark counts the signature's
        # parameters to build the lambda, so an extra captured arg
        # (even defaulted) would be bound to a lambda variable.
        def _fold(acc, x):
            # Disjointness guarantees at most one branch matches; the
            # chain is the same greedy-leftmost fuse as the single-merge
            # fold, so a one-pass rewrite equals applying the merges
            # sequentially.
            expr = None
            for a, b, _ in chosen:
                hit = (
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(a))
                    & (x == F.lit(b))
                )
                fusedarr = F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
                )
                expr = F.when(hit, fusedarr) if expr is None else expr.when(
                    hit, fusedarr
                )
            return expr.otherwise(F.concat(acc, F.array(x)))

        vocab = vocab.withColumn(
            "syms",
            F.aggregate("syms", F.array().cast("array<string>"), _fold),
        )
    # Observability for tests/benchmarks: driver round-trips this call
    # actually used (≈ n_merges/batch on natural text).
    bpe_merges.last_rounds = rounds
    return local_frame(
        spark, out, "merge_rank long, left string, right string, pair_count long"
    )


BPE_ENCODE_CHECKPOINT_EVERY = 8


@scoped
def bpe_encode(
    docs: DataFrame,
    merges: DataFrame | None = None,
    n_merges: int = BPE_MERGES,
    checkpoint_every: int = BPE_ENCODE_CHECKPOINT_EVERY,
) -> DataFrame:
    """BPE ENCODE — apply a trained merge table to the corpus (the
    inference half of ``bpe_merges``' training): every word starts as
    characters and each merge is fused greedy-leftmost in RANK order.
    One pass in rank order equals the priority-queue encode: merge i
    creates a symbol only later-ranked merges can reference (a pair
    containing it could not have been learned before it existed), so
    nothing already applied ever becomes applicable again. Returns
    per-document token accounting:
    (doc_id, n_words, n_bpe_tokens, n_token_chars, chars_per_token).

    Scale shape — the tokenizer-vocabulary trick: encoding is
    word-local, so the fold runs over DISTINCT words (|vocab| rows —
    millions at 100 TB, never the corpus), each merge one JVM
    ``F.aggregate`` fold (no Python, no shuffle), lineage
    localCheckpoint-ed every ``checkpoint_every`` merges so expression
    depth stays bounded at production merge counts. The corpus is
    touched exactly twice: one (doc_id, word) count shuffle and one
    encoded-length join back (word-keyed hash join; the HOT words an
    AQE skew split handles like any power-law key). Driver traffic is
    the merge table itself (≤ n_merges rows — a model artifact, like
    pq_trained's codebook), never word or corpus rows.

    Rows-only correctness (inherits the trainer's iterative,
    non-SQL-expressible merges); unit tests pin per-word encodings
    against a pure-python reference encoder."""
    if merges is None:
        merges = bpe_merges(docs, n_merges=n_merges)
    ranked = [
        (r.left, r.right)
        for r in merges.select("merge_rank", "left", "right")
        .orderBy("merge_rank")
        .collect()
    ]
    wc = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("cnt"))
    )
    wc = query_scope().persist(wc)
    enc = wc.select("term").distinct().select(
        "term", F.split("term", "").alias("syms")
    )
    for i, (a, b) in enumerate(ranked):
        if checkpoint_every and i and i % checkpoint_every == 0:
            enc = enc.localCheckpoint()

        # NB: exactly (acc, x) — pyspark builds the lambda from the
        # signature's parameter count (the trainer's _fold note); a/b
        # bind at F.aggregate call time inside this loop iteration.
        def _fuse(acc, x):
            hit = (
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b))
            )
            return F.when(
                hit,
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))),
            ).otherwise(F.concat(acc, F.array(x)))

        enc = enc.withColumn(
            "syms", F.aggregate("syms", F.array().cast("array<string>"), _fuse)
        )
    per_word = enc.select(
        "term",
        F.size("syms").cast("long").alias("_nt"),
        F.char_length("term").cast("long").alias("_nc"),
    )
    out = (
        wc.join(per_word, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("_nt")).cast("long").alias("n_bpe_tokens"),
            F.sum(F.col("cnt") * F.col("_nc")).cast("long").alias("n_token_chars"),
        )
    )
    return out.select(
        "doc_id",
        "n_words",
        "n_bpe_tokens",
        "n_token_chars",
        F.round(F.col("n_token_chars") / F.col("n_bpe_tokens"), 6).alias(
            "chars_per_token"
        ),
    )


AUC_SCORERS = ("quality_logit", "stopword_ratio", "avg_token_len", "punct_ratio")


def quality_auc_report(docs: DataFrame) -> DataFrame:
    """Scorer-calibration report: tie-corrected ROC AUC of each cheap
    per-document signal (the fixed-weight model logit plus the three
    raw ratios) against the rule-based ``quality_filter`` verdict —
    the question a curation team actually asks before swapping an
    expensive rule cascade for a scalar score ("at what fidelity does
    the model reproduce the gate?"). One row per scorer with n_pos /
    n_neg / auc; AUC < 0.5 marks an anti-correlated signal
    (punct_ratio, by construction).

    Exactness + scale: AUC is computed from per-SCORE-BIN counts, not
    per-row ranks — group by (scorer, rounded score) map-side combines
    the corpus down to a bin table bounded by distinct 6-decimal score
    values, and the Mann-Whitney sum runs as a window over bins only:
    AUC = Σ_bins p·(2·cum_n_below + n) / (2·n_pos·n_neg), the exact
    tie-corrected rank-sum identity in pure integer arithmetic (no
    float accumulation order anywhere — the only division is the final
    rounded one). A global per-row sort would be the naive plan; this
    one's sort touches the bin table. NULL-score rows (empty docs)
    drop per scorer before counting."""
    from pyspark.sql import Window as W

    q = quality_scores(docs)
    m = quality_model_scores(docs).select("doc_id", "quality_logit")
    lab = quality_filter(docs).select("doc_id", F.col("keep").alias("label"))
    base = q.join(m, "doc_id").join(lab, "doc_id")
    scored = (
        base.select(
            "label",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("scorer"),
                            F.col(s).cast("double").alias("score"),
                        )
                        for s in AUC_SCORERS
                    ]
                )
            ).alias("x"),
        )
        .select("label", F.col("x.scorer").alias("scorer"), F.col("x.score").alias("score"))
        .filter(F.col("score").isNotNull())
    )
    bins = scored.groupBy("scorer", "score").agg(
        F.count(F.when(F.col("label"), F.lit(1))).alias("p"),
        F.count(F.when(~F.col("label"), F.lit(1))).alias("n"),
    )
    w = (
        W.partitionBy("scorer")
        .orderBy("score")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    c = bins.withColumn("cn", F.coalesce(F.sum("n").over(w), F.lit(0)))
    agg = c.groupBy("scorer").agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum("n").cast("long").alias("n_neg"),
        F.sum(F.col("p") * (2 * F.col("cn") + F.col("n"))).alias("_s2"),
    )
    return agg.select(
        "scorer",
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                F.col("_s2")
                / (2.0 * F.col("n_pos") * F.col("n_neg")),
                6,
            ),
        ).alias("auc"),
    )


CORR_SIGNALS = ("n_tokens", "punct_ratio", "stopword_ratio", "avg_token_len")


def quality_signal_corr(docs: DataFrame) -> DataFrame:
    """Exact Pearson correlation matrix over the per-document quality
    signals (the profiling step before feeding them to a filter model:
    two signals at |r| ≈ 1 are one feature, a signal uncorrelated with
    everything may be noise). One row per unordered signal pair with
    the pairwise-complete n and r.

    Determinism: per-row values and products are ROUNDED then summed
    as exact DECIMAL(38,8) (the ``token_zipf_fit`` convention —
    order- and partitioning-independent under any shuffle), and the
    closed-form r runs once per pair on the 6-row aggregate in an
    operation order mirrored by the oracle. Scale shape: one
    zero-shuffle signal scan, a 6-way struct explode (constant
    factor), one map-side-combined aggregation to SIX rows — no
    window, no join, corpus-linear."""
    from itertools import combinations

    q = quality_scores(docs)
    entries = [
        F.struct(
            F.lit(a).alias("sig_a"),
            F.lit(b).alias("sig_b"),
            F.col(a).cast("double").alias("x"),
            F.col(b).cast("double").alias("y"),
        )
        for a, b in combinations(CORR_SIGNALS, 2)
    ]
    e = (
        q.select(F.explode(F.array(*entries)).alias("p"))
        .select("p.*")
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    pts = e.select(
        "sig_a",
        "sig_b",
        F.round(F.col("x"), 8).cast("decimal(38,8)").alias("x"),
        F.round(F.col("y"), 8).cast("decimal(38,8)").alias("y"),
        F.round(F.col("x") * F.col("y"), 8).cast("decimal(38,8)").alias("xy"),
        F.round(F.col("x") * F.col("x"), 8).cast("decimal(38,8)").alias("xx"),
        F.round(F.col("y") * F.col("y"), 8).cast("decimal(38,8)").alias("yy"),
    )
    agg = pts.groupBy("sig_a", "sig_b").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
        F.sum("yy").cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = nd * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        "sig_a",
        "sig_b",
        "n",
        F.when(
            (varx > 0) & (vary > 0),
            F.round(cov / F.sqrt(varx * vary), 6),
        ).alias("corr"),
    )


VOCAB_BUCKET_DOCS = 50  # doc_id bucket width for the growth checkpoints


def vocab_growth_fit(docs: DataFrame, bucket: int = VOCAB_BUCKET_DOCS) -> DataFrame:
    """Heaps'-law fit — the companion of ``token_zipf_fit``: distinct
    vocabulary V grows ≈ K·nᵝ with corpus tokens n (natural text sits
    near β ≈ 0.4-0.6; a templated or looped corpus flattens early).
    The measured growth curve also answers "is another crawl snapshot
    still adding vocabulary" — the token-level twin of
    ``docs_ngram_novelty``'s document-level novelty.

    The curve is sampled at doc_id-BUCKET checkpoints, never per doc:
    each term is attributed to the bucket of its FIRST occurrence
    (min doc_id — one map-side-combined aggregation, the same
    first-occurrence map discipline as the novelty operator), token
    counts roll up per bucket, and the cumulative window + the log-log
    OLS run over the bucket table only. With the deploy convention
    bucket ∝ corpus/1024 the checkpoint table is bounded, so the one
    ordered window never sees data-scale rows (the raw per-doc
    formulation would drag every doc through a single-partition
    window). Log-log points are rounded then summed as exact DECIMAL
    (zipf-fit convention); output is ONE row: n_points, heaps_k,
    heaps_beta, r2."""
    from pyspark.sql import Window

    par = docs.sparkSession.sparkContext.defaultParallelism
    tok = docs.repartition(par).select(
        (F.col("doc_id") / bucket).cast("long").alias("b"),
        F.col("doc_id"),
        F.explode(tokens("text")).alias("term"),
    )
    toks_per_bucket = tok.groupBy("b").agg(
        F.count("*").alias("n_tok")
    )
    first = tok.groupBy("term").agg(F.min("doc_id").alias("_fd"))
    new_per_bucket = first.groupBy(
        (F.col("_fd") / bucket).cast("long").alias("b")
    ).agg(F.count("*").alias("n_new"))
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pts0 = (
        toks_per_bucket.join(new_per_bucket, "b", "left")
        .select("b", "n_tok", F.coalesce("n_new", F.lit(0)).alias("n_new"))
        .select(
            "b",
            F.sum("n_tok").over(w).alias("cum_tok"),
            F.sum("n_new").over(w).alias("cum_vocab"),
        )
        .filter((F.col("cum_tok") > 0) & (F.col("cum_vocab") > 0))
    )
    lx = F.log(F.col("cum_tok").cast("double"))
    ly = F.log(F.col("cum_vocab").cast("double"))
    pts = pts0.select(
        F.round(lx, 8).cast("decimal(18,8)").alias("x"),
        F.round(ly, 8).cast("decimal(18,8)").alias("y"),
        F.round(lx * ly, 8).cast("decimal(18,8)").alias("xy"),
        F.round(lx * lx, 8).cast("decimal(18,8)").alias("xx"),
        F.round(ly * ly, 8).cast("decimal(18,8)").alias("yy"),
    )
    agg = pts.agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
        F.sum("yy").cast("double").alias("syy"),
    )
    n = F.col("n_points").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov / varx
    return agg.select(
        "n_points",
        F.when(
            varx > 0, F.round(F.exp((F.col("sy") - slope * F.col("sx")) / n), 6)
        ).alias("heaps_k"),
        F.when(varx > 0, F.round(slope, 6)).alias("heaps_beta"),
        F.when(
            (varx > 0) & (vary > 0), F.round((cov * cov) / (varx * vary), 6)
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Gopher-style document quality rules (Rae et al. 2021 §A1.1, adapted)
# ---------------------------------------------------------------------------
# Thresholds follow the paper's rule FAMILY with data-fitted bounds so
# both branches of every rule are exercised at every SF on the synthetic
# corpus (the same convention semdedup/simhash/bm25_dfcap use): the
# paper's 50-100k word window and 3-10 mean-word-length bounds would
# pass/fail the entire 10-99-word synthetic corpus on one side.
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 90
GOPHER_MIN_MWL_X10 = 40  # mean word length >= 4.0 (integer cross-multiply)
GOPHER_MAX_MWL = 10  # mean word length <= 10
GOPHER_STOP_SET = ("the", "a", "and", "of", "to", "in", "is")
GOPHER_MIN_STOP_HITS = 2
GOPHER_TOP_FRAC_NUM, GOPHER_TOP_FRAC_DEN = 2, 10  # top word <= 20% of words
GOPHER_MIN_UNIQ_NUM, GOPHER_MIN_UNIQ_DEN = 1, 2  # distinct/words >= 50%


def gopher_quality_rules(docs: DataFrame) -> DataFrame:
    """Gopher-style rule-based quality filter: per-document counters
    plus one boolean per rule and the composite ``keep`` — word-count
    window, mean-word-length window, minimum stop-word hits, maximum
    single-word dominance, minimum unique-word ratio.

    Differs from ``quality_filter`` (length/punct/dup-3gram) by
    implementing the published Gopher rule set as an auditable flag
    table rather than a drop decision — the form a curation pipeline
    logs so each rule's kill-rate can be monitored per source.

    Scale shape: one projection, zero shuffles — every counter is a
    higher-order function over the row's own token array. The
    dominance counter sorts the row's tokens and folds the longest
    equal-run — O(words·log words) per row (r7, replacing the
    O(words·distinct) count-each-distinct form the r6 verdict flagged
    as a per-row quadratic on book-length documents); identical
    integer output, same oracle. All comparisons are integer
    cross-multiplications — no float anywhere — so the value-hash
    oracle is trivially exact."""
    t = tokens("text")
    base = docs.select("doc_id", t.alias("_t"))
    cnt = base.select(
        "doc_id",
        F.size("_t").cast("long").alias("n_words"),
        F.size(F.array_distinct("_t")).cast("long").alias("n_distinct"),
        F.aggregate("_t", F.lit(0), lambda a, x: a + F.length(x))
        .cast("long")
        .alias("sum_word_chars"),
        F.size(F.filter("_t", lambda x: x.isin(*GOPHER_STOP_SET)))
        .cast("long")
        .alias("stop_hits"),
        F.when(F.size("_t") == 0, F.lit(None).cast("long"))
        .otherwise(
            F.aggregate(
                F.array_sort("_t"),
                F.struct(
                    F.lit(None).cast("string").alias("prev"),
                    F.lit(0).alias("run"),
                    F.lit(0).alias("best"),
                ),
                lambda a, x: F.struct(
                    x.alias("prev"),
                    F.when(x.eqNullSafe(a["prev"]), a["run"] + 1)
                    .otherwise(F.lit(1))
                    .alias("run"),
                    F.greatest(
                        a["best"],
                        F.when(x.eqNullSafe(a["prev"]), a["run"] + 1).otherwise(
                            F.lit(1)
                        ),
                    ).alias("best"),
                ),
                lambda a: a["best"],
            ).cast("long")
        )
        .alias("top_word_count"),
    )
    n = F.col("n_words")
    r_wc = (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)
    r_mwl = (F.col("sum_word_chars") * 10 >= GOPHER_MIN_MWL_X10 * n) & (
        F.col("sum_word_chars") <= GOPHER_MAX_MWL * n
    )
    r_stop = F.col("stop_hits") >= GOPHER_MIN_STOP_HITS
    r_top = F.col("top_word_count") * GOPHER_TOP_FRAC_DEN <= GOPHER_TOP_FRAC_NUM * n
    r_uniq = F.col("n_distinct") * GOPHER_MIN_UNIQ_DEN >= GOPHER_MIN_UNIQ_NUM * n
    return cnt.select(
        "doc_id",
        "n_words",
        "n_distinct",
        "sum_word_chars",
        "stop_hits",
        "top_word_count",
        r_wc.alias("rule_word_count"),
        r_mwl.alias("rule_mean_word_len"),
        r_stop.alias("rule_stopwords"),
        r_top.alias("rule_top_word"),
        r_uniq.alias("rule_unique_ratio"),
        (r_wc & r_mwl & r_stop & r_top & r_uniq).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Training-mixture domain weights (DoReMi-flavored closed-form heuristic)
# ---------------------------------------------------------------------------
MIX_UNIQ_DP = 9  # per-doc unique-ratio rounding before the exact sum


def domain_mixture_weights(docs: DataFrame) -> DataFrame:
    """Per-source training-mixture weights: the table a data-mixing
    stage feeds the sampler (``mixture_sample_documents`` consumes
    exactly this shape). Closed-form quality-tilted temperature
    weighting — w_raw(s) = sqrt(token_share(s)) · mean_uniq_ratio(s),
    normalized over sources:

      - sqrt(share) is temperature sampling at α=1/2 (the same n^α
        family as ``temperature_sample_documents``, here over token
        mass per DOMAIN rather than docs per language), flattening the
        head sources the way DoReMi's learned weights empirically do;
      - mean unique-word ratio is the quality tilt — a cheap static
        proxy standing in for DoReMi's excess-loss term (the full
        proxy-model loop needs a trainer, out of engine scope; the
        plumbing downstream of the weight table is identical).

    Scale shape: one map-side-combined aggregation corpus → |sources|
    rows, then one tiny cross of the source frame with its own total —
    linear scan, no corpus shuffle beyond the per-source combine.

    Determinism: token counts are exact integers; per-doc unique
    ratios are rounded to 9 dp and summed as exact DECIMAL (the
    label_centroids convention), so every downstream double is a
    deterministic function of order-independent aggregates; w_raw is
    rounded to 9 dp, DECIMAL-summed for the normalizer, and the final
    weight rounds to 6 dp — full value-hash oracle."""
    per_doc = docs.select(
        "source",
        token_count("text").alias("n_tok"),
        F.round(
            F.size(F.array_distinct(tokens("text")))
            / token_count("text").cast("double"),
            MIX_UNIQ_DP,
        )
        .cast(f"decimal(18,{MIX_UNIQ_DP})")
        .alias("uniq_r"),
    )
    per_src = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        (F.sum("uniq_r").cast("double") / F.count("*")).alias("_mu"),
    )
    tot = per_src.agg(F.sum("n_tokens").cast("long").alias("_tt"))
    raw = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.col("_tt").cast("double")).alias("_share"),
        "_mu",
    )
    raw = raw.select(
        "*",
        F.round(F.sqrt(F.col("_share")) * F.col("_mu"), MIX_UNIQ_DP)
        .cast(f"decimal(18,{MIX_UNIQ_DP})")
        .alias("_w_raw"),
    )
    norm = raw.agg(F.sum("_w_raw").cast("double").alias("_z"))
    return (
        raw.crossJoin(F.broadcast(norm))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round("_share", 6).alias("token_share"),
            F.round("_mu", 6).alias("mean_uniq_ratio"),
            F.round(F.col("_w_raw").cast("double") / F.col("_z"), 6).alias(
                "weight"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (Kudo 2018, SentencePiece's default model) —
# the second production tokenizer family next to BPE: a piece
# inventory with probabilities, fit by (hard-)EM, segmentation by
# Viterbi. Completes the tokenizer surface: bpe_merges/bpe_encode are
# the merge-table family; this is the probabilistic one.
# ---------------------------------------------------------------------------
UNI_MAX_PIECE_LEN = 6
UNI_SEED_V = 120  # multi-char seed pieces (top by weighted occurrences)
UNI_KEEP = 80  # multi-char pieces kept per EM prune
UNI_EM_ROUNDS = 3


def _uni_viterbi(term: str, logp: dict, max_len: int) -> list:
    """Best segmentation of ``term`` under piece log-probs: maximize
    Σ log p(piece); ties prefer the LONGER last piece (smaller split
    point). Single characters are always in the inventory, so every
    term segments. Pure function — the Spark E-step UDF and the test
    reference both call exactly this."""
    n = len(term)
    best = [0.0] + [float("-inf")] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            piece = term[j:i]
            lp = logp.get(piece)
            if lp is None or best[j] == float("-inf"):
                continue
            cand = best[j] + lp
            # strictly-better wins; equal scores prefer smaller j
            # (longer last piece) — j ascends, so keep the FIRST max
            if cand > best[i]:
                best[i] = cand
                back[i] = j
    out, i = [], n
    while i > 0:
        out.append(term[back[i] : i])
        i = back[i]
    return out[::-1]


def _uni_seed(words: list) -> dict:
    """Seed piece counts from (term, n) rows: every substring
    occurrence (overlaps included) of length 1..UNI_MAX_PIECE_LEN,
    weighted by word frequency; multi-char pieces cut to the top
    UNI_SEED_V by (count desc, piece asc), single chars always kept.
    Used by the test reference; the Spark trainer computes the same
    counts distributed (mapInPandas over the words table)."""
    counts: dict = {}
    for term, n in words:
        ln = len(term)
        for j in range(ln):
            for i in range(j + 1, min(j + UNI_MAX_PIECE_LEN, ln) + 1):
                p = term[j:i]
                counts[p] = counts.get(p, 0) + n
    singles = {p: c for p, c in counts.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda t: (-t[1], t[0]),
    )[:UNI_SEED_V]
    return {**singles, **dict(multi)}


def _uni_logprobs(counts: dict) -> dict:
    """Laplace-smoothed piece log-probs (+1 keeps never-used single
    chars alive, Kudo's required-character rule)."""
    import math

    tot = sum(counts.values()) + len(counts)
    return {p: math.log((c + 1) / tot) for p, c in counts.items()}


@scoped
def unigram_lm_vocab(
    docs: DataFrame, em_rounds: int = UNI_EM_ROUNDS
) -> DataFrame:
    """Unigram-LM tokenizer TRAINING: seed inventory from weighted
    substring counts, then ``em_rounds`` of hard EM — E-step: Viterbi
    re-segmentation of every distinct word; M-step: re-count, prune to
    single chars + the top ``UNI_KEEP`` multi-char pieces, re-normalize
    (Laplace-smoothed). Returns the shipped model table
    (rank, piece, piece_len, piece_count, log_prob).

    Spark shape (the bpe_merges state discipline): all iterative state
    is the WORD-FREQUENCY table (|vocab| rows — millions at 100 TB,
    never the corpus; the corpus is scanned once for it). Per round the
    E-step is one Arrow-batched ``mapInPandas`` over the words table —
    the Viterbi DP is genuinely imperative (winnow_fingerprint's
    justification) — with the CURRENT piece table broadcast into the
    closure (≤ singles+UNI_SEED_V rows, a bounded model artifact like
    pq_trained's codebook); its (piece, weighted-count) output is one
    map-side-combined vocab-sized aggregation, and only that ≤150-row
    count table reaches the driver for the prune/re-normalize (loop
    control, like bpe_merges' argmax rows).

    Determinism: counts are exact longs; prune ties break (count desc,
    piece asc); Viterbi tie-breaks are fixed (longer last piece); the
    E-step float sums are per-word-local (no cross-partition float
    reduction), so the fit is partition-order independent. Rows-only
    correctness (iterative EM is not SQL); tests pin the ENTIRE model
    table against a pure-python reference running the identical
    algorithm, at two SFs."""
    spark = docs.sparkSession
    words_df = query_scope().persist(
        docs.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("n"))
    )
    # seed counts are distributable (substring counts + sum): one more
    # mapInPandas pass over the words table, so the driver only ever
    # sees piece tables, never word rows.

    def _substr_counts(batches):
        for pdf in batches:
            counts: dict = {}
            for term, n in zip(pdf["term"], pdf["n"]):
                ln = len(term)
                for j in range(ln):
                    for i in range(j + 1, min(j + UNI_MAX_PIECE_LEN, ln) + 1):
                        p = term[j:i]
                        counts[p] = counts.get(p, 0) + int(n)
            yield pd.DataFrame(
                {"piece": list(counts), "c": list(counts.values())}
            )

    seed_schema = "piece string, c long"
    seed_agg = (
        words_df.mapInPandas(_substr_counts, seed_schema)
        .groupBy("piece")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    singles = {
        r.piece: r.c for r in seed_agg.filter(F.length("piece") == 1).collect()
    }
    multi = {
        r.piece: r.c
        for r in seed_agg.filter(F.length("piece") > 1)
        .orderBy(F.col("c").desc(), "piece")
        .limit(UNI_SEED_V)
        .collect()
    }
    counts = {**singles, **multi}
    for _ in range(em_rounds):
        logp = _uni_logprobs(counts)

        def _estep(batches, logp=logp):
            for pdf in batches:
                acc: dict = {}
                for term, n in zip(pdf["term"], pdf["n"]):
                    for p in _uni_viterbi(term, logp, UNI_MAX_PIECE_LEN):
                        acc[p] = acc.get(p, 0) + int(n)
                yield pd.DataFrame(
                    {"piece": list(acc), "c": list(acc.values())}
                )

        new = {
            r.piece: r.c
            for r in words_df.mapInPandas(_estep, seed_schema)
            .groupBy("piece")
            .agg(F.sum("c").cast("long").alias("c"))
            .collect()
        }
        kept_multi = sorted(
            ((p, c) for p, c in new.items() if len(p) > 1),
            key=lambda t: (-t[1], t[0]),
        )[:UNI_KEEP]
        counts = {
            **{p: new.get(p, 0) for p in singles},
            **dict(kept_multi),
        }
    logp = _uni_logprobs(counts)
    rows = sorted(counts.items(), key=lambda t: (-t[1], t[0]))
    return local_frame(
        spark,
        [
            (i, p, len(p), int(c), round(logp[p], 6))
            for i, (p, c) in enumerate(rows)
        ],
        "rank long, piece string, piece_len long, piece_count long, log_prob double",
    )


@scoped
def unigram_encode(docs: DataFrame, vocab: DataFrame | None = None) -> DataFrame:
    """Unigram-LM ENCODE: Viterbi-segment the corpus under a trained
    piece table; per-document accounting
    (doc_id, n_words, n_pieces, n_chars, chars_per_piece) — the
    fertility numbers a tokenizer eval compares across models (directly
    comparable to ``bpe_encode_documents``' columns).

    Scale shape mirrors bpe_encode: segmentation is word-local, so the
    Viterbi UDF runs over DISTINCT words only; the corpus is touched
    for one (doc_id, word) count shuffle and one word-keyed join back.
    The piece table rides in as a closure broadcast (model artifact).
    Rows-only (inherits the trainer); per-word segmentations pinned
    against the shared ``_uni_viterbi`` in tests."""
    if vocab is None:
        vocab = unigram_lm_vocab(docs)
    logp = {r.piece: r.log_prob for r in vocab.collect()}

    def _enc(batches):
        for pdf in batches:
            out = []
            for term in pdf["term"]:
                seg = _uni_viterbi(term, logp, UNI_MAX_PIECE_LEN)
                out.append((term, len(seg)))
            yield pd.DataFrame(out, columns=["term", "n_pieces_w"])

    wc = query_scope().persist(
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    enc = wc.select("term").distinct().mapInPandas(
        _enc, "term string, n_pieces_w long"
    )
    per_doc = (
        wc.join(enc, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_pieces_w")).cast("long").alias("n_pieces"),
            F.sum(F.col("cnt") * F.length("term")).cast("long").alias("n_chars"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        "n_pieces",
        "n_chars",
        F.round(F.col("n_chars") / F.col("n_pieces").cast("double"), 6).alias(
            "chars_per_piece"
        ),
    )


def dataset_card_report(docs: DataFrame) -> DataFrame:
    """Per-source dataset card — the summary table a curation pipeline
    publishes with a release (datasheet/data-card practice): document
    and token volumes, language spread, Gopher-rule keep rate,
    prefix-duplicate rate (corpus-wide md5 over the first 64 chars —
    the cheap prefix-hash dedup proxy crawl pipelines run before full
    near-dup; exact md5(text) dups don't exist in this corpus, so the
    prefix key keeps the column live at every SF), and mean document
    length, one row per source.

    Pure composition of independently-oracled pieces
    (gopher_quality_rules' keep flag; hash-group dedup à la
    dedup_exact). Scale shape: two map-side-combined aggregations over
    one corpus scan each (per-source rollup; prefix-hash dup grouping
    whose >1-member groups join back as a semi-join) plus
    |sources|-row joins — nothing larger than |sources| leaves an
    aggregation. Exact counts + rounded divisions ⇒ value-hash oracle."""
    base = docs.select(
        "doc_id",
        "source",
        "lang",
        token_count("text").alias("n_tok"),
        F.char_length("text").cast("long").alias("n_ch"),
        F.md5(F.substring("text", 1, 64)).alias("h"),
    )
    per_src = base.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("n_ch").cast("long").alias("_chars"),
    )
    dup_groups = (
        base.groupBy("h")
        .agg(F.count("*").cast("long").alias("c"))
        .filter(F.col("c") > 1)
        .select("h")
    )
    dup = (
        base.join(dup_groups, "h", "left_semi")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("dup_docs"))
    )
    keep = (
        gopher_quality_rules(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.sum(F.col("keep").cast("long")).cast("long").alias("keep_docs")
        )
    )
    return (
        per_src.join(dup, "source", "left")
        .join(keep, "source")
        .withColumn("dup_docs", F.coalesce("dup_docs", F.lit(0).cast("long")))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_langs",
            "dup_docs",
            "keep_docs",
            F.round(F.col("dup_docs") / F.col("n_docs").cast("double"), 6).alias(
                "dup_rate"
            ),
            F.round(
                F.col("keep_docs") / F.col("n_docs").cast("double"), 6
            ).alias("keep_rate"),
            F.round(F.col("_chars") / F.col("n_docs").cast("double"), 6).alias(
                "mean_chars"
            ),
        )
    )
