"""Semantic property tests for the round-3-continuation curation
operators (parity vs DuckDB lives in test_parity.py; these pin the
operator-level invariants a hash-match alone can't express)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from healthcare_oltp_to_olap_gcp_spark.catalog import table
from healthcare_oltp_to_olap_gcp_spark.operators import dedup, similarity, textquality

from .conftest import SF001
from .helpers import plan_details, plan_text


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


@pytest.mark.fullsweep
def test_dup_span_full_coverage_for_exact_dups(spark):
    base = " ".join(f"w{i}" for i in range(20))
    other = " ".join(f"x{i}" for i in range(20))
    short = "a b c"  # shorter than k: can never be covered
    out = {
        r.doc_id: r
        for r in dedup.dup_span_stats(_docs(spark, [base, base, other, short]))
        .collect()
    }
    assert out[0].dup_ratio == 1.0 and out[1].dup_ratio == 1.0
    assert out[2].n_dup_tokens == 0
    assert out[3].n_dup_tokens == 0 and out[3].n_tokens == 3


def test_dup_span_partial_overlap_counts_only_shared_window(spark):
    # Doc B embeds doc A's exact 20 tokens inside unique padding: A is
    # fully covered; B's covered positions are exactly the shared span.
    shared = " ".join(f"s{i}" for i in range(20))
    b = " ".join(f"p{i}" for i in range(10)) + " " + shared + " " + " ".join(
        f"q{i}" for i in range(10)
    )
    out = {r.doc_id: r for r in dedup.dup_span_stats(_docs(spark, [shared, b])).collect()}
    assert out[0].n_dup_tokens == 20
    assert out[1].n_dup_tokens == 20 and out[1].n_tokens == 40


def test_remove_dup_spans_keeps_one_copy(spark):
    """The keeper (min doc_id holding a duplicated gram) retains the
    span; every other holder loses exactly the shared positions and
    nothing else — one surviving copy per duplicated span, the
    RefinedWeb rewrite contract."""
    shared = " ".join(f"s{i}" for i in range(20))
    pad_pre = " ".join(f"p{i}" for i in range(10))
    pad_post = " ".join(f"q{i}" for i in range(10))
    b = f"{pad_pre} {shared} {pad_post}"
    other = " ".join(f"x{i}" for i in range(20))
    out = {
        r.doc_id: r
        for r in dedup.remove_dup_spans(_docs(spark, [shared, b, other])).collect()
    }
    # doc 0 is the keeper: untouched
    assert out[0].n_removed == 0 and out[0].cleaned_text == shared
    # doc 1 loses exactly the shared 20 tokens, padding survives in order
    assert out[1].n_removed == 20
    assert out[1].cleaned_text == f"{pad_pre} {pad_post}"
    # unrelated doc untouched
    assert out[2].n_removed == 0 and out[2].cleaned_text == other


def test_remove_dup_spans_consistent_with_stats(spark):
    """On the real corpus, removal never exceeds what dup_span_stats
    measures (the keeper exemption can only shrink it), and docs
    reported clean are returned verbatim-tokenized."""
    docs = table(spark, SF001, "documents")
    stats = {r.doc_id: r for r in dedup.dup_span_stats(docs).collect()}
    removed = {r.doc_id: r for r in dedup.remove_dup_spans(docs).collect()}
    assert set(stats) == set(removed)
    for did, r in removed.items():
        assert r.n_removed <= stats[did].n_dup_tokens
        if stats[did].n_dup_tokens == 0:
            assert r.n_removed == 0
        assert r.n_tokens == stats[did].n_tokens


def _py_bpe(word_freq, n_merges):
    """Reference BPE (pure python): greedy leftmost fuse, ties broken
    lexicographically on (left, right)."""
    vocab = [(list(w), n) for w, n in word_freq.items()]
    merges = []
    for rank in range(n_merges):
        counts = {}
        for syms, n in vocab:
            for x, y in zip(syms, syms[1:]):
                counts[(x, y)] = counts.get((x, y), 0) + n
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, cnt))
        new_vocab = []
        for syms, n in vocab:
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            new_vocab.append((out, n))
        vocab = new_vocab
    return merges


def test_bpe_merges_known_sequence(spark):
    """Hand-derivable toy corpus: 'aaab'x3 + 'ab'x2 must learn exactly
    (a,a)=6 then (a,b)=5 then (aa,ab)=3 and stop (single symbols left),
    proving greedy-leftmost fusing and early termination."""
    docs = _docs(spark, ["aaab aaab aaab", "ab ab"])
    got = [
        (r.merge_rank, r.left, r.right, r.pair_count)
        for r in textquality.bpe_merges(docs, n_merges=20).collect()
    ]
    assert got == [(0, "a", "a", 6), (1, "a", "b", 5), (2, "aa", "ab", 3)]


def test_bpe_merges_matches_reference_on_corpus(spark):
    """The distributed trainer must reproduce the pure-python reference
    BPE exactly (same tokenization, same tie-breaks) on the real
    documents table — every rank, pair, and count."""
    docs = table(spark, SF001, "documents")
    freqs = {}
    for r in docs.select("text").collect():
        for w in r.text.lower().split():
            freqs[w] = freqs.get(w, 0) + 1
    want = _py_bpe(freqs, 10)
    got = [
        (r.merge_rank, r.left, r.right, r.pair_count)
        for r in textquality.bpe_merges(docs, n_merges=10).collect()
    ]
    assert got == want


@pytest.mark.fullsweep
def test_bpe_batched_equals_sequential(spark):
    """batch>1 must be a pure round-count optimization: the learned
    merge table (every rank, pair, and count) is identical to the
    one-merge-per-round trainer on the real corpus, while using
    measurably fewer driver round-trips."""
    docs = table(spark, SF001, "documents")
    seq = [tuple(r) for r in textquality.bpe_merges(docs, n_merges=16, batch=1).collect()]
    seq_rounds = textquality.bpe_merges.last_rounds
    bat = [tuple(r) for r in textquality.bpe_merges(docs, n_merges=16, batch=8).collect()]
    bat_rounds = textquality.bpe_merges.last_rounds
    assert bat == seq
    assert len(seq) == 16
    assert bat_rounds < seq_rounds


def test_bpe_batch_stops_at_interacting_pairs(spark):
    """Engineered interaction: 'xab'x100 makes (a,b)=100 and (x,a)=100
    share symbol a, and merging (a,b) births (x,ab)=100 — a naive batch
    that also took the disjoint (c,d)=60 in round 1 would mis-rank it
    ahead of (x,ab). The strict-count cutoff must hold the batch to the
    argmax alone; output equals the pure-python reference trainer."""
    docs = _docs(spark, ["xab " * 100 + "cd " * 60])
    got = [
        (r.merge_rank, r.left, r.right, r.pair_count)
        for r in textquality.bpe_merges(docs, n_merges=4, batch=8).collect()
    ]
    want = _py_bpe({"xab": 100, "cd": 60}, 4)
    assert got == want
    assert got[:3] == [(0, "a", "b", 100), (1, "x", "ab", 100), (2, "c", "d", 60)]


def test_dsir_weights_favor_target_distribution(spark):
    """The importance estimator must rank target-like docs above the
    rest: mean log-weight of the target-lang slice strictly exceeds the
    non-target mean, and target docs dominate the resample beyond their
    natural share."""
    import math

    docs = table(spark, SF001, "documents")
    w = textquality.dsir_importance_weights(docs).collect()
    assert len(w) == docs.count()
    en = [r.log_weight for r in w if r.lang == textquality.DSIR_TARGET_LANG]
    rest = [r.log_weight for r in w if r.lang != textquality.DSIR_TARGET_LANG]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)
    s = textquality.dsir_sample_documents(docs).collect()
    assert len(s) == math.ceil(textquality.DSIR_FRAC * len(w))
    nat = len(en) / len(w)
    got = sum(1 for r in s if r.lang == textquality.DSIR_TARGET_LANG) / len(s)
    assert got > nat, f"resample en-share {got} not above natural {nat}"


def test_dsir_sample_is_gumbel_topk_of_weights(spark):
    """The kept set must be exactly the top-⌈frac·n⌉ of (rounded
    log-weight + rounded md5-Gumbel) under the (score desc, doc_id)
    order — recomputed here in pure python from the weights frame."""
    import hashlib
    import math

    docs = table(spark, SF001, "documents")
    w = textquality.dsir_importance_weights(docs).collect()

    def score(r):
        h = hashlib.md5(str(r.doc_id).encode()).hexdigest()
        u = (int(h[:8], 16) + 1) / 4294967296.0
        return round(r.log_weight + round(-math.log(-math.log(u)), 6), 6)

    want = sorted(((-score(r), r.doc_id) for r in w))[
        : math.ceil(textquality.DSIR_FRAC * len(w))
    ]
    got = sorted(
        (-r.score, r.doc_id)
        for r in textquality.dsir_sample_documents(docs).collect()
    )
    assert got == want


def test_ccnet_buckets_are_ordered_terciles(spark):
    from collections import Counter

    docs = table(spark, SF001, "documents")
    rows = textquality.docs_ccnet_buckets(docs).collect()
    assert len(rows) == docs.count()
    c = Counter(r.bucket for r in rows)
    assert set(c) == {"head", "middle", "tail"}
    # Distinct 6-dp perplexities ⇒ tercile counts within ±2 of n/3.
    for v in c.values():
        assert abs(v - len(rows) / 3) <= 2, c
    by = {b: [r.perplexity for r in rows if r.bucket == b] for b in c}
    assert max(by["head"]) <= min(by["middle"])
    assert max(by["middle"]) <= min(by["tail"])


def test_prefix_suffix_overlap_is_directed(spark):
    k = dedup.PS_OVERLAP_K
    seam = " ".join(f"s{i}" for i in range(k))
    a = " ".join(f"a{i}" for i in range(5)) + " " + seam  # ends with seam
    b = seam + " " + " ".join(f"b{i}" for i in range(5))  # starts with seam
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.prefix_suffix_overlap_pairs(_docs(spark, [a, b])).collect()
    }
    assert (0, 1) in pairs and (1, 0) not in pairs


def test_mixture_sample_balances_sources(spark):
    docs = table(spark, "/root/testdata/sf0.01", "documents")
    sampled = dedup.mixture_sample_documents(docs)
    counts = {
        r.source: r.n
        for r in sampled.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    raw = {
        r.source: r.n
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    mn = min(raw.values())
    # min-count source keeps everything (rate 1.0); others land within
    # binomial noise of the shared target.
    min_src = min(raw, key=raw.get)
    assert counts[min_src] == raw[min_src]
    for src, n in counts.items():
        assert abs(n - mn) <= max(10, int(0.35 * mn)), (src, n, mn)


def test_temperature_sample_interpolates_mixture(spark):
    """α=0.5: the smallest source keeps rate 1 (fully retained), rates
    decrease with source size as sqrt(n_min/n_s); α=0 degenerates to
    mixture_sample_documents' equal-share rule exactly."""
    import math

    docs = table(spark, SF001, "documents")
    counts = {r.source: r.n for r in
              docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    n_min = min(counts.values())
    out = dedup.temperature_sample_documents(docs).collect()
    rates = {}
    for r in out:
        rates.setdefault(r.source, r.accept_rate)
    for src, rate in rates.items():
        assert abs(rate - round(math.sqrt(n_min / counts[src]), 6)) < 1e-9
    kept = {s: sum(1 for r in out if r.source == s) for s in rates}
    for src in rates:
        if counts[src] == n_min:
            assert kept[src] == counts[src]  # smallest source intact

    flat = dedup.temperature_sample_documents(docs, alpha=0.0)
    mix = dedup.mixture_sample_documents(docs)
    assert sorted((r.doc_id, r.source) for r in flat.collect()) == sorted(
        (r.doc_id, r.source) for r in mix.collect()
    )


def test_quality_model_keep_matches_logit_sign_and_guards_empty(spark):
    docs = _docs(spark, ["the cat sat on the mat in a hat", "", "   "])
    rows = {r.doc_id: r for r in textquality.quality_model_scores(docs).collect()}
    scored = rows[0]
    assert scored.keep == (scored.quality_logit >= 0)
    for empty_id in (1, 2):
        assert rows[empty_id].quality_score is None
        assert rows[empty_id].keep is False


def test_perplexity_is_one_for_single_repeated_token(spark):
    # One doc, one term: the corpus LM assigns it probability 1, so
    # cross-entropy is exactly 0 and perplexity exactly 1.
    out = textquality.docs_perplexity(_docs(spark, ["w w w w w"])).collect()[0]
    assert out.cross_entropy == 0.0 and out.perplexity == 1.0


def test_source_kl_zero_for_identical_distributions(spark):
    rows = [
        (0, "a b c", "en", "s1", 5),
        (1, "a b c", "en", "s2", 5),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    for r in textquality.source_kl(docs).collect():
        assert r.kl_vs_corpus == 0.0


@pytest.mark.fullsweep
def test_hard_negative_labels_differ_and_brute_agrees_with_ivf(spark):
    emb = table(spark, SF001, "embeddings")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    ivf = similarity.hard_negative_mining(emb).collect()
    assert ivf, "no negatives mined"
    qids = [r.query_id for r in ivf]
    assert len(qids) == len(set(qids)), "more than one negative per query"
    for r in ivf:
        assert r.neg_label != r.query_label
        assert labels[r.negative_id] == r.neg_label
    brute = {
        r.query_id: (r.negative_id, r.sim)
        for r in similarity.hard_negative_mining(
            emb, topk_fn=similarity.ann_brute_topk
        ).collect()
    }
    ivf_map = {r.query_id: (r.negative_id, r.sim) for r in ivf}
    common = set(brute) & set(ivf_map)
    assert common
    # Dominance: IVF restricts the candidate pool, so it can NEVER mine
    # a harder (higher-sim) negative than the exhaustive top-k's pick.
    for q in common:
        assert ivf_map[q][1] <= brute[q][1] + 1e-9, (q, ivf_map[q], brute[q])
    # Loose floor only — hardest-negative top-1 is far more tie-
    # sensitive than top-k overlap, and the small corpora yield just
    # ~10 queries (measured agreement 5-6/10 at both test SFs).
    agree = sum(1 for q in common if brute[q][0] == ivf_map[q][0])
    assert agree / len(common) >= 0.2, (agree, len(common))


def test_zipf_slope_is_negative_with_decent_fit(spark):
    docs = table(spark, SF001, "documents")
    row = textquality.token_zipf_fit(docs).collect()[0]
    assert row.n_terms > 10
    assert row.zipf_slope < 0, row
    assert 0.0 <= row.r2 <= 1.0


def test_grouping_sets_rowcount_is_sum_of_sets(spark):
    from healthcare_oltp_to_olap_gcp_spark.plans import analytics

    events = table(spark, SF001, "events")
    out = analytics.events_grouping_sets(events)
    n_dt = events.select(F.to_date("ts"), "event_type").distinct().count()
    n_t = events.select("event_type").distinct().count()
    assert out.count() == n_dt + n_t + 1


@pytest.mark.fullsweep
def test_keep_best_keeps_one_survivor_per_component(spark):
    docs = table(spark, SF001, "documents")
    best = dedup.clean_documents_keep_best(docs)
    first = dedup.clean_documents(docs)
    # Same clustering => same number of survivors, possibly different
    # members; survivors are a subset of the corpus.
    assert best.count() == first.count()
    assert best.join(docs, "doc_id", "left_anti").count() == 0


@pytest.mark.fullsweep
def test_recall_report_has_all_methods_with_bounded_recall(spark):
    emb = table(spark, SF001, "embeddings")
    rows = {r.method: r for r in similarity.ann_recall_report(emb).collect()}
    assert set(rows) == {"ivf_flat", "lsh", "sq8", "pq", "ivfpq", "bq"}
    totals = {r.n_total for r in rows.values()}
    assert len(totals) == 1
    for r in rows.values():
        assert 0 <= r.n_hit <= r.n_total
        assert 0.0 <= r.recall <= 1.0
    # sign-bit codes are the coarsest quantizer in the report; the wide
    # k+margin rerank must still keep them useful (mirrors
    # test_operators.test_bq_recall_and_exact_rerank's >= 0.3 at SF01)
    assert rows["bq"].recall >= 0.3
    # the fused report counts exactly the hits of each method's own
    # public key against the brute top-k
    keys = {
        "ivf_flat": similarity.ivf_flat_ann_topk,
        "lsh": similarity.ann_lsh_topk,
        "sq8": similarity.sq8_ann_topk,
        "pq": similarity.pq_ann_topk,
        "ivfpq": similarity.ivfpq_ann_topk,
        "bq": similarity.bq_ann_topk,
    }
    brute = {(r.query_id, r.neighbor_id) for r in similarity.ann_brute_topk(emb).collect()}
    assert rows["bq"].n_total == len(brute)
    for method, key in keys.items():
        own = {(r.query_id, r.neighbor_id) for r in key(emb).collect()}
        assert rows[method].n_hit == len(own & brute), method


def test_recall_report_plans_one_result_window(spark):
    """The six methods share one result cut and the four code-ranked
    ones one depth cut: the report plans one ANN-order window
    partitioned by (method, query_id), not one per method, and the only
    other ANN-order window is the brute truth's."""
    import re

    df = similarity.ann_recall_report(table(spark, SF001, "embeddings"))
    plan = plan_text(df)
    windows = [
        re.sub(r"#\d+L?", "#", line)
        for line in plan.splitlines()
        if line.startswith("Arguments: [row_number() windowspecdefinition(")
    ]
    by = [w.split("], [")[1] for w in windows]
    ann_order = "[sim# DESC NULLS LAST, neighbor_id# ASC NULLS FIRST]"
    ann = [b for w, b in zip(windows, by) if w.endswith(ann_order)]
    assert sorted(ann) == ["method#, query_id#", "query_id#"], windows
    depth = [b for w, b in zip(windows, by) if "[_key# DESC NULLS LAST" in w]
    assert depth == ["method#, query_id#"], windows


def test_length_histogram_partitions_the_corpus(spark):
    docs = table(spark, SF001, "documents")
    hist = textquality.docs_length_histogram(docs)
    assert hist.agg(F.sum("n_docs")).collect()[0][0] == docs.count()
    bad = hist.filter(
        (F.col("min_chars") > F.col("max_chars")) | (F.col("len_bucket") < 1)
    )
    assert bad.count() == 0


def test_dedup_segments_first_occurrence_wins(spark):
    """C4-style contract: the globally first (doc_id, seg_idx) holder
    of a segment keeps it; every later occurrence — across docs AND
    within a doc — is excised; unrelated text is untouched."""
    seg_a = " ".join(f"a{i}" for i in range(10))
    seg_b = " ".join(f"b{i}" for i in range(10))
    seg_c = " ".join(f"c{i}" for i in range(10))
    out = {
        r.doc_id: r
        for r in dedup.dedup_segments(
            _docs(
                spark,
                [
                    f"{seg_a} {seg_b}",      # doc 0: keeper of a and b
                    f"{seg_b} {seg_c}",      # doc 1: loses b, keeps c
                    f"{seg_a} {seg_a}",      # doc 2: within-doc repeat, all dup
                ],
            )
        ).collect()
    }
    assert out[0].n_removed == 0 and out[0].cleaned_text == f"{seg_a} {seg_b}"
    assert out[1].n_removed == 1 and out[1].cleaned_text == seg_c
    assert out[2].n_removed == 2 and out[2].cleaned_text == ""
    assert out[2].n_segments == 2


def test_dedup_segments_short_tail_is_its_own_segment(spark):
    """A final partial segment (< k tokens) dedups on its own text:
    two docs sharing only the same 3-token tail lose one copy."""
    tail = "t0 t1 t2"
    d0 = " ".join(f"x{i}" for i in range(10)) + " " + tail
    d1 = " ".join(f"y{i}" for i in range(10)) + " " + tail
    out = {
        r.doc_id: r for r in dedup.dedup_segments(_docs(spark, [d0, d1])).collect()
    }
    assert out[0].n_removed == 0
    assert out[1].n_removed == 1
    assert out[1].cleaned_text == " ".join(f"y{i}" for i in range(10))


def _py_encode(word, merges):
    syms = list(word)
    for _, a, b, _cnt in merges:
        out = []
        for x in syms:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        syms = out
    return syms


def test_bpe_encode_matches_reference(spark):
    """Encode with a trained merge table equals the pure-python
    greedy-leftmost rank-order encoder, word by word, aggregated to
    per-doc token counts."""
    rows = [
        "low lower lowest newer newest wider wide low low newer",
        "the wide river grew wider and the newest idea grew older",
        "low low low lowest lowest newer wider the the the",
    ]
    docs = _docs(spark, rows)
    freqs = {}
    for t in rows:
        for w in t.lower().split():
            freqs[w] = freqs.get(w, 0) + 1
    merges = _py_bpe(freqs, 12)
    got = {
        r.doc_id: r for r in textquality.bpe_encode(docs, n_merges=12).collect()
    }
    for did, text in enumerate(rows):
        words = text.lower().split()
        want_tokens = sum(len(_py_encode(w, merges)) for w in words)
        assert got[did].n_words == len(words)
        assert got[did].n_bpe_tokens == want_tokens, (did, got[did])
        assert got[did].n_token_chars == sum(len(w) for w in words)


def test_bpe_encode_zero_merges_is_characters(spark):
    """With an empty merge table every word encodes to its characters."""
    docs = _docs(spark, ["ab abc", "a bb ccc"])
    empty = spark.createDataFrame(
        [], "merge_rank long, left string, right string, pair_count long"
    )
    got = {r.doc_id: r for r in textquality.bpe_encode(docs, merges=empty).collect()}
    assert got[0].n_bpe_tokens == 5 and got[0].n_words == 2
    assert got[1].n_bpe_tokens == 6 and got[1].chars_per_token == 1.0


def test_bpe_encode_external_merge_table(spark):
    """A caller-supplied merge table (the production path: train once,
    encode many corpora) is applied in rank order."""
    docs = _docs(spark, ["aaab aab"])
    merges = spark.createDataFrame(
        [(0, "a", "a", 5), (1, "aa", "b", 2)],
        "merge_rank long, left string, right string, pair_count long",
    )
    got = textquality.bpe_encode(docs, merges=merges).collect()[0]
    # aaab -> [aa, ab]? greedy-leftmost: a+a->aa, then a,b stay; rank1
    # fuses aa+b only when adjacent: aaab -> [aa,a,b] -> [aa,ab]? No:
    # rank-order pass: chars a,a,a,b -> fold rank0: [aa,a,b]; rank1
    # fuses aa+b — not adjacent, so [aa,a,b] stays (3 tokens).
    # aab -> [aa,b] -> rank1 -> [aab] (1 token).
    assert got.n_bpe_tokens == 3 + 1


def test_bm25_matches_pure_python_reference(spark):
    """Pin the Okapi scoring against an independent pure-python BM25
    (doc 0 is the query via the doc_id % QUERY_MOD == 0 convention):
    same ranking and 6-dp scores, self-match excluded."""
    import math

    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    rows = [
        "apple banana apple cherry",          # doc 0 = query
        "apple apple apple banana",           # strong match
        "banana cherry date",                 # partial match
        "date egg fig",                       # no overlap -> absent
        "apple cherry cherry cherry banana",  # match
    ]
    got = retrieval.bm25_topk(_docs(spark, rows), k=10).collect()
    corpus = [t.lower().split() for t in rows]
    n = len(corpus)
    avgdl = sum(len(d) for d in corpus) / n
    k1, b = retrieval.BM25_K1, retrieval.BM25_B

    def score(q, d):
        s = 0.0
        doc = corpus[d]
        for t in set(corpus[q]):
            tf = doc.count(t)
            if not tf:
                continue
            df = sum(1 for dd in corpus if t in dd)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            w = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * (len(doc) / avgdl)))
            s += round(idf * w, 6)
        return round(s, 6)

    want = sorted(
        ((score(0, d), d) for d in range(1, n) if score(0, d) > 0),
        key=lambda x: (-x[0], x[1]),
    )
    assert [(r.doc_id, r.score, r.rank) for r in sorted(got, key=lambda r: r.rank)] == [
        (d, s, i + 1) for i, (s, d) in enumerate(want)
    ]
    assert all(r.doc_id != r.query_id for r in got)


def test_contamination_bloom_equals_exact_and_prefilters(spark):
    """The Bloom twin must be row-identical to docs_contamination
    (no false negatives + exact verify), and its plan must show the
    bucket prefilter semi-join FEEDING the exact verify join."""
    docs = table(spark, SF001, "documents")
    exact = {r.doc_id: r for r in dedup.docs_contamination(docs).collect()}
    bloom = {r.doc_id: r for r in dedup.docs_contamination_bloom(docs).collect()}
    assert bloom == exact
    plan = plan_text(dedup.docs_contamination_bloom(docs))
    assert "pmod" in plan and "xxhash64" in plan  # bucket prefilter present
    semi = [b for b in plan_details(plan, r"\w+Join") if "Join type: LeftSemi" in b]
    assert len(semi) >= 2  # bloom probe + exact verify


@pytest.mark.parametrize("n_centroids", [16, 64], ids=["fixed_C", "grown_C"])
def test_knn_graph_restriction_equals_ivf_flat_and_mutual_is_symmetric(
    spark, n_centroids
):
    """The graph uses the exact ivf_flat construction with queries =
    corpus, so restricting its edges to the vec_id % QUERY_MOD slice
    must reproduce ivf_flat_ann_topk verbatim; and the mutual flag must
    be symmetric: (a→b).mutual ⇔ the b→a edge exists. Checked at the
    oracle's fixed C=16 AND at grown C=64 — the C ∝ n deploy knob
    (VERDICT r5 item 1): both operators draw the identical md5-ranked
    centroid table at any C, so the restriction identity is
    C-independent, and per-src top-k/rank/edge-budget contracts hold."""
    emb = table(spark, SF001, "embeddings")
    edges = similarity.knn_graph_edges(emb, n_centroids=n_centroids).collect()
    n = emb.count()
    assert len(edges) <= n * similarity.DEFAULT_K
    per_src: dict[int, list[int]] = {}
    for r in edges:
        per_src.setdefault(r.src_id, []).append(r.rank)
    for ranks in per_src.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    restricted = sorted(
        (r.src_id, r.dst_id, r.sim, r.rank)
        for r in edges
        if r.src_id % similarity.QUERY_MOD == 0
    )
    ivf = sorted(
        (r.query_id, r.neighbor_id, r.sim, r.rank)
        for r in similarity.ivf_flat_ann_topk(
            emb, n_centroids=n_centroids
        ).collect()
    )
    assert restricted == ivf
    directed = {(r.src_id, r.dst_id) for r in edges}
    for r in edges:
        assert r.mutual == ((r.dst_id, r.src_id) in directed)


def test_unimax_water_filling_rates(spark):
    """Hand-checkable allocation: langs a=2, b=10 docs, budget 3/5·12=7
    → a saturates (rate 1.0), b gets the leftover cap 5 (rate 0.5);
    and with the budget >= corpus every language keeps rate 1.0."""
    rows = [(i, f"t {i}", "a" if i < 2 else "b", "s", 3) for i in range(12)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = dedup.unimax_sample_documents(docs).collect()
    rates = {r.lang: r.accept_rate for r in out}
    assert rates["a"] == 1.0 and rates["b"] == 0.5
    assert sum(1 for r in out if r.lang == "a") == 2  # rate-1 langs keep all
    full = dedup.unimax_sample_documents(docs, budget_num=1, budget_den=1).collect()
    assert len(full) == 12 and all(r.accept_rate == 1.0 for r in full)


@pytest.mark.fullsweep
def test_neardup_report_verified_methods_have_perfect_precision(spark):
    """MinHash-LSH and containment verify candidates with exact
    set-overlap predicates derived from the same shingles as the truth
    set, so when they emit pairs their precision must be 1.0; recalls
    are bounded (0, 1]; simhash (different predicate) may drift on
    either axis but its counts must be self-consistent."""
    docs = table(spark, SF001, "documents")
    rows = {r.method: r for r in dedup.neardup_recall_report(docs).collect()}
    assert set(rows) == {"minhash_lsh", "simhash", "containment"}
    assert rows["minhash_lsh"].precision == 1.0
    for r in rows.values():
        assert r.n_hit <= min(r.n_pairs, r.n_true)
        assert r.recall is None or 0.0 < r.recall <= 1.0


def test_bm25_dfcap_drops_high_df_terms_only(spark):
    """Hand-case: 'the' appears in every doc (df above the median rule's
    theta), so the capped twin must score query doc 0 = 'the a' ONLY
    through 'a' — its sole match is doc 3; the exact form also matches
    docs 1 and 2 via 'the'."""
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    rows = ["the a", "the b", "the c", "the a b"]
    docs = _docs(spark, rows)
    exact = {r.doc_id for r in retrieval.bm25_topk(docs).collect()}
    capped = {r.doc_id for r in retrieval.bm25_topk(docs, df_cap=True).collect()}
    assert exact == {1, 2, 3}
    assert capped == {3}


def _zipf_docs(spark, n):
    """Zipfian-shaped corpus: one head term in 80% of docs (df = 0.8n —
    the Σdf-dominating posting list) plus a pair term p_{i//2} shared
    by exactly two docs (df = 2). Every query doc (doc_id % QUERY_MOD
    == 0 ⇒ i % 5 == 0 ≠ 1) contains the head term, so the uncapped
    probe walks the head posting list for every query."""
    rows = [
        (f"p{i // 2}" if i % 5 == 1 else f"head p{i // 2}") for i in range(n)
    ]
    return _docs(spark, rows)


@pytest.mark.fullsweep
def test_bm25_dfcap_bounds_work_growth_on_zipfian_vocabulary(spark):
    """VERDICT r5 item 2: on the near-uniform synthetic vocabulary the
    median-df cap is only a constant-factor cut (SCALING.md documents
    the degeneracy); on a ZIPFIAN vocabulary the capped terms are
    precisely the Σdf-dominating head, making the cap a GROWTH cut.
    Proof on the work proxy (candidate (query, posting) rows, measured
    through the scorer's own frame builder): growing the corpus 4x
    grows uncapped candidates 16x (queries ×4 · head postings ×4 — the
    quadratic term), while capped candidates grow exactly 4x (linear:
    θ = median df = 2 keeps only the pair terms, whose posting lists
    are corpus-size-independent)."""
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    small, big = 200, 800
    # Exact candidate counts, derivable by hand from the corpus shape:
    # uncapped per query = (head df − self) + (pair df − self)
    #                    = (0.8n − 1) + (2 − 1) = 0.8n; queries = n/50.
    un_s = retrieval.bm25_candidate_rows(_zipf_docs(spark, small))
    un_b = retrieval.bm25_candidate_rows(_zipf_docs(spark, big))
    cap_s = retrieval.bm25_candidate_rows(_zipf_docs(spark, small), df_cap=True)
    cap_b = retrieval.bm25_candidate_rows(_zipf_docs(spark, big), df_cap=True)
    assert (un_s, un_b) == (
        (small // 50) * (8 * small // 10),
        (big // 50) * (8 * big // 10),
    )  # 640, 10240 — quadratic: 16x under 4x corpus growth
    assert (cap_s, cap_b) == (small // 50, big // 50)  # 4, 16 — linear
    assert un_b / un_s == 16.0
    assert cap_b / cap_s == 4.0


def _docs_src(spark, rows):
    """rows: (doc_id, text, source)."""
    return spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_dedup_incremental_flags_cross_matches_only(spark):
    from healthcare_oltp_to_olap_gcp_spark.operators import dedup

    base = " ".join(f"w{i}" for i in range(20))
    other = " ".join(f"x{i}" for i in range(20))
    third = " ".join(f"y{i}" for i in range(20))
    # new batch = doc_id % 3 == 0; old corpus = the rest
    rows = [
        (0, base, "src"),   # new: exact dup of OLD doc 1 and OLD doc 4
        (1, base, "src"),   # old
        (2, other, "src"),  # old
        (3, third, "src"),  # new: dups only NEW doc 6 → must NOT flag
        (4, base, "src"),   # old
        (6, third, "src"),  # new
    ]
    out = {
        r.doc_id: r
        for r in dedup.dedup_incremental(_docs_src(spark, rows)).collect()
    }
    assert set(out) == {0, 3, 6}  # one verdict row per incoming doc
    assert out[0].is_dup and out[0].n_matches == 2
    assert out[0].best_match == 1 and out[0].best_jaccard == 1.0
    # batch-internal duplicates are NOT the incremental screen's job
    assert not out[3].is_dup and out[3].n_matches == 0
    assert out[3].best_match is None and out[3].best_jaccard is None
    assert not out[6].is_dup


def test_dup_source_matrix_normalizes_pair_order(spark):
    from healthcare_oltp_to_olap_gcp_spark.operators import dedup

    base = " ".join(f"w{i}" for i in range(20))
    other = " ".join(f"x{i}" for i in range(20))
    rows = [
        (0, base, "mirror"),
        (1, base, "crawl"),   # cross-source dup with 0
        (2, other, "crawl"),
        (3, other, "crawl"),  # intra-source dup with 2
    ]
    out = {
        (r.source_a, r.source_b): r
        for r in dedup.dup_source_matrix(_docs_src(spark, rows)).collect()
    }
    assert set(out) == {("crawl", "mirror"), ("crawl", "crawl")}
    assert out[("crawl", "mirror")].n_pairs == 1
    assert out[("crawl", "mirror")].avg_jaccard == 1.0
    assert out[("crawl", "crawl")].n_pairs == 1


def test_quality_auc_hand_case(spark):
    """3 clean docs (keep) vs 2 drops; a scorer that ranks every keep
    above every drop has AUC 1.0 on that corpus."""
    from healthcare_oltp_to_olap_gcp_spark.operators import textquality

    clean = " ".join(
        "the quick brown fox jumps over a lazy dog and then some".split()
    )
    rows = [clean, clean + " more plain words here", clean + " extra tail"]
    rows += ["!!! ??? ***", "##$$%%&&"]  # high punct + too short → drop
    out = {
        r.scorer: r
        for r in textquality.quality_auc_report(_docs(spark, rows)).collect()
    }
    assert set(out) == set(textquality.AUC_SCORERS)
    for r in out.values():
        assert r.auc is None or 0.0 <= r.auc <= 1.0
    # the model logit separates these perfectly
    assert out["quality_logit"].n_pos == 3 and out["quality_logit"].n_neg == 2
    assert out["quality_logit"].auc == 1.0
    # punct_ratio is anti-correlated by construction
    assert out["punct_ratio"].auc == 0.0


def test_split_leakage_flags_cross_split_pairs(spark):
    """Two exact-dup docs forced into known splits must show up as one
    pair whose leaky flag equals (their splits differ); the report's
    split labels must agree with split_assignments."""
    from healthcare_oltp_to_olap_gcp_spark.operators import dedup

    base = " ".join(f"w{i}" for i in range(20))
    other = " ".join(f"x{i}" for i in range(20))
    docs = _docs(spark, [base, base, other])
    sp = {r.doc_id: r.split for r in dedup.split_assignments(docs).collect()}
    rows = dedup.split_leakage_report(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_pairs == 1 and r.avg_jaccard == 1.0
    expect = tuple(sorted((sp[0], sp[1])))
    assert (r.split_a, r.split_b) == expect
    assert r.leaky == (sp[0] != sp[1])


def test_ngram_novelty_first_occurrence_order(spark):
    """Doc 0 is all-novel by definition; an exact copy later has zero
    novelty; a half-overlapping doc scores the fraction of its grams
    not seen before."""
    from healthcare_oltp_to_olap_gcp_spark.operators import dedup

    a = " ".join(f"w{i}" for i in range(10))       # 8 shingles, all novel
    b = a                                          # copy → novelty 0
    c = " ".join(f"w{i}" for i in range(5, 15))    # back half novel
    out = {
        r.doc_id: r for r in dedup.docs_ngram_novelty(
            _docs(spark, [a, b, c])
        ).collect()
    }
    assert out[0].novelty == 1.0 and out[0].n_grams == 8
    assert out[1].novelty == 0.0
    # c's shingles w5..w12: those fully inside w5..w9 (w5 w6 w7, w6 w7 w8,
    # w7 w8 w9) already occurred in doc 0; the other 5 are new
    assert out[2].n_grams == 8 and out[2].n_novel == 5
    assert out[2].novelty == round(5 / 8, 6)


def test_quality_signal_corr_perfect_and_bounded(spark):
    """corr(n_tokens, n_tokens-proxy) sanity: all pairs emitted once,
    |r| ≤ 1, and a corpus where avg_token_len is constant yields NULL
    (zero variance) for its pairs."""
    from healthcare_oltp_to_olap_gcp_spark.operators import textquality

    # constant token length (all tokens 2 chars) → avg_token_len variance 0
    rows = [" ".join(["ab"] * n) for n in (2, 4, 8, 16)]
    out = {
        (r.sig_a, r.sig_b): r
        for r in textquality.quality_signal_corr(_docs(spark, rows)).collect()
    }
    from itertools import combinations

    assert set(out) == set(combinations(textquality.CORR_SIGNALS, 2))
    for r in out.values():
        assert r.corr is None or -1.0 <= r.corr <= 1.0
    assert out[("n_tokens", "avg_token_len")].corr is None
    assert out[("punct_ratio", "avg_token_len")].corr is None


def test_vocab_growth_fit_power_law(spark):
    """A corpus built to follow V = n^0.5 exactly at every bucket
    checkpoint must fit beta ~= 0.5 with r2 ~= 1; K ~= 1."""
    from healthcare_oltp_to_olap_gcp_spark.operators import textquality

    # bucket width 1 doc: doc d brings total tokens to (d+1)^2 and
    # total vocab to (d+1): tokens in doc d = (d+1)^2 - d^2 = 2d+1,
    # exactly ONE of them new.
    rows = []
    for d in range(12):
        new = f"t{d}"
        seen = [f"t{i}" for i in range(d + 1)]
        toks = [new] + [seen[i % (d + 1)] for i in range(2 * d)]
        rows.append(" ".join(toks))
    out = textquality.vocab_growth_fit(_docs(spark, rows), bucket=1).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_points == 12
    assert abs(r.heaps_beta - 0.5) < 0.01
    assert r.r2 > 0.999
    assert abs(r.heaps_k - 1.0) < 0.05


# ---------------------------------------------------------------------------
# round 6: gopher rules / mixture weights / rerank / prototypicality /
# k-center (parity for the oracle-backed four lives in test_parity.py)
# ---------------------------------------------------------------------------


def test_gopher_rules_hand_cases(spark):
    good = " ".join([f"word{i}" for i in range(28)] + ["the", "a"])
    too_short = "alpha beta gamma delta epsilon"
    low_mwl = " ".join([f"a{i % 9}" for i in range(28)] + ["the", "a"])
    no_stops = " ".join(f"token{i}" for i in range(30))
    dominated = " ".join(["the"] * 15 + [f"word{i}" for i in range(15)])
    low_uniq = " ".join((["thing", "stuff", "items"] * 10))
    out = {
        r.doc_id: r
        for r in textquality.gopher_quality_rules(
            _docs(spark, [good, too_short, low_mwl, no_stops, dominated, low_uniq])
        ).collect()
    }
    assert out[0].keep and all(
        getattr(out[0], c)
        for c in (
            "rule_word_count",
            "rule_mean_word_len",
            "rule_stopwords",
            "rule_top_word",
            "rule_unique_ratio",
        )
    )
    assert not out[1].rule_word_count and not out[1].keep
    assert not out[2].rule_mean_word_len and out[2].rule_word_count
    assert not out[3].rule_stopwords and out[3].rule_mean_word_len
    assert not out[4].rule_top_word and out[4].rule_stopwords
    assert not out[5].rule_unique_ratio and not out[5].keep


def test_gopher_rules_every_rule_fires_both_ways_on_corpus(spark):
    agg = textquality.gopher_quality_rules(table(spark, SF001, "documents")).agg(
        *[
            F.sum(F.col(c).cast("int")).alias(c)
            for c in (
                "rule_word_count",
                "rule_mean_word_len",
                "rule_stopwords",
                "rule_top_word",
                "rule_unique_ratio",
                "keep",
            )
        ],
        F.count("*").alias("n"),
    ).collect()[0]
    for c in (
        "rule_word_count",
        "rule_mean_word_len",
        "rule_stopwords",
        "rule_top_word",
        "rule_unique_ratio",
        "keep",
    ):
        assert 0 < getattr(agg, c) < agg.n, c


def test_domain_mixture_weights_normalized_and_quality_tilted(spark):
    rows = []
    for i in range(2):  # srcA: fully unique tokens
        rows.append((i, " ".join(f"a{i}x{j}" for j in range(20)), "en", "srcA", 1))
    for i in range(2):  # srcB: same token mass, 50% unique
        rows.append(
            (10 + i, " ".join(f"b{i}x{j % 10}" for j in range(20)), "en", "srcB", 1)
        )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.source: r for r in textquality.domain_mixture_weights(docs).collect()}
    assert abs(out["srcA"].weight + out["srcB"].weight - 1.0) < 1e-6
    assert out["srcA"].n_tokens == out["srcB"].n_tokens
    assert out["srcA"].weight > out["srcB"].weight  # quality tilt


def test_domain_mixture_sqrt_flattens_head_source(spark):
    rows = [(0, " ".join(f"h{j}" for j in range(80)), "en", "head", 1)]
    rows += [(1, " ".join(f"t{j}" for j in range(20)), "en", "tail", 1)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.source: r for r in textquality.domain_mixture_weights(docs).collect()}
    # equal quality, 4x token mass -> exactly sqrt(4)=2x the weight,
    # not 4x (the alpha=1/2 temperature flattening)
    assert abs(out["head"].weight / out["tail"].weight - 2.0) < 1e-3
    assert abs(out["head"].weight + out["tail"].weight - 1.0) < 1e-6


def test_bm25_rerank_is_a_cut_of_stage1_candidates(spark):
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    docs = table(spark, SF001, "documents")
    emb = table(spark, SF001, "embeddings")
    cand = {
        (r.query_id, r.doc_id)
        for r in retrieval.bm25_topk(docs, k=retrieval.RERANK_M).collect()
    }
    out = retrieval.bm25_rerank_topk(docs, emb).collect()
    assert out
    per_q: dict[int, list] = {}
    for r in out:
        assert (r.query_id, r.doc_id) in cand  # stage-2 never invents rows
        assert 1 <= r.bm25_rank <= retrieval.RERANK_M
        per_q.setdefault(r.query_id, []).append(r)
    for q, rows in per_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= retrieval.DEFAULT_K
        sims = [r.sim for r in rows]
        assert sims == sorted(sims, reverse=True)  # cosine order, not bm25


def test_prototypicality_prune_drops_top_quarter_per_label(spark):
    out = similarity.prototypicality_prune(table(spark, SF001, "embeddings")).collect()
    by_label: dict[int, list] = {}
    for r in out:
        by_label.setdefault(r.label, []).append(r)
    for label, rows in by_label.items():
        n = rows[0].n_label
        assert len(rows) == n
        pruned = [r for r in rows if not r.keep]
        kept = [r for r in rows if r.keep]
        assert len(pruned) == n // 4  # prune exactly the top quarter
        assert {r.proto_rank for r in pruned} == set(range(1, n // 4 + 1))
        if pruned and kept:
            # pruned are the MOST prototypical (highest centroid cosine)
            assert min(r.proto_sim for r in pruned) >= max(
                r.proto_sim for r in kept
            ) - 1e-9


def test_kcenter_invariants_and_radius_monotone_in_k(spark):
    emb = table(spark, SF001, "embeddings")
    n = emb.count()
    vec_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    radii = {}
    for k in (4, 8, 16):
        rows = similarity.kcenter_diversity_sample(emb, k=k).collect()
        assert len(rows) == k
        assert sum(r.n_assigned for r in rows) == n  # partition of corpus
        assert all(r.center_vec_id in vec_ids for r in rows)
        assert all(r.coverage_radius >= 0 and r.mean_dist >= 0 for r in rows)
        assert all(r.mean_dist <= r.coverage_radius + 1e-9 for r in rows)
        radii[k] = max(r.coverage_radius for r in rows)
    # greedy centers are prefix-nested, so coverage can only shrink
    assert radii[16] <= radii[8] <= radii[4]


def test_multimodal_phash_hand_case(spark):
    from healthcare_oltp_to_olap_gcp_spark.operators import multimodal

    base = "A" * 32 + "z" * 32  # bits: 32 zeros then 32 ones
    inverted = "z" * 32 + "A" * 32  # complement: shares no band
    one_off = "A" * 32 + "z" * 31 + "A"  # Hamming 1 from base
    docs = _docs(spark, [base, base, inverted, one_off])
    out = {
        (r.doc_id_a, r.doc_id_b): r.hamming
        for r in multimodal.multimodal_phash_pairs(
            multimodal.attach_payload(docs)
        ).collect()
    }
    assert out[(0, 1)] == 0
    assert out[(0, 3)] == 1 and out[(1, 3)] == 1
    assert not any(2 in p for p in out)  # complement never pairs


def test_multimodal_phash_pairs_on_corpus(spark):
    from healthcare_oltp_to_olap_gcp_spark.operators import multimodal

    rows = multimodal.multimodal_phash_pairs(
        multimodal.attach_payload(table(spark, SF001, "documents"))
    ).collect()
    assert rows  # the corpus has exact dups -> hamming-0 pairs exist
    assert all(r.doc_id_a < r.doc_id_b for r in rows)
    assert all(0 <= r.hamming <= multimodal.PH_MAX_HAMMING for r in rows)
    assert any(r.hamming == 0 for r in rows)


def _reference_unigram(words, rounds):
    from healthcare_oltp_to_olap_gcp_spark.operators.textquality import (
        UNI_KEEP,
        UNI_MAX_PIECE_LEN,
        _uni_logprobs,
        _uni_seed,
        _uni_viterbi,
    )

    counts = _uni_seed(words)
    singles = {p for p in counts if len(p) == 1}
    for _ in range(rounds):
        logp = _uni_logprobs(counts)
        new: dict = {}
        for term, n in words:
            for p in _uni_viterbi(term, logp, UNI_MAX_PIECE_LEN):
                new[p] = new.get(p, 0) + n
        kept = sorted(
            ((p, c) for p, c in new.items() if len(p) > 1),
            key=lambda t: (-t[1], t[0]),
        )[:UNI_KEEP]
        counts = {**{p: new.get(p, 0) for p in singles}, **dict(kept)}
    logp = _uni_logprobs(counts)
    rows = sorted(counts.items(), key=lambda t: (-t[1], t[0]))
    return [(i, p, len(p), c, round(logp[p], 6)) for i, (p, c) in enumerate(rows)]


def test_unigram_vocab_matches_pure_python_reference(spark):
    docs = table(spark, SF001, "documents")
    words = [
        (r.term, r.n)
        for r in docs.selectExpr("explode(split(lower(text), '\\\\s+')) AS term")
        .where("term <> ''")
        .groupBy("term")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    ]
    expected = _reference_unigram(words, rounds=3)
    got = [
        (r.rank, r.piece, r.piece_len, r.piece_count, r.log_prob)
        for r in textquality.unigram_lm_vocab(docs).orderBy("rank").collect()
    ]
    assert got == expected


def test_unigram_learns_repeated_piece(spark):
    docs = _docs(spark, ["ababab ababab ababab", "cd cd", "ababab"])
    vocab = {r.piece: r for r in textquality.unigram_lm_vocab(docs).collect()}
    # the dominant repeated string segments as one piece with top count
    multi = [p for p in vocab if len(p) > 1]
    assert "ababab" in multi
    best_multi = max(multi, key=lambda p: vocab[p].piece_count)
    assert best_multi == "ababab"


def test_unigram_encode_consistent_with_viterbi(spark):
    from healthcare_oltp_to_olap_gcp_spark.operators.textquality import (
        UNI_MAX_PIECE_LEN,
        _uni_viterbi,
    )

    docs = _docs(spark, ["the fast key order", "the the the", "zq"])
    vocab = textquality.unigram_lm_vocab(docs)
    logp = {r.piece: r.log_prob for r in vocab.collect()}
    out = {r.doc_id: r for r in textquality.unigram_encode(docs, vocab).collect()}
    for doc_id, text in [(0, "the fast key order"), (1, "the the the"), (2, "zq")]:
        words = text.split()
        n_pieces = sum(
            len(_uni_viterbi(w, logp, UNI_MAX_PIECE_LEN)) for w in words
        )
        assert out[doc_id].n_words == len(words)
        assert out[doc_id].n_pieces == n_pieces
        assert out[doc_id].n_chars == sum(len(w) for w in words)
        assert out[doc_id].n_pieces <= out[doc_id].n_chars


def test_dataset_card_report_hand_case(spark):
    shared_prefix = "p" * 64
    rows = [
        (0, shared_prefix + " alpha tail one", "en", "srcA", 1),
        (1, shared_prefix + " beta tail two", "en", "srcA", 1),
        (2, "completely different text here", "fr", "srcA", 1),
        (3, "another unrelated document", "de", "srcB", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.source: r for r in textquality.dataset_card_report(docs).collect()}
    a, b = out["srcA"], out["srcB"]
    assert a.n_docs == 3 and b.n_docs == 1
    assert a.n_langs == 2 and b.n_langs == 1
    assert a.dup_docs == 2 and b.dup_docs == 0  # the shared 64-char prefix
    assert abs(a.dup_rate - 2 / 3) < 1e-6 and b.dup_rate == 0.0
    assert 0.0 <= a.keep_rate <= 1.0


def test_prototypicality_bucketed_equals_window_form(spark):
    a = sorted(
        map(tuple, similarity.prototypicality_prune(
            table(spark, SF001, "embeddings")
        ).collect())
    )
    b = sorted(
        map(tuple, similarity.prototypicality_prune_bucketed(
            table(spark, SF001, "embeddings")
        ).select(
            "vec_id", "label", "proto_sim", "proto_rank", "n_label", "keep"
        ).collect())
    )
    assert a == b


def test_prototypicality_bucketed_has_no_label_only_window(spark):
    """The twin's reason to exist: every window partition key must be
    finer than the bare label (histogram table or (label, sim) tie
    sets), so reducer parallelism scales with the data instead of
    |labels|."""
    plan = plan_text(
        similarity.prototypicality_prune_bucketed(table(spark, SF001, "embeddings"))
    )
    for block in plan_details(plan, "Window"):
        spec = block.split("Arguments: [", 1)[1]
        keys = spec.split("windowspecdefinition(")[1].split(
            ", specifiedwindowframe"
        )[0]
        if "proto_sim" in keys:
            continue  # row-level tie window keyed (label, proto_sim)
        # label-only windows are allowed ONLY over the bounded
        # histogram table (their function sums the _c cell counts)
        assert spec.startswith("sum(_c"), spec[:100]


def _rq_tables(spark):
    """Hand corpus where BM25 and semantic truth disagree: one query
    (doc 0), ten keyword-stuffed decoys that win the lexical ranking
    but sit orthogonal in embedding space, ten 'relevant' docs that
    share only two query terms (retrievable, but out-ranked by every
    decoy) yet are the query's exact cosine top-10."""
    q_terms = "alpha beta gamma delta epsilon zeta"
    docs = [(0, q_terms)]
    for j in range(1, 11):  # decoys: every query term twice
        docs.append((j, q_terms + " " + q_terms))
    for i in range(11, 21):  # relevant: two query terms + uniques
        uniq = " ".join(f"u{i}w{t}" for t in range(4))
        docs.append((i, f"alpha beta {uniq}"))
    docs_df = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    )

    def vec(one_hot: int, lead: float = 1.0, second: float = 0.0):
        v = [0.0] * 64
        v[one_hot] = lead
        if second:
            v[1] = second
        return v

    emb = [(0, vec(0), 0)]
    for j in range(1, 11):  # decoys orthogonal to the query
        emb.append((j, vec(2 + j), 0))
    for i in range(11, 21):  # relevant: cos ≈ 0.9, strictly ordered
        c = 0.9 - 0.001 * (i - 11)
        emb.append((i, [c, (1 - c * c) ** 0.5] + [0.0] * 62, 0))
    emb_df = spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int"
    )
    return docs_df, emb_df


@pytest.mark.fullsweep
def test_retrieval_quality_rerank_provably_lifts_ndcg(spark):
    """VERDICT r6 item 4's hand case: raw BM25 retrieves only the
    keyword-stuffed decoys (nDCG = MRR = 0); the cosine rerank of the
    same stage-1 candidate pool recovers the true top-10 perfectly
    (nDCG = MRR = recall = 1)."""
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    docs_df, emb_df = _rq_tables(spark)
    rows = {
        r.method: r
        for r in retrieval.retrieval_quality_report(docs_df, emb_df).collect()
    }
    assert rows["bm25"].ndcg == 0.0 and rows["bm25"].mrr == 0.0
    assert rows["bm25_rerank"].ndcg == 1.0
    assert rows["bm25_rerank"].mrr == 1.0
    assert rows["bm25_rerank"].recall == 1.0
    assert rows["bm25"].n_queries == 1


@pytest.mark.fullsweep
def test_retrieval_quality_report_bounds_and_lift_on_corpus(spark):
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    rows = {
        r.method: r
        for r in retrieval.retrieval_quality_report(
            table(spark, SF001, "documents"), table(spark, SF001, "embeddings")
        ).collect()
    }
    assert set(rows) == {
        "bm25",
        "bm25_dfcap",
        "bm25_rerank",
        "bm25_rerank_dfcap",
        "hybrid_rrf",
        "rm3",
    }
    for r in rows.values():
        assert 0.0 <= r.ndcg <= 1.0 and 0.0 <= r.mrr <= 1.0
        assert 0.0 <= r.recall <= 1.0 and r.n_queries > 0
    # the cascade's reason to exist: reranking the same candidates
    # lifts ranking quality, capped or not
    assert rows["bm25_rerank"].ndcg > rows["bm25"].ndcg
    assert rows["bm25_rerank_dfcap"].ndcg > rows["bm25_dfcap"].ndcg
    # fusion's reason to exist: folding the dense list in beats pure
    # lexical retrieval (its dense stage shares the truth's embedding
    # space, so this is the report's designed upper reference point)
    assert rows["hybrid_rrf"].ndcg > rows["bm25"].ndcg
    assert rows["hybrid_rrf"].recall > rows["bm25"].recall


def test_ann_index_incremental_equals_from_scratch_rebuild(spark):
    """The dedup_incremental convergence contract on the IVF index:
    inserting the batch into the maintained index (fixed established
    centroids + stored assignments) yields row-for-row the SAME index
    state as rebuilding every assignment from scratch against the same
    centroid table — so a deployment re-trains only on drift, never to
    insert."""
    from pyspark.sql import functions as F2
    from healthcare_oltp_to_olap_gcp_spark.operators.similarity import (
        ANN_INCR_MOD,
        _cents_row,
        _corpus,
        _ivf_index,
        _rank_cells,
        ann_index_incremental,
    )

    emb = table(spark, SF001, "embeddings")
    corpus = _corpus(emb)
    is_new = F2.col("neighbor_id") % ANN_INCR_MOD == 0
    cent, stored = _ivf_index(corpus.filter(~is_new), 16)
    # full rebuild: every vector (established AND batch) assigned from
    # scratch against the SAME centroid table
    rebuild = {
        (r.vec_id, r.cell, r.cent_sim)
        for r in (
            corpus.join(F2.broadcast(_cents_row(cent)))
            .withColumn("_best", F2.element_at(_rank_cells("cv"), 1))
            .select(
                F2.col("neighbor_id").alias("vec_id"),
                F2.col("_best.cent_id").alias("cell"),
                F2.col("_best.cdot").alias("cent_sim"),
            )
        ).collect()
    }
    out = ann_index_incremental(emb).collect()
    stored_rows = {
        (r.vec_id, r.cell, r.cent_sim)
        for r in stored.select("vec_id", "cell", "cent_sim").collect()
    }
    inserted_rows = {(r.vec_id, r.cell, r.cent_sim) for r in out}
    assert stored_rows | inserted_rows == rebuild
    assert stored_rows.isdisjoint(inserted_rows)
    # every inserted vector got a verdict and a real established nn
    n_batch = corpus.filter(is_new).count()
    assert len(out) == n_batch
    est_ids = {r.vec_id for r in stored.select("vec_id").collect()}
    for r in out:
        assert r.nn_id in est_ids and -1.0 <= r.nn_sim <= 1.0
        # the nn is same-cell by construction


def test_bm25_index_incremental_equals_rebuild_and_flags_new_terms(spark):
    """The incremental merge must equal a from-scratch full-corpus
    rebuild (counts are associative — also proven by the driver hash
    vs the rebuild-semantics oracle), and a term appearing ONLY in the
    batch must surface with is_new_term=True and df == df_new."""
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval as R

    # hand corpus: doc 0 and 3 are the batch (id % 3 == 0)
    docs = _docs(
        spark,
        [
            "alpha beta brandnew",   # batch doc 0
            "alpha alpha gamma",     # established doc 1
            "beta gamma gamma",      # established doc 2
            "alpha brandnew",        # batch doc 3
        ],
    )
    out = {r.term: r for r in R.bm25_index_incremental(docs).collect()}
    # rebuild from scratch: full-corpus per-term stats
    from pyspark.sql import functions as F2
    from healthcare_oltp_to_olap_gcp_spark.functions.text import tokens as toks

    tf = (
        docs.select("doc_id", F2.explode(toks("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F2.count("*").alias("tf"))
    )
    rebuild = {
        r.term: r
        for r in tf.groupBy("term")
        .agg(
            F2.count("*").cast("long").alias("df"),
            F2.sum("tf").cast("long").alias("tf_total"),
        )
        .collect()
    }
    assert set(out) == set(rebuild)
    for t, r in out.items():
        assert (r.df, r.tf_total) == (rebuild[t].df, rebuild[t].tf_total)
    bn = out["brandnew"]
    assert bn.is_new_term and bn.df == bn.df_new == 2 and bn.tf_total == 2
    assert not out["alpha"].is_new_term
    assert out["alpha"].df == 3 and out["alpha"].tf_total == 4
    assert out["alpha"].df_new == 2
    assert out["gamma"].df_new == 0 and not out["gamma"].is_new_term


def test_bm25_index_incremental_corpus_invariants(spark):
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval as R

    docs = table(spark, SF001, "documents")
    rows = R.bm25_index_incremental(docs).collect()
    assert rows
    for r in rows:
        assert r.df >= 1 and r.tf_total >= r.df  # tf >= 1 per (doc, term)
        assert 0 <= r.df_new <= r.df
        if r.is_new_term:
            assert r.df == r.df_new > 0


@pytest.mark.fullsweep
def test_hybrid_rrf_fuses_a_dense_only_document(spark):
    """The fusion property that distinguishes RRF from the rerank
    cascade: a document with NO lexical overlap with the query (so it
    is absent from the BM25 list entirely) still reaches the fused
    top-k through its dense rank alone."""
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    docs = spark.createDataFrame(
        [
            (0, "alpha beta", "en", "src", 10),
            (1, "alpha beta alpha beta", "en", "src", 21),  # lexical hit
            (2, "zzz www", "en", "src", 7),  # dense-only hit
            (3, "alpha qqq", "en", "src", 9),  # mild on both lists
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    s2 = (1 - 0.99**2) ** 0.5
    pad = [0.0] * 62
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0] + pad, 0),
            (1, [0.0, 1.0] + pad, 0),  # orthogonal to the query
            (2, [0.99, s2] + pad, 0),  # near-parallel
            (3, [0.5, 0.75**0.5] + pad, 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    rows = {r.doc_id: r for r in retrieval.hybrid_rrf_topk(docs, emb).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2].lex_rank == 0 and rows[2].dense_rank == 1  # dense-only
    assert rows[1].lex_rank == 1  # lexical winner still fused in
    # fused score is exactly the sum of the rounded reciprocal ranks
    for r in rows.values():
        want = 0.0
        if r.lex_rank:
            want += round(1.0 / (retrieval.RRF_C + r.lex_rank), 8)
        if r.dense_rank:
            want += round(1.0 / (retrieval.RRF_C + r.dense_rank), 8)
        assert abs(r.rrf_score - want) < 1e-9
    # doc 1 rides two lists; doc 2 rides one — two good ranks beat one
    assert rows[1].rank < rows[2].rank


@pytest.mark.fullsweep
def test_hybrid_rrf_rows_come_from_the_two_lists(spark):
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval
    from healthcare_oltp_to_olap_gcp_spark.operators import similarity

    docs = table(spark, SF001, "documents")
    emb = table(spark, SF001, "embeddings")
    lex = {
        (r.query_id, r.doc_id): r.rank
        for r in retrieval.bm25_topk(docs, k=retrieval.RRF_M).collect()
    }
    dense = {
        (r.query_id, r.neighbor_id): r.rank
        for r in similarity.ann_brute_topk(emb, k=retrieval.RRF_M).collect()
    }
    out = retrieval.hybrid_rrf_topk(docs, emb).collect()
    assert out
    per_q: dict[int, list] = {}
    for r in out:
        key = (r.query_id, r.doc_id)
        assert key in lex or key in dense  # fusion never invents rows
        assert r.lex_rank == lex.get(key, 0)
        assert r.dense_rank == dense.get(key, 0)
        per_q.setdefault(r.query_id, []).append(r)
    for rows in per_q.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        scores = [r.rrf_score for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_rm3_expansion_retrieves_vocabulary_mismatched_doc(spark):
    """RM3's reason to exist: a relevant document sharing NO term with
    the query is invisible to plain BM25 but is retrieved after the
    feedback docs vote its term into the expanded query."""
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    rows = [
        (0, "apple banana"),  # the query (doc_id % 50 == 0)
        (1, "apple banana cherry"),  # feedback docs: bridge term
        (2, "apple banana cherry"),
        (3, "apple banana cherry"),
        (4, "cherry cherry cherry cherry"),  # hidden relevant doc
        (5, "dog cat mouse"),  # background noise for idf
        (6, "fish bird snake"),
        (7, "red green blue"),
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    plain = {r.doc_id for r in retrieval.bm25_topk(docs).collect()}
    assert 4 not in plain  # BM25 cannot see doc 4 at all
    rm3 = {r.doc_id: r for r in retrieval.rm3_expansion_topk(docs).collect()}
    assert 4 in rm3 and rm3[4].score > 0  # expansion recovered it
    assert {1, 2, 3} <= set(rm3)  # feedback docs still retrieved


def test_rm3_ranking_is_total_and_scores_descend_on_corpus(spark):
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    out = retrieval.rm3_expansion_topk(table(spark, SF001, "documents")).collect()
    assert out
    per_q: dict[int, list] = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r)
    for rows in per_q.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= retrieval.DEFAULT_K
        scores = [r.score for r in rows]
        assert scores == sorted(scores, reverse=True)


@pytest.mark.fullsweep
def test_bm25_wand_equals_exact_probe(spark):
    """WAND/MaxScore pruning must be recall-LOSSLESS: identical rows to
    the exact probe on the real corpus (where ties and short seed
    lists exercise the no-θ fallback) and on the Zipfian corpus at
    k=1 (where the pruning actually fires — see the work test)."""
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    docs = table(spark, SF001, "documents")
    exact = {tuple(r) for r in retrieval.bm25_topk(docs).collect()}
    wand = {tuple(r) for r in retrieval.bm25_wand_topk(docs).collect()}
    assert wand == exact and exact
    z = _zipf_docs(spark, 200)
    exact1 = {tuple(r) for r in retrieval.bm25_topk(z, k=1).collect()}
    wand1 = {tuple(r) for r in retrieval.bm25_wand_topk(z, k=1).collect()}
    assert wand1 == exact1 and exact1


@pytest.mark.fullsweep
def test_bm25_wand_prunes_zipfian_work_growth(spark):
    """The measured candidate-row cut VERDICT r7 item 4 asks for: on
    the Zipfian corpus every query's strongest (rarest) term seeds a
    θ that makes the Σdf-dominating head list non-essential, so the
    pruned scorer touches exactly 2 contribution rows per query (one
    seed pass + one final pass over the single pair-partner doc) —
    LINEAR in corpus size — while the exact probe's candidate rows
    grow quadratically (queries ×4 · head postings ×4 = 16× under 4×
    growth)."""
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    small, big = 200, 800
    w_s = retrieval.bm25_wand_candidate_rows(_zipf_docs(spark, small), k=1)
    w_b = retrieval.bm25_wand_candidate_rows(_zipf_docs(spark, big), k=1)
    assert (w_s, w_b) == (2 * small // 50, 2 * big // 50)  # 8, 32 — linear
    un_s = retrieval.bm25_candidate_rows(_zipf_docs(spark, small))
    un_b = retrieval.bm25_candidate_rows(_zipf_docs(spark, big))
    assert un_b / un_s == 16.0 and w_b / w_s == 4.0
    assert w_b < un_b / 100  # 32 rows vs 10240 — the cut is a growth cut


@pytest.mark.fullsweep
def test_rm3_dfcap_excludes_capped_vocabulary_everywhere(spark):
    """Hand-case for the df-capped RM3 twin: 'the' is in every doc
    (above θ = median df), so the capped pipeline must never reach a
    doc through it — neither in the feedback pass, nor via the
    relevance model, nor in pass 2. Query doc 0 = 'the a': capped fb =
    {3} (via 'a'); the relevance model over doc 3 offers {a, b}; 'b'
    is the expansion term, so doc 1 ('the b') becomes reachable — but
    doc 2 ('the c'), reachable only through 'the', must stay absent
    (the PLAIN twin retrieves it)."""
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    docs = _docs(spark, ["the a", "the b", "the c", "the a b"])
    plain = {r.doc_id for r in retrieval.rm3_expansion_topk(docs).collect()}
    capped = {
        r.doc_id
        for r in retrieval.rm3_expansion_topk(docs, df_cap=True).collect()
    }
    assert 2 in plain
    assert capped == {1, 3}


@pytest.mark.fullsweep
def test_hybrid_rrf_dense_parameterization_is_identity(spark):
    """Injecting the default dense retriever explicitly must reproduce
    hybrid_rrf_topk exactly (the dense source is read only through its
    ranks), and the IVF deployment twin must fuse only docs one of its
    two constituent lists ranked."""
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval, similarity

    docs = table(spark, SF001, "documents")
    emb = table(spark, SF001, "embeddings")
    base = {tuple(r) for r in retrieval.hybrid_rrf_topk(docs, emb).collect()}
    injected = {
        tuple(r)
        for r in retrieval.hybrid_rrf_topk(
            docs, emb, dense=similarity.ann_brute_topk(emb, k=retrieval.RRF_M)
        ).collect()
    }
    assert injected == base and base
    ivf = retrieval.hybrid_rrf_ivf_topk(docs, emb).collect()
    assert ivf
    lex = {
        (r.query_id, r.doc_id)
        for r in retrieval.bm25_topk(
            docs, k=retrieval.RRF_M, df_cap=True
        ).collect()
    }
    dense = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_flat_ann_topk(emb, k=retrieval.RRF_M).collect()
    }
    assert {(r.query_id, r.doc_id) for r in ivf} <= (lex | dense)
    for r in ivf:
        assert (r.lex_rank > 0) == ((r.query_id, r.doc_id) in lex)
        assert (r.dense_rank > 0) == ((r.query_id, r.doc_id) in dense)


@pytest.mark.fullsweep
def test_grouped_split_eliminates_leakage_and_matches_singletons(spark):
    """The group-aware split's whole contract: (1) ZERO cross-split
    near-dup pairs — every leakage-report row under the injected
    grouped assignment is non-leaky; (2) docs outside the dup graph
    (singleton group = own id) get EXACTLY the per-doc split's
    assignment; (3) every dup component lands on one split."""
    from healthcare_oltp_to_olap_gcp_spark.operators import dedup

    docs = table(spark, SF001, "documents")
    grouped = dedup.split_assignments_grouped(docs)
    rows = dedup.split_leakage_report(
        docs, split=grouped.select("doc_id", "split")
    ).collect()
    assert rows  # the corpus has verified near-dup pairs
    assert all(not r.leaky for r in rows)
    plain = {r.doc_id: r.split for r in dedup.split_assignments(docs).collect()}
    comp_split: dict[int, set] = {}
    for r in grouped.collect():
        comp_split.setdefault(r.group_key, set()).add(r.split)
        if r.group_key == r.doc_id:
            assert r.split == plain[r.doc_id]
    assert all(len(s) == 1 for s in comp_split.values())


# ---------------------------------------------------------------------------
# Round 9: fixed-workload BM25 + chunk-level MaxP retrieval
# ---------------------------------------------------------------------------


def test_bm25_workload_is_bm25_restricted_to_the_fixed_query_set(spark):
    """The fixed-workload form must be EXACTLY bm25_topk's result
    restricted to the WORKLOAD_Q smallest query-slice doc ids — the
    workload cut narrows the query side, never the scoring. On a
    corpus with more query docs than the workload size the cut is
    real; every query in the output is one of the 20 smallest."""
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    # 30 query-slice docs (ids 0, 50, ..., 1450) + off-slice filler
    texts = {}
    for i in range(30):
        texts[i * 50] = f"alpha beta w{i % 7} w{(i + 3) % 7}"
    for i in range(40):
        texts[i * 50 + 1] = f"alpha w{i % 7} z{i % 11} z{(i + 5) % 11}"
    docs = spark.createDataFrame(
        [(d, t, "en", "src", len(t)) for d, t in sorted(texts.items())],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = retrieval.bm25_workload_topk(docs).collect()
    expected_qs = {i * 50 for i in range(retrieval.WORKLOAD_Q)}
    assert {r.query_id for r in out} == expected_qs
    full = [
        tuple(r)
        for r in retrieval.bm25_topk(docs).collect()
        if r.query_id in expected_qs
    ]
    assert sorted(tuple(r) for r in out) == sorted(full)


def test_bm25_workload_covers_the_whole_slice_when_small(spark):
    """When the query slice is no larger than the workload size
    (sf0.001 has 10 query docs < WORKLOAD_Q=20) the fixed workload IS
    the slice, so the result equals plain bm25_topk verbatim."""
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    docs = table(spark, SF001, "documents")
    wl = sorted(tuple(r) for r in retrieval.bm25_workload_topk(docs).collect())
    full = sorted(tuple(r) for r in retrieval.bm25_topk(docs).collect())
    assert wl == full and wl


def test_chunk_maxp_finds_the_drowned_passage(spark):
    """The hand case VERDICT r8 item 4 names: a long document whose
    one relevant chunk is drowned by whole-document length
    normalization. Query 0 carries five needle terms; doc 1 is a
    400-token decoy containing the full needle once; docs 2-6 are
    3-token decoys with one needle term each. Whole-doc BM25 ranks a
    short decoy first (its length normalization rewards dl=3); chunk
    MaxP scores the needle CHUNK (all five terms at chunk-scale
    normalization) and puts doc 1 first, reporting the passage
    index — the chunk covering positions 96-223, the first of the two
    overlapping windows that contain the full needle (tie on score →
    min chunk_idx)."""
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    needle = "needle alpha beta gamma delta"
    long_doc = (
        " ".join(f"j{i}" for i in range(200))
        + f" {needle} "
        + " ".join(f"k{i}" for i in range(200))
    )
    decoys = [
        f"{term} z{i}a z{i}b"
        for i, term in enumerate(["needle", "alpha", "beta", "gamma", "delta"])
    ]
    docs = _docs(spark, [needle, long_doc, *decoys])
    whole = retrieval.bm25_topk(docs, k=1).collect()
    assert len(whole) == 1 and whole[0].doc_id != 1  # drowned
    maxp = retrieval.bm25_chunk_maxp_topk(docs, k=1).collect()
    assert len(maxp) == 1
    assert maxp[0].doc_id == 1
    assert maxp[0].best_chunk_idx == 1


def test_chunk_maxp_degenerates_to_bm25_on_single_chunk_docs(spark):
    """When every document fits in one chunk the chunk index IS the
    document index (chunk tf/df/length/avgdl all coincide with the
    doc-level statistics), so MaxP must equal bm25_topk row-for-row
    with best_chunk_idx 0 — pins that the chunk machinery adds no
    arithmetic drift."""
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    texts = [f"alpha w{i % 5} w{(i + 2) % 5} beta" for i in range(60)]
    docs = _docs(spark, texts)
    maxp = retrieval.bm25_chunk_maxp_topk(docs).collect()
    assert maxp and all(r.best_chunk_idx == 0 for r in maxp)
    got = sorted((r.query_id, r.doc_id, r.score, r.rank) for r in maxp)
    want = sorted(tuple(r) for r in retrieval.bm25_topk(docs).collect())
    assert got == want


def test_chunk_maxp_ranking_invariants_on_corpus(spark):
    """Corpus sanity: contiguous ranks, descending scores, and every
    best_chunk_idx within the winning document's actual chunk count."""
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval
    from healthcare_oltp_to_olap_gcp_spark.operators import textquality

    docs = table(spark, SF001, "documents")
    out = retrieval.bm25_chunk_maxp_topk(docs).collect()
    n_chunks = {
        (r.doc_id, r.chunk_idx)
        for r in textquality.chunk_documents(docs).collect()
    }
    per_q: dict[int, list] = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r)
        assert (r.doc_id, r.best_chunk_idx) in n_chunks
    for rows in per_q.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        scores = [r.score for r in rows]
        assert scores == sorted(scores, reverse=True)


@pytest.mark.fullsweep
def test_bm25_index_stats_report_hand_case_and_corpus(spark):
    """Hand case: 4 docs sharing the stopword 'the' (df 4) plus one
    rare term each (df 1). Vocabulary = 5 terms, df-sorted ranks give
    theta = the 3rd-smallest df = 1, so exactly the stopword's 4
    posting rows are above the cap: capped share 4/8, top_term_share
    4/4 = 1.0. On the corpus, the report's theta must equal the
    df-cap twin's registered cut: every bm25_dfcap posting survives
    iff its term's df <= df_median (cross-checked via the capped
    candidate-work proxy being strictly smaller)."""
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    docs = _docs(spark, ["the a", "the b", "the c", "the d"])
    r = retrieval.bm25_index_stats_report(docs).collect()[0]
    assert r.n_docs == 4 and r.vocab_size == 5
    assert r.n_postings == 8 and r.total_tokens == 8
    assert r.avgdl == 2.0
    assert r.df_median == 1 and r.df_max == 4
    assert r.top_term_share == 1.0
    assert r.capped_postings_share == 0.5

    corpus = table(spark, SF001, "documents")
    c = retrieval.bm25_index_stats_report(corpus).collect()[0]
    assert c.n_docs == 500 and c.vocab_size > 0
    assert 0.0 <= c.capped_postings_share <= 1.0
    assert c.df_median <= c.df_max <= c.n_docs
    # the share the report prices is exactly the work the df-cap cuts
    full = retrieval.bm25_candidate_rows(corpus)
    capped = retrieval.bm25_candidate_rows(corpus, df_cap=True)
    assert capped < full


# ---------------------------------------------------------------
# round-9 batch 2: query-likelihood LM, tf-idf more-like-this,
# filtered + two-stage vector search
# ---------------------------------------------------------------


def test_lm_dirichlet_rare_term_wins_and_length_penalizes(spark):
    """The two defining behaviors of the Dirichlet QL model on a hand
    corpus: (a) a match on a RARE query term outranks a match on a
    collection-common one (the smoothing denominator μ·p(t|C) is
    smaller, so the matched-term gain is larger); (b) padding a doc
    with non-query terms strictly lowers its score (the |q|·ln(μ/(|d|+μ))
    length normalizer); and (c) docs sharing NO query term never
    appear (the matched-candidate rule)."""
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    filler = " ".join(["common"] * 30)
    rows = [
        "rare common",                      # doc 0 = the query (0 % 50 == 0)
        f"rare {filler}",                   # doc 1: rare hit + common hits
        f"common {filler}",                 # doc 2: only common hits
        f"rare {filler} " + " ".join(f"pad{i}" for i in range(40)),  # doc 3: doc-1 matches + padding
        "zzz yyy",                          # doc 4: disjoint — no candidate row
    ]
    out = retrieval.lm_dirichlet_topk(_docs(spark, rows)).collect()
    assert all(r.query_id == 0 for r in out)
    scores = {r.doc_id: r.score for r in out}
    assert 4 not in scores
    # doc 1 has everything doc 2 has plus the rare term: strictly better
    assert scores[1] > scores[2]
    # doc 3 = doc 1's matches diluted by padding: strictly worse
    assert scores[1] > scores[3]
    ranks = {r.doc_id: r.rank for r in out}
    assert ranks[1] == 1


def test_lm_dirichlet_total_order_and_k_bound_on_corpus(spark):
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    out = retrieval.lm_dirichlet_topk(table(spark, SF001, "documents")).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rank)
        assert len(rs) <= 10 and [r.rank for r in rs] == list(range(1, len(rs) + 1))
        for a, b in zip(rs, rs[1:]):
            assert (a.score, -a.doc_id) >= (b.score, -b.doc_id)
            assert a.score > b.score or a.doc_id < b.doc_id


def test_tfidf_doc_similarity_exact_copy_ranks_first(spark):
    """An exact duplicate of the query doc has the identical tf-idf
    vector, so its cosine is 1 (up to 6-dp rounding) and it must hold
    rank 1; a partial overlap ranks below it; a disjoint doc never
    appears (no shared term ⇒ no candidate row)."""
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    rows = [
        "apple banana cherry",   # doc 0 = query
        "apple banana cherry",   # doc 1: exact copy
        "apple banana zebra",    # doc 2: partial overlap
        "dog elephant fox",      # doc 3: disjoint
    ]
    out = retrieval.tfidf_doc_similarity_topk(_docs(spark, rows)).collect()
    assert all(r.query_id == 0 for r in out)
    by_rank = {r.rank: r for r in out}
    assert by_rank[1].doc_id == 1 and by_rank[1].score > 0.999
    scores = {r.doc_id: r.score for r in out}
    assert 3 not in scores
    assert scores[1] > scores[2]


def test_tfidf_doc_similarity_zero_vector_docs_excluded(spark):
    """A doc whose every term is corpus-ubiquitous (df = N) has a zero
    tf-idf vector and undefined cosine — the nrm > 0 guard drops it
    from BOTH sides instead of emitting NaN rows."""
    from healthcare_oltp_to_olap_gcp_spark.operators import retrieval

    rows = [
        "everywhere",                 # doc 0 = query, zero vector
        "everywhere unique1",         # doc 1
        "everywhere unique2",         # doc 2
    ]
    out = retrieval.tfidf_doc_similarity_topk(_docs(spark, rows)).collect()
    # the only query (doc 0) is a zero vector → excluded → empty result
    assert out == []


def _rng_embeddings(spark, n=60, dim=64, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], int(i % 10)) for i in range(n)]
    return (
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ),
        vecs,
    )


def test_ann_filtered_topk_matches_numpy_filtered_truth(spark):
    """Exact filtered search vs an independent numpy oracle: top-k
    cosine among ONLY even-label vectors, ties broken on neighbor_id."""
    import numpy as np

    emb, vecs = _rng_embeddings(spark)
    out = similarity.ann_filtered_topk(emb, k=5).collect()
    v64 = vecs.astype(np.float64)  # the engine normalizes in doubles
    nv = v64 / np.linalg.norm(v64, axis=1, keepdims=True)
    kept = [i for i in range(len(vecs)) if (i % 10) % 2 == 0]
    got = {}
    for r in out:
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    for q in range(0, len(vecs), 50):
        sims = [
            (round(float(nv[q] @ nv[j]), 6), -j) for j in kept if j != q
        ]
        want = [
            -negj
            for _, negj in sorted(sims, key=lambda t: (-t[0], -t[1]))[:5]
        ]
        assert [nid for _, nid in sorted(got[q])] == want


def test_ann_filtered_ivf_subset_of_predicate_and_recall(spark):
    """The shared-index filtered IVF: every returned neighbor satisfies
    the predicate, per-query results are a ≤k prefix of a total order,
    and recall vs the exact filtered truth stays useful at the default
    probe width."""
    emb = table(spark, SF001, "embeddings")
    ivf = similarity.ann_filtered_ivf_topk(emb).collect()
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    assert ivf and all(labels[r.neighbor_id] % 2 == 0 for r in ivf)
    exact = similarity.ann_filtered_topk(emb).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    hit = sum(1 for r in ivf if r.neighbor_id in truth.get(r.query_id, set()))
    total = sum(len(v) for v in truth.values())
    assert hit / total >= 0.5  # 4/16 cells probed on ~half the corpus


@pytest.mark.fullsweep
def test_ann_twostage_equals_brute_when_m_covers_corpus(spark):
    """Exactness envelope: with the stage-1 candidate depth m ≥ n−1 the
    funnel degenerates to the exact brute scan — same rows, same
    ranks, same rounded sims (the rerank IS the brute scorer)."""
    emb, _ = _rng_embeddings(spark)
    two = similarity.ann_twostage_truncated_topk(emb, m=1000)
    brute = similarity.ann_brute_topk(emb)
    assert sorted(map(tuple, two.collect())) == sorted(map(tuple, brute.collect()))


@pytest.mark.fullsweep
def test_ann_twostage_recall_on_corpus(spark):
    """At the default depth (m = 50) the half-width first pass keeps
    enough true neighbors for a high-recall exact rerank."""
    emb = table(spark, SF001, "embeddings")
    two = similarity.ann_twostage_truncated_topk(emb).collect()
    brute = similarity.ann_brute_topk(emb).collect()
    truth = {}
    for r in brute:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    hit = sum(1 for r in two if r.neighbor_id in truth.get(r.query_id, set()))
    total = sum(len(v) for v in truth.values())
    assert hit / total >= 0.6
    # per-query output is a ≤k dense rank prefix
    per_q = {}
    for r in two:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
