"""Document deduplication family: exact, n-gram Jaccard (quadratic
baseline), MinHash+LSH (the scale path), SimHash.

Every near-dup detector is one pipeline: shingle table → candidate
pairs → one exact verify → one components loop.

- Shingle tables: ``doc_shingles`` (the distinct word 3-grams) and
  ``doc_shingle_hashes`` (their 64-bit hashes) are each built once per
  query scope and corpus, and persisted there. Every shingle reader
  (jaccard, containment, both contamination forms, novelty, MinHash,
  incremental and components) reads these two tables.
- Candidates: the posting self-join ``_overlap`` counts |A∩B| for
  every pair sharing a shingle (the exact jaccard and containment
  detectors score it); MinHash band buckets (``_lsh_candidates``, and
  ``dedup_incremental``'s new × old bucket join) bound the candidate
  volume by the band structure instead of df².
- Verify: ``_verify`` is the one exact Jaccard over the shingle
  hashes of a broadcast candidate set.
- Components: ``connected_components`` labels the nodes of any
  (doc_a, doc_b) edge frame; the near-dup clusters and the k-NN graph
  clusters both use it.

The reports (``neardup_recall_report``, ``docs_dedup_report``) call
the public detectors inside their own scope, so every shared piece is
built once for the whole report.

- exact: one hash-groupBy on md5(text) — one shuffle, no skew (hashes).
- ngram_jaccard_pairs: exact baseline used to validate LSH and as the
  verified-correctness oracle; work ∝ Σ df² per shingle.
- minhash_lsh_dup_pairs: one map-side signature, one shuffle for band
  buckets; only bucket-colliding candidates pay the exact-Jaccard
  verification. With r=2 rows/band, b=16 bands a true pair at j≥0.8 is
  caught with p = 1-(1-j²)^16 ≈ 1-8e-8, so verified output equals the
  exact baseline on any realistic data while scaling ~linearly
  (asserted deterministically by tests at both test SFs). At 100 TB:
  run `exact` first so byte-identical copies don't blow up LSH buckets.
- simhash_dup_pairs: 64-bit SimHash from token hashes (all JVM-side bit
  arithmetic), pigeonhole-blocked on 16-bit chunks: pairs within
  hamming distance d≤3 must agree on ≥1 of 4 chunks.

MinHash permutations come from one base ``xxhash64(shingle)`` composed
with md5-derived affine transforms mod 2^31-1 — fully deterministic,
JVM-side, no Python RNG.
"""

from __future__ import annotations

import warnings
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.rank import top_k
from ..functions.sketch import HASH_DOMAIN, hash32, hash_unit
from ..functions.text import tokens, word_shingles
from ..session import query_scope, scoped

NUM_HASHES = 32
ROWS_PER_BAND = 2
N_BANDS = NUM_HASHES // ROWS_PER_BAND
SHINGLE_WORDS = 3
# Rounds of label propagation before ``connected_components`` warns;
# pointer jumping converges in O(log diameter) rounds.
COMPONENT_MAX_ROUNDS = 20


def exact_dedup_stats(docs: DataFrame) -> DataFrame:
    """Exact dedup groups: content hash, group size, survivor doc_id."""
    return (
        docs.select(F.md5("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count("*").alias("dup_count"), F.min("doc_id").alias("keep_doc_id"))
    )


def _shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles), unpersisted: the plan both shingle tables
    are built from."""
    # repartition: the test tables arrive as one parquet file -> one
    # input partition; spread the (expensive) shingle work across all
    # cores. At cluster scale the source is already multi-split.
    #
    # The short-doc filter must use the cheap token-count predicate, not
    # size(shingles): a predicate over the shingle column gets pushed
    # below the repartition by Catalyst, dragging the whole shingle
    # computation into the single-task scan stage.
    par = docs.sparkSession.sparkContext.defaultParallelism
    toks = tokens("text")
    # r9: hash by doc_id instead of round-robin — same spreading
    # (doc_id unique), no sort-before-repartition (guide §2.5 note)
    return (
        docs.filter(F.size(toks) >= SHINGLE_WORDS)
        .repartition(par, "doc_id")
        .select("doc_id", word_shingles(toks, SHINGLE_WORDS).alias("shingles"))
    )


def doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles): the distinct ``SHINGLE_WORDS``-word shingles
    of every doc, built once per query scope and persisted there; docs
    shorter than that drop out (no shingles → not near-dup
    candidates)."""
    scope = query_scope()
    return scope.memo(("shingles", docs), lambda: scope.persist(_shingles(docs)))


def doc_shingle_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, hs): the 64-bit xxhash64 of each distinct shingle, built
    once per query scope and persisted there.

    The LSH pipeline's cacheable representation: a long array persists
    ~10× cheaper than the shingle strings (fixed 8 bytes vs ~25-char
    strings through the columnar cache's compression — caching the
    string form measured 8.8s of a 12s cold run at sf0.1), so it is
    built from the unpersisted shingle plan. Signature permutations
    derive from these via pmod, and verification Jaccard over the hash
    sets equals string Jaccard unless two distinct shingles collide in
    64 bits (p ≈ pairs·|union|²/2^65 — negligible, and the string-space
    baseline stays available as ``ngram_jaccard_pairs``)."""
    scope = query_scope()

    def build() -> DataFrame:
        hs = F.transform("shingles", lambda s: F.xxhash64(s)).alias("hs")
        return scope.persist(_shingles(docs).select("doc_id", hs))

    return scope.memo(("hashes", docs), build)


def _overlap(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_shared, n_a, n_b) for every pair sharing a
    shingle: the inverted-index self-join of ``doc_shingles``, built
    once per query scope. Shingles are distinct per document
    (``word_shingles`` applies array_distinct), so the per-pair posting
    count IS |A∩B|; n_a and n_b are the two shingle-set sizes.

    Plan note: the explode projection carries ONLY the generator —
    any sibling expression over ``shingles`` (e.g. ``size``) gets
    collapsed into the generated-row projection and re-derives the
    whole shingle array once per POSTING instead of once per doc
    (measured 7× on the bench corpus). Per-doc sizes are joined onto
    the aggregated pair result instead, which is smaller than the
    posting list by the dedup factor.

    Scale shape: work ∝ Σ df² per shingle (df = posting-list length),
    not docs² — near-linear on natural text where most 3-grams are
    rare. At web scale the posting lists of boilerplate shingles
    explode the join: production runs drop shingles above a
    document-frequency cap first (the CCNet/Gopher trick); kept exact
    here so the DuckDB oracles are the same computation."""
    scope = query_scope()

    def build() -> DataFrame:
        sh = doc_shingles(docs)
        sizes = sh.select("doc_id", F.size("shingles").alias("n"))
        ex = sh.select("doc_id", F.explode("shingles").alias("s"))
        a = ex.select(F.col("doc_id").alias("doc_a"), "s")
        b = ex.select(F.col("doc_id").alias("doc_b"), "s")
        shared = (
            a.join(b, "s")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_shared"))
        )
        return shared.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")), "doc_a"
        ).join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")), "doc_b")

    return scope.memo(("overlap", docs), build)


@scoped
def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """EXACT word-shingle Jaccard pairs off the ``_overlap`` count.

    Identical output to the all-pairs form (the DuckDB oracle is the
    quadratic formulation): |A∪B| = |A| + |B| − |A∩B| — the same
    integers the array_intersect/array_union baseline divides, hence
    the same rounded double. Any pair sharing zero shingles has
    Jaccard 0 and can never reach a positive ``threshold``, so skipping
    non-colliding pairs loses nothing (requires ``threshold`` > 0).
    With heavy boilerplate prefer the MinHash+LSH twin
    (``minhash_lsh_dup_pairs``), whose candidate volume is bounded by
    the band structure instead of df²."""
    union = F.col("n_a") + F.col("n_b") - F.col("n_shared")
    return (
        _overlap(docs)
        .withColumn("jaccard", F.round(F.col("n_shared") / union.cast("double"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


CONTAINMENT_THRESHOLD = 0.5


@scoped
def ngram_containment_pairs(
    docs: DataFrame, threshold: float = CONTAINMENT_THRESHOLD
) -> DataFrame:
    """Near-dup pairs by n-gram CONTAINMENT (|A∩B| / min(|A|,|B|)) off
    the ``_overlap`` count — exact, and the work is proportional to
    shingles-per-posting-list, not docs².

    Containment catches subset duplication (a doc embedded in a longer
    one) that symmetric Jaccard dilutes."""
    return (
        _overlap(docs)
        .withColumn(
            "containment",
            F.round(F.col("n_shared") / F.least("n_a", "n_b"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", F.col("n_shared").cast("long").alias("n_shared"), "containment")
    )


MERSENNE_31 = (1 << 31) - 1


def _affine_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash family
    h_i(x) = (a_i * x + b_i) mod p — derived from md5, no RNG state."""
    import hashlib

    coeffs = []
    for i in range(num_hashes):
        da = hashlib.md5(f"minhash:a:{i}".encode()).digest()
        db = hashlib.md5(f"minhash:b:{i}".encode()).digest()
        a = int.from_bytes(da[:4], "big") % (MERSENNE_31 - 1) + 1
        b = int.from_bytes(db[:4], "big") % MERSENNE_31
        coeffs.append((a, b))
    return coeffs


def minhash_signatures(hashes: DataFrame, num_hashes: int = NUM_HASHES) -> DataFrame:
    """(doc_id, h0..h{H-1}) of a ``doc_shingle_hashes`` frame: min over
    shingles of the i-th universal hash applied to the ONE base
    xxhash64 per shingle — permuting with cheap affine transforms mod
    2^31-1 (products stay < 2^62, so the arithmetic is overflow-safe
    under ANSI mode).

    Computed per-row with higher-order functions (transform once for
    the base hashes, then one array_min per permutation): the signature
    never leaves its document row, so this stage has ZERO shuffle — the
    earlier explode + 32-way groupBy formulation shuffled every shingle
    hash and measured ~50× slower at sf0.1. At 100 TB the signature
    build is then a pure map stage pipelined with the scan."""
    base = F.transform(F.col("hs"), lambda h: F.pmod(h, F.lit(MERSENNE_31)))
    sig_cols = [
        F.array_min(
            F.transform(
                F.col("_hs"),
                lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(MERSENNE_31)),
            )
        ).alias(f"h{i}")
        for i, (a, b) in enumerate(_affine_coeffs(num_hashes))
    ]
    return hashes.withColumn("_hs", base).select("doc_id", *sig_cols)


def _band_buckets(hashes: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) — one row per MinHash band."""
    sig = minhash_signatures(hashes)
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_idx"),
                F.xxhash64(
                    *[F.col(f"h{j * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
                ).alias("band_hash"),
            )
            for j in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.band_hash").alias("band_hash")
    )


def _lsh_candidates(hashes: DataFrame) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b: the distinct pairs sharing a band
    bucket."""
    # Candidate pairs via groupBy + in-bucket combinations rather than a
    # bucket self-join: the join formulation instantiates the signature
    # subtree TWICE (once per side — measured ~2.8s of a 5.2s LSH phase
    # at sf0.1), while the aggregate computes signatures once and
    # shuffles only the tiny (band, hash, ids) rows. Work per bucket is
    # the same |bucket|²/2 either way.
    ids = F.sort_array(F.col("ids"))
    combos = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        _band_buckets(hashes)
        .groupBy("band_idx", "band_hash")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(combos).alias("p"))
        .select(F.col("p.doc_a"), F.col("p.doc_b"))
        .distinct()
    )


def _jaccard(a: F.Column, b: F.Column) -> F.Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.round(inter / union, 6)


def _verify(hashes: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard): the candidate pairs of ``cand`` whose
    exact Jaccard over their ``doc_shingle_hashes`` sets reaches
    ``threshold``."""
    a = hashes.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("sh_a"))
    b = hashes.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("sh_b"))
    # Broadcast the (id, id) candidate set: the wide shingle-array table
    # then joins map-side, so the arrays cross the wire once (the doc_b
    # join) instead of twice. Candidate pairs are bounded by dup density
    # × band count — KBs per million docs, always broadcastable.
    return (
        a.join(F.broadcast(cand), "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", _jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


@scoped
def minhash_lsh_dup_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact Jaccard so the
    output is (with the collision probability above) identical to
    ``ngram_jaccard_pairs`` — but without the O(n²) pair join.

    The shingle-hash table feeds three consumers (signatures + both
    sides of the verification join); it is the scope's persisted
    ``doc_shingle_hashes``, so the scan/shingle work runs once."""
    hs = doc_shingle_hashes(docs)
    return _verify(hs, _lsh_candidates(hs), threshold)


def connected_components(edges: DataFrame) -> DataFrame:
    """(doc_id, component) for every node of the undirected
    (doc_a, doc_b) edge frame ``edges``: the smallest doc_id reachable
    from it.

    Iterative min-label propagation with pointer jumping: each round
    every node takes the minimum label among itself and its neighbors,
    then additionally adopts its label's label — doubling the
    propagation distance, so convergence is O(log diameter) rounds
    instead of O(diameter). Each round is two joins + one groupBy (all
    shuffling on doc_id); the driver only checks a scalar convergence
    sum — no data ever collects to the driver. After
    ``COMPONENT_MAX_ROUNDS`` rounds without convergence it warns.

    The symmetric edge list is eagerly ``localCheckpoint``-ed, so the
    (deep) edge lineage is planned and run exactly once — each round
    replans only the shallow join/agg subtree."""
    pairs = edges.select("doc_a", "doc_b")
    edges = (
        pairs.unionByName(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = edges.select(F.col("doc_a").alias("doc_id")).distinct().withColumn(
        "label", F.col("doc_id")
    )
    # Min-propagation only ever lowers labels, so the label sum strictly
    # decreases until the fixpoint — one scalar aggregate per round
    # detects convergence (no per-row diff join needed).
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(COMPONENT_MAX_ROUNDS):
        # r9 note: unlike part_pagerank's lazy loop, each round here is
        # EXECUTED eagerly (localCheckpoint + the convergence collect),
        # so the planner's broadcast choice for the label side is a
        # per-round win, not a nested-build pile-up — A/B measured
        # broadcast 5.4s vs pinned-SMJ 8.2s at sf0.1. Left adaptive.
        neighbor_min = (
            edges.join(
                labels.select(F.col("doc_id").alias("doc_b"), F.col("label").alias("nl")),
                "doc_b",
            )
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("nl").alias("neighbor_label"))
        )
        # Checkpoint the propagated labels (eager), then pointer-jump
        # off the materialized frame — the self-join reads the stored
        # blocks instead of recomputing the neighbor join.
        propagated = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("neighbor_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        jump = propagated.select(F.col("doc_id").alias("label"), F.col("label").alias("_ll"))
        # labels only ever decrease, so label-of-label ≤ label: the jump
        # preserves the monotone-sum convergence invariant.
        labels = propagated.join(jump, "label", "left").select(
            "doc_id",
            F.least(F.col("label"), F.coalesce(F.col("_ll"), F.col("label"))).alias("label"),
        )
        new_sum = labels.agg(F.sum("label")).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        warnings.warn(
            f"connected_components: label propagation did not converge within "
            f"{COMPONENT_MAX_ROUNDS} rounds; labels may split one true component",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("doc_id", F.col("label").alias("component"))


@scoped
def dedup_components(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Connected components of the near-duplicate graph: every document
    with a verified near-dup pair (``minhash_lsh_dup_pairs``) labeled
    with the smallest doc_id reachable through such pairs (the
    canonical survivor of its duplicate cluster). The edge list is
    checkpointed by ``connected_components``, so the MinHash pipeline
    runs once."""
    return connected_components(minhash_lsh_dup_pairs(docs, threshold))


def _drop_losers(docs: DataFrame, losers: DataFrame) -> DataFrame:
    """The corpus without the ``losers`` doc_ids, projected to
    (doc_id, lang, source, n_chars)."""
    return docs.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", F.char_length("text").cast("long").alias("n_chars")
    )


@scoped
def clean_documents(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """The dedup pipeline's end product: the corpus with near-duplicate
    clusters collapsed to one survivor each (the smallest doc_id of the
    connected component). Non-clustered documents pass through
    untouched; cluster members that aren't the canonical survivor are
    anti-joined away."""
    comps = dedup_components(docs, threshold)
    return _drop_losers(
        docs, comps.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    )


@scoped
def clean_documents_keep_best(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Near-dup collapse keeping the BEST cluster member instead of the
    smallest doc_id: within each connected component the survivor is
    the doc with the highest model quality logit (ties → smaller
    doc_id) — what a production curation pipeline actually wants from
    dedup (drop the mirror with the broken markup, keep the clean
    original). Composes two independently oracle-checked stages
    (``dedup_components`` × ``textquality.quality_model_scores``);
    ranking uses the ROUNDED logit both engines emit, so survivor
    choice is engine-portable. The per-component window runs on
    cluster members only (near-dup clusters are small by
    construction); the corpus itself is touched by two anti-join
    scans."""
    from .textquality import quality_model_scores

    comps = dedup_components(docs, threshold)
    q = quality_model_scores(docs).select("doc_id", "quality_logit")
    w = Window.partitionBy("component").orderBy(
        F.col("quality_logit").desc_nulls_last(), "doc_id"
    )
    losers = (
        comps.join(q, "doc_id")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") != 1)
        .select("doc_id")
    )
    return _drop_losers(docs, losers)


CONTAM_BENCH_MOD = 25  # doc_id % 25 == 0 → deterministic "benchmark" set
CONTAM_BLOOM_BITS = 1 << 20


def _contamination(
    docs: DataFrame, hits: Callable[[DataFrame, DataFrame], DataFrame]
) -> DataFrame:
    """(doc_id, n_shingles, n_contaminated, contamination_ratio) for
    every training doc. ``hits(postings, bench)`` keeps the
    (doc_id, s) corpus postings whose shingle is in the distinct
    benchmark shingle set ``bench`` (s)."""
    sh = doc_shingles(docs)
    is_bench = F.col("doc_id") % CONTAM_BENCH_MOD == 0
    bench = sh.filter(is_bench).select(F.explode("shingles").alias("s")).distinct()
    base = sh.filter(~is_bench).select("doc_id", F.size("shingles").alias("n_shingles"))
    postings = sh.filter(~is_bench).select("doc_id", F.explode("shingles").alias("s"))
    n_hit = (
        hits(postings, bench).groupBy("doc_id").agg(F.count("*").alias("n_contaminated"))
    )
    n = F.coalesce("n_contaminated", F.lit(0))
    return base.join(n_hit, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        n.cast("long").alias("n_contaminated"),
        F.round(n / F.col("n_shingles"), 6).alias("contamination_ratio"),
    )


@scoped
def docs_contamination(docs: DataFrame) -> DataFrame:
    """Benchmark-contamination check (the decontamination step of an
    LLM training pipeline): for every training doc, the fraction of its
    word shingles that also appear in a held-out benchmark set (here
    the deterministic doc_id % 25 slice standing in for an eval suite).

    Scale shape: the benchmark shingle set is DISTINCT'd and broadcast
    (eval suites are tiny vs the corpus), the corpus side explodes its
    shingles once and semi-joins — an inverted-index probe, never a
    doc×doc comparison. Docs with contamination 0 keep a row: the
    downstream filter needs an explicit per-doc verdict.

    The shingle table feeds three subtrees (benchmark set, per-doc
    sizes, hit counting) — it is the scope's persisted ``doc_shingles``,
    so the shingle build runs once per action, also when this whole
    query is a subtree of ``curated_documents`` (measured 4× there
    without it)."""
    return _contamination(
        docs, lambda postings, bench: postings.join(F.broadcast(bench), "s", "left_semi")
    )


@scoped
def docs_contamination_bloom(docs: DataFrame) -> DataFrame:
    """The 100 TB twin of ``docs_contamination``: a broadcast BLOOM
    FILTER over the benchmark shingles prefilters the corpus side, and
    the exact verify runs as a SHUFFLE join — so the eval-suite shingle
    set never has to fit on one executor, which the exact operator's
    broadcast semi-join requires.

    Shape: benchmark shingles are hashed into a 1-hash Bloom bucket set
    (2^20 buckets ≈ 128 KiB broadcast regardless of eval-suite size —
    the same construction as plans/analytics.bloom_prejoin_revenue);
    corpus shingles that miss a bucket are dropped BEFORE any shuffle
    (no false negatives ⇒ no lost hits), survivors are verified against
    the exact benchmark set via a shuffle-hash semi-join (hinted, so
    the scale shape holds even where AQE would broadcast at test SF),
    and false positives die there. The result is therefore provably
    identical to ``docs_contamination`` — the two operators SHARE one
    oracle, which is the strongest statement of the equivalence.

    At 100 TB the win is twofold: the prefilter cuts the exploded
    corpus-shingle stream to near-hits before the verify shuffle (the
    dominant cost — most shingles of most docs are clean), and the
    bench set distributes instead of broadcasting. Spark's AQE runtime
    bloom (spark.sql.optimizer.runtime.bloomFilter.enabled) automates
    the same idea for equi-joins; this is the explicit form with a
    hand-set bucket count, kept exact so the oracle is the plain
    computation."""

    def hits(postings: DataFrame, bench: DataFrame) -> DataFrame:
        bucket = F.pmod(F.xxhash64("s"), F.lit(CONTAM_BLOOM_BITS)).alias("_bucket")
        bloom = bench.select(bucket).distinct()
        return (
            postings.withColumn("_bucket", bucket)
            .join(F.broadcast(bloom), "_bucket", "left_semi")
            .join(bench.hint("shuffle_hash"), "s", "left_semi")
        )

    return _contamination(docs, hits)


def sample_documents(docs: DataFrame, n: int = 100) -> DataFrame:
    """Deterministic uniform-ish sample: rank by md5(doc_id) and take
    the first n — reproducible across runs/engines/partitionings,
    unlike rand()-based sampling, which is what a training-data
    pipeline needs for auditable subset selection."""
    h = F.md5(F.col("doc_id").cast("string"))
    return (
        docs.select("doc_id", h.alias("h"))
        .orderBy("h", "doc_id")
        .limit(n)
        .select("doc_id", "h")
    )


CURATED_MAX_CONTAM = 0.2


def curated_documents(docs: DataFrame) -> DataFrame:
    """The end-to-end training-corpus curation step, composed from the
    engine's own operators: keep a doc iff it is (1) the exact-dedup
    survivor of its content hash, (2) passes the quality gate
    (``textquality.quality_filter``), and (3) is not benchmark-
    contaminated above ``CURATED_MAX_CONTAM`` — benchmark docs
    themselves are excluded (that IS decontamination). Three semi-
    joins on doc_id over per-doc verdict tables; each verdict is its
    own registered query, so every stage of this composition is
    independently oracle-checked."""
    from .textquality import quality_filter

    survivors = exact_dedup_stats(docs).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    quality_ok = quality_filter(docs).filter(F.col("keep")).select("doc_id")
    clean = docs_contamination(docs).filter(
        F.col("contamination_ratio") <= CURATED_MAX_CONTAM
    ).select("doc_id")
    return (
        docs.join(survivors, "doc_id", "left_semi")
        .join(quality_ok, "doc_id", "left_semi")
        .join(clean, "doc_id", "left_semi")
        .select("doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars"))
    )


WEIGHTED_SAMPLE_N = 100


def weighted_sample_documents(docs: DataFrame, n: int = WEIGHTED_SAMPLE_N) -> DataFrame:
    """Deterministic weight-proportional sampling without replacement
    (Efraimidis–Spirakis A-ES): each doc draws an exponential key
    −ln(u)/w with rate w = n_chars, from a uniform u derived from
    md5(doc_id) — shared bit-for-bit with the DuckDB oracle, so even
    the sampling operator is value-hash checked. The n smallest keys
    win; ``orderBy().limit(n)`` compiles to TakeOrdered (per-partition
    partial top-n, no global sort), so the pattern holds at any corpus
    size. Length-weighting is the standard token-budget-proportional
    selection for training-data mixing."""
    u = hash_unit("doc_id")
    keyed = (
        docs.filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            (-F.log(u) / F.col("n_chars")).alias("_key"),
        )
        .orderBy("_key", "doc_id")
        .limit(n)
    )
    rank_w = Window.orderBy("_key", "doc_id")
    return keyed.select(
        "doc_id",
        "n_chars",
        F.round("_key", 8).alias("sample_key"),
        F.row_number().over(rank_w).cast("long").alias("rank"),
    )


def stratified_sample_by_lang(docs: DataFrame, per_stratum: int = 20) -> DataFrame:
    """Deterministic stratified sample: the hash-first ``per_stratum``
    documents of every language — the data-mixing primitive (equal
    quotas per source/language when assembling a training blend)."""
    h = F.md5(F.col("doc_id").cast("string"))
    return top_k(
        docs.select("doc_id", "lang", h.alias("h")),
        ["lang"],
        (F.col("h"), F.col("doc_id")),
        per_stratum,
        rank="rank",
    ).select("doc_id", "lang", "rank")


N_CHUNKS = 4
CHUNK_BITS = 16


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """64-bit SimHash as 4x16-bit chunks (c0..c3), all JVM bit math.

    Each token votes ±1 per bit position with weight 1; bit b of the
    signature is 1 iff the vote sum is positive.

    The 64 token-hash bits come from the first 16 hex chars of
    md5(token), split into two 32-bit halves (``conv`` of 16 hex chars
    at once would overflow signed long). md5 — not xxhash64 — so the
    DuckDB oracle can derive the identical bits from the same hex
    string; any uniform hash works for SimHash quality, and the hash is
    one-per-token, not per-bit, so the cost difference is noise."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    # r9: hash by doc_id — the per-doc bit-vote aggregation then
    # needs no exchange (guide §2.4)
    tok = docs.repartition(par, "doc_id").select("doc_id", F.explode(tokens("text")).alias("tok"))
    hx = F.md5("tok")
    tok = tok.withColumn(
        "hi", F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    ).withColumn("lo", F.conv(F.substring(hx, 9, 8), 16, 10).cast("long"))

    # Votes and chunk packs as SQL text, in the oracle's shape: one py4j
    # call per expression instead of ~10 Column calls per bit.
    votes = tok.groupBy("doc_id").agg(
        *(
            F.expr(f"sum((shiftright({'lo' if b < 32 else 'hi'}, {b % 32}) & 1) * 2 - 1) AS s{b}")
            for b in range(64)
        )
    )
    return votes.selectExpr(
        "doc_id",
        *(
            "CAST("
            + " + ".join(
                f"IF(s{j * CHUNK_BITS + i} > 0, {1 << i}, 0)" for i in range(CHUNK_BITS)
            )
            + f" AS BIGINT) AS c{j}"
            for j in range(N_CHUNKS)
        ),
    )


@scoped
def simhash_dup_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ max_hamming,
    blocked by the pigeonhole principle on 16-bit chunks (d ≤ 3 < 4
    chunks ⇒ at least one chunk matches exactly).

    The signature table is scope-persisted (5 longs per doc — tiny) so
    the 64-aggregate vote stage runs ONCE; both sides of the chunk
    self-join then read the cache (the un-persisted form instantiated
    the vote aggregate per side). The join formulation — rather than a
    groupBy + collect_list of bucket members — keeps hot chunk values
    spread across tasks (a 16-bit chunk domain WILL have hot buckets at
    corpus scale, and AQE skew-split only helps a join).

    Called from a sweep (neardup_recall_report), the signature cache
    joins the sweep's scope, so the sweep's own cached frames stay
    alive (releasing them at plan-build time made every shared frame
    recompute — measured 3x on the report)."""
    sig = query_scope().persist(simhash_signatures(docs))
    chunk_arr = F.array(
        *[
            F.struct(F.lit(j).alias("chunk_idx"), F.col(f"c{j}").alias("chunk_val"))
            for j in range(N_CHUNKS)
        ]
    )
    blocked = sig.select("doc_id", "c0", "c1", "c2", "c3", F.explode(chunk_arr).alias("b")).select(
        "doc_id", "c0", "c1", "c2", "c3",
        F.col("b.chunk_idx").alias("chunk_idx"), F.col("b.chunk_val").alias("chunk_val"),
    )
    left = blocked.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"c{j}").alias(f"a{j}") for j in range(N_CHUNKS)],
        "chunk_idx", "chunk_val",
    )
    right = blocked.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"c{j}").alias(f"b{j}") for j in range(N_CHUNKS)],
        "chunk_idx", "chunk_val",
    )
    hamming = sum(
        (F.bit_count(F.col(f"a{j}").bitwiseXOR(F.col(f"b{j}"))) for j in range(N_CHUNKS)),
        F.lit(0),
    ).cast("long")
    return (
        left.join(right, ["chunk_idx", "chunk_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


VAL_PCT = 5
TEST_PCT = 5


def split_assignments(
    docs: DataFrame, val_pct: int = VAL_PCT, test_pct: int = TEST_PCT
) -> DataFrame:
    """Deterministic train/val/test assignment: md5(doc_id) maps each
    doc to a point in [0, 2^32) and integer thresholds carve the
    splits — reproducible across runs, engines, and partitionings
    (never rand()), content-stable as the corpus grows, and pure
    column math (zero shuffle). The thresholds are exact integers, so
    the DuckDB oracle is bit-identical."""
    return docs.select(
        "doc_id", _split_expr(F.col("doc_id"), val_pct, test_pct)
    )


def _split_expr(key: F.Column, val_pct: int, test_pct: int) -> F.Column:
    """md5(key) → [0, 2^32) → exact-integer split thresholds — shared
    by the per-doc and the group-aware split so both carve the same
    boundaries (and the DuckDB oracles mirror one formula)."""
    h = hash32(key)
    t_test = HASH_DOMAIN * test_pct // 100
    t_val = HASH_DOMAIN * (test_pct + val_pct) // 100
    return (
        F.when(h < t_test, F.lit("test"))
        .when(h < t_val, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split")
    )


@scoped
def split_assignments_grouped(
    docs: DataFrame,
    val_pct: int = VAL_PCT,
    test_pct: int = TEST_PCT,
    threshold: float = 0.8,
) -> DataFrame:
    """Group-aware train/val/test split (r8) — the leakage FIX for what
    ``split_leakage_report`` measures: hashing per doc_id puts the two
    ends of a near-duplicate pair in different splits with probability
    2·p·(1−p), silently inflating eval; the standard pipeline fix
    (GPT/C4-era decontamination practice) is to split by DUPLICATE
    CLUSTER so a whole near-dup component lands on one side. Every doc
    is keyed by its ``dedup_components`` label (the smallest doc_id
    reachable through verified near-dup pairs; docs outside the dup
    graph key by themselves), and the split hash runs on that GROUP
    key through the same exact-integer thresholds as
    ``split_assignments`` — so singleton docs get the identical
    assignment the per-doc split gives them, and zero cross-split
    near-dup pairs exist BY CONSTRUCTION (asserted through the leakage
    report in tests).

    Scale shape: components is the bounded min-label/pointer-jumping
    propagation (edges from banded LSH, never doc×doc); everything
    after is one left join + pure column math. Oracle: the recursive-
    CTE components oracle composed with the split formula — fully
    value-hash-checked."""
    comp = dedup_components(docs, threshold)
    key = F.coalesce(F.col("component"), F.col("doc_id"))
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            key.cast("long").alias("group_key"),
            _split_expr(key, val_pct, test_pct),
        )
    )


PACK_CAPACITY = 2048
PACK_BUCKET = 100


def pack_documents(
    docs: DataFrame, capacity: int = PACK_CAPACITY, bucket_size: int = PACK_BUCKET
) -> DataFrame:
    """Greedy sequence packing: documents (by token count, in doc_id
    order) packed first-fit into training shards of ≤ ``capacity``
    tokens. The running-capacity reset makes this inherently
    sequential, so it runs as an Arrow-batched ``applyInPandas`` per
    doc_id bucket — bounded state per group, every bucket independent
    and parallel (the standard scale shape for order-dependent scans);
    the DuckDB oracle replays the same scan as a recursive CTE.
    Oversized docs (> capacity) get a shard of their own."""
    import pandas as pd

    from ..functions.text import token_count

    base = docs.select(
        "doc_id",
        (F.col("doc_id") / bucket_size).cast("long").alias("pack_bucket"),
        token_count("text").alias("n_tokens"),
    )

    def _pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id")
        shard, acc, out = 0, 0, []
        for n in pdf["n_tokens"]:
            if acc > 0 and acc + n > capacity:
                shard, acc = shard + 1, 0
            acc += n
            out.append(shard)
        pdf["shard_idx"] = out
        return pdf

    return base.groupBy("pack_bucket").applyInPandas(
        _pack, "doc_id long, pack_bucket long, n_tokens long, shard_idx long"
    )


DUP_SPAN_K = 8


def _dup_grams(docs: DataFrame, k: int) -> tuple[DataFrame, DataFrame]:
    """The token arrays (doc_id, t) of the non-empty docs, and the
    (doc_id, pos, keeper) positions of every k-gram that occurs in two
    or more documents, keeper being the smallest such doc_id.

    Positional k-grams are md5-hashed to a fixed 32-char key before the
    shuffle (bounded key width regardless of k), and the gram stream is
    scope-persisted: the cross-doc dup detection and the coverage join
    both consume it."""
    toks = docs.select("doc_id", tokens("text").alias("t")).filter(F.size("t") > 0)
    grams = query_scope().persist(
        toks.filter(F.size("t") >= k).select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (k - 1)),
                    lambda i: F.md5(
                        F.concat_ws(" ", *[F.element_at("t", i + j) for j in range(k)])
                    ),
                )
            ).alias("pos", "gh"),
        )
    )
    dup = (
        grams.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("nd"), F.min("doc_id").alias("keeper"))
        .filter(F.col("nd") >= 2)
        .select("gh", "keeper")
    )
    return toks, grams.join(dup, "gh").select("doc_id", "pos", "keeper")


def _covered(grams: DataFrame, k: int) -> DataFrame:
    """The distinct (doc_id, p) token positions the k-grams at
    (doc_id, pos) cover."""
    return grams.select(
        "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("p")
    ).distinct()


@scoped
def dup_span_stats(docs: DataFrame, k: int = DUP_SPAN_K) -> DataFrame:
    """Exact duplicated-span coverage (the RefinedWeb / "exact
    substring dedup" signal, positionally approximated with k-token
    grams): for every document, how many of its token positions are
    covered by some k-gram that also appears in ANOTHER document.
    High coverage flags boilerplate and templated mirror pages that
    document-level MinHash misses when the rest of the page differs.

    Scale shape: the ``_dup_grams`` stream; duplicated grams only (a
    small fraction of the corpus) pay the k-fold coverage explode, and
    coverage is de-duplicated on (doc_id, position) before the final
    per-doc count. Work ∝ token volume + k·|dup grams|; no windows, no
    driver collect."""
    toks, dup = _dup_grams(docs, k)
    cnt = _covered(dup, k).groupBy("doc_id").agg(F.count("*").alias("n_dup"))
    n_dup = F.coalesce(F.col("n_dup"), F.lit(0))
    base = toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
    return base.join(cnt, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        n_dup.cast("long").alias("n_dup_tokens"),
        F.round(n_dup / F.col("n_tokens").cast("double"), 6).alias("dup_ratio"),
    )


@scoped
def remove_dup_spans(docs: DataFrame, k: int = DUP_SPAN_K) -> DataFrame:
    """Exact-substring dedup REMOVAL (the RefinedWeb rewrite step that
    ``dup_span_stats`` only measures): every token position covered by
    a k-gram that also occurs in another document is excised — except
    in the gram's KEEPER (min doc_id among its holders), so each
    duplicated span survives exactly once in the corpus instead of
    being destroyed everywhere. Returns the rewritten corpus:
    (doc_id, n_tokens, n_removed, cleaned_text).

    Scale shape is dup_span_stats' plus the rebuild: the rewrite is one
    anti-join on (doc, pos) followed by a per-doc ordered re-assembly
    (sort_array over collect_list structs — grouped, never a window
    over the token stream). Work ∝ token volume + k·|dup grams|; no
    driver collect.

    Cross-engine determinism: positions are integers, the keeper rule
    is a MIN, and re-assembly is a position-ordered concat — fully
    value-hash-oracled (oracles.py mirrors it with string_agg ORDER BY
    in DuckDB)."""
    toks, dup = _dup_grams(docs, k)
    cov = _covered(dup.filter(F.col("doc_id") != F.col("keeper")), k)
    tok_rows = toks.select("doc_id", F.posexplode("t").alias("p", "tok"))
    kept = tok_rows.join(cov, ["doc_id", "p"], "left_anti")
    cleaned = kept.groupBy("doc_id").agg(
        F.count("*").alias("_n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("p", "tok"))),
                lambda s: s.tok,
            ),
        ).alias("cleaned_text"),
    )
    base = toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
    return base.join(cleaned, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
    )


def _rate_sample(docs: DataFrame, key: str, rates: DataFrame) -> DataFrame:
    """(doc_id, ``key``, accept_rate): accept each doc iff its
    md5-derived uniform is ≤ its group's rate in the broadcast
    (``key``, rate) table."""
    return (
        docs.select("doc_id", key, hash_unit("doc_id").alias("u"))
        .join(F.broadcast(rates), key)
        .filter(F.col("u") <= F.col("rate"))
        .select("doc_id", key, F.round("rate", 6).alias("accept_rate"))
    )


TEMP_ALPHA = 0.5


def temperature_sample_documents(
    docs: DataFrame, alpha: float = TEMP_ALPHA
) -> DataFrame:
    """Temperature-based mixture rebalancing (the n^α source-sampling
    rule from multilingual/domain training blends — α=1 keeps natural
    proportions, α→0 approaches uniform): accept each doc with rate
    r_s = (n_min / n_s)^(1−α), so expected per-source counts are
    ∝ n_s^α scaled to keep the smallest source intact. Its α=0 point
    is ``mixture_sample_documents``' equal-share rule. Scale shape: one
    count aggregate, a broadcast |sources|-row rate table, one
    rate-filter scan — no windows, no per-source sorts, and the
    identical hash-threshold form runs as a streaming filter.

    Cross-engine exactness: the acceptance uniform is the shared
    md5-derived value and the rate is sqrt(n_min/n_s) at α=0.5 (and
    n_min/n_s itself at α=0, where pow(x, 1.0) returns x exactly) —
    correctly-rounded IEEE ops both engines agree on bit-for-bit, so
    even this sampler is value-hash-oracled."""
    c = docs.groupBy("source").agg(F.count("*").alias("n"))
    mn = c.agg(F.min("n").alias("mn"))
    ratio = F.col("mn") / F.col("n").cast("double")
    # sqrt is correctly-rounded IEEE in both engines; generic pow is
    # only ~1-ulp and could flip a boundary acceptance, so the default
    # α=0.5 takes the exact path.
    rate = F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(1.0 - alpha))
    rates = c.crossJoin(F.broadcast(mn)).select("source", rate.alias("rate"))
    return _rate_sample(docs, "source", rates)


def mixture_sample_documents(docs: DataFrame) -> DataFrame:
    """Deterministic mixture rebalancing: downsample every source to
    the size of the smallest one (equal target shares — the uniform
    special case of training-blend reweighting), by accepting a doc
    iff its md5-derived uniform falls under the source's acceptance
    rate n_min / n_s: ``temperature_sample_documents`` at α = 0.
    Unlike ``stratified_sample_by_lang`` (fixed per-stratum quota via a
    rank) this is RATE-based: no per-source sort or window anywhere,
    so a source of any size costs one scan."""
    return temperature_sample_documents(docs, alpha=0.0)


@scoped
def neardup_recall_report(docs: DataFrame) -> DataFrame:
    """Near-dup index-quality dashboard — the dedup-family analog of
    ``ann_recall_report``: precision/recall of every SCALABLE pair
    detector (MinHash-LSH bands, SimHash pigeonhole blocking, n-gram
    containment) against the exact Jaccard pair set
    (``ngram_dup_pairs``), as one small metrics frame. This is the
    number a dedup deploy watches when trading band/bit width against
    missed duplicates: LSH banding trades recall, SimHash and
    containment apply different predicates entirely, and the report
    makes all three drifts measurable instead of assumed.

    Each method contributes ONE row (pair count, hits = inner join on
    the (doc_a, doc_b) key, exact precision/recall divisions rounded
    6 dp) — so the output is method-count-sized however large the
    corpus, and everything is exact integers + one rounded division
    per column: value-hash oracle-checked end to end, like every
    constituent (all four pair operators are independently oracled,
    which is what makes this dashboard itself oracle-able).

    The report calls the public detectors inside its own query scope,
    so they share the scope's shingle tables; the overlap count feeds
    both the truth set and containment, so it is persisted here and
    the posting self-join runs once."""
    query_scope().persist(_overlap(docs))
    truth = ngram_jaccard_pairs(docs).select("doc_a", "doc_b")
    total = truth.agg(F.count("*").alias("n_true"))
    methods = (
        ("minhash_lsh", minhash_lsh_dup_pairs),
        ("simhash", simhash_dup_pairs),
        ("containment", ngram_containment_pairs),
    )
    # r10 (VERDICT r9 item 6, guide §2.3/§5): each method's pair
    # stream previously materialized TWICE per execution — once for
    # the n_pairs count and once for the truth hit-join (the two
    # branches referenced the same unpersisted subtree). The tagged
    # union LEFT-joins the (unique-keyed) truth set once, so one pass
    # per method yields n_pairs = count(*) and n_hit = count(matched)
    # in a single aggregation; a method-literal frame keeps zero-pair
    # rows. Identical integers + the same rounded divisions ⇒ the
    # value-hash oracle carries (row ORDER changes — the gate sorts).
    tagged = None
    for name, fn in methods:
        t = fn(docs).select(F.lit(name).alias("method"), "doc_a", "doc_b")
        tagged = t if tagged is None else tagged.unionByName(t)
    stats = (
        tagged.join(
            truth.withColumn("_t", F.lit(1)), ["doc_a", "doc_b"], "left"
        )
        .groupBy("method")
        .agg(F.count("*").alias("n_pairs"), F.count("_t").alias("n_hit"))
    )
    mframe = docs.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(n) for n, _ in methods])).alias("method")
    )
    return (
        mframe.join(stats, "method", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "method",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.col("n_true").cast("long").alias("n_true"),
        )
        # ratios over the coalesced counts: a zero-pair method gets
        # recall 0.0 (the oracle's COUNT = 0), not NULL
        .withColumns(
            {
                "precision": F.when(
                    F.col("n_pairs") > 0,
                    F.round(F.col("n_hit") / F.col("n_pairs").cast("double"), 6),
                ),
                "recall": F.when(
                    F.col("n_true") > 0,
                    F.round(F.col("n_hit") / F.col("n_true").cast("double"), 6),
                ),
            }
        )
    )


UNIMAX_NUM = 3
UNIMAX_DEN = 5  # default budget = 3/5 of the corpus (exact rational)


def unimax_sample_documents(
    docs: DataFrame, budget_num: int = UNIMAX_NUM, budget_den: int = UNIMAX_DEN
) -> DataFrame:
    """UniMax language sampling (Chung et al. 2023): spread a fixed
    token/doc budget as UNIFORMLY as possible across languages without
    oversampling any of them — the water-filling allocation. Small
    languages keep everything (rate 1); large languages are capped at
    the equal share left after the small ones are fully served. This
    completes the sampler family: uniform → stratified → weighted →
    equal-share mixture → temperature n^α → DSIR → UniMax.

    The budget is the exact rational ``budget_num/budget_den`` of the
    corpus (integer arithmetic — no float boundary can flip a doc).
    Allocation: languages sorted ascending by (n_l, lang); language i
    saturates iff  n_i·(L−i+1) ≤ N − Σ_{j<i} n_j  (all integers; the
    saturated set is a prefix by the water-filling property), the
    remaining budget splits equally as cap = (N − Σ_sat n)/(L − t),
    and every rate is min(1, cap/n_l) — saturated languages hit the
    min at 1 exactly.

    Scale shape: one count aggregate to an L-row frame, the
    water-filling window runs over those L rows only, and the corpus
    is touched by ONE rate-filter scan against a broadcast L-row rate
    table — no per-language sort or window over data rows, and the
    hash-threshold acceptance (the shared md5-uniform) runs
    identically as a streaming filter. Value-hash-oracled like every
    sampler in the family: the only floats are one division both
    engines round identically and the IEEE-exact uniform."""
    c = docs.groupBy("lang").agg(F.count("*").alias("n"))
    tot = c.agg(
        F.sum("n").alias("total"), F.count("*").alias("n_langs")
    )
    w = Window.orderBy("n", "lang")
    ranked = (
        c.crossJoin(F.broadcast(tot))
        .withColumn(
            "budget",
            F.expr(f"(total * {int(budget_num)}) div {int(budget_den)}"),
        )
        .withColumn("i", F.row_number().over(w))
        .withColumn("cum", F.sum("n").over(w))
    )
    saturated = (
        F.col("n") * (F.col("n_langs") - F.col("i") + 1)
        <= F.col("budget") - (F.col("cum") - F.col("n"))
    )
    sat = ranked.agg(
        F.coalesce(F.sum(F.when(saturated, F.col("n"))), F.lit(0)).alias("sat_n"),
        F.coalesce(F.sum(F.when(saturated, F.lit(1))), F.lit(0)).alias("t"),
        F.max("budget").alias("budget"),
        F.max("n_langs").alias("n_langs"),
    )
    cap = (F.col("budget") - F.col("sat_n")) / (
        F.col("n_langs") - F.col("t")
    ).cast("double")
    rates = (
        c.crossJoin(F.broadcast(sat))
        .select(
            "lang",
            F.when(F.col("t") >= F.col("n_langs"), F.lit(1.0))
            .otherwise(F.least(F.lit(1.0), cap / F.col("n")))
            .alias("rate"),
        )
    )
    return _rate_sample(docs, "lang", rates)


PS_OVERLAP_K = 12


def prefix_suffix_overlap_pairs(docs: DataFrame, k: int = PS_OVERLAP_K) -> DataFrame:
    """Crawl-artifact chaining: directed pairs where document A's last
    ``k`` tokens equal document B's first ``k`` tokens — the signature
    of paginated mirrors, split articles, and scraper overlap windows
    (content that document-level MinHash scores as distinct because
    only the seam is shared).

    Scale shape: one narrow projection per side (each doc contributes
    ONE md5-hashed prefix and ONE suffix, fixed key width), a single
    equi-join on the hash. Fan-out concentrates on shared-boilerplate
    seams (work ∝ Σ pre_df·suf_df per hash) — the same df-cap caveat
    as the containment inverted index applies if a boilerplate seam
    dominates a crawl."""
    t = docs.select("doc_id", tokens("text").alias("t")).filter(F.size("t") >= k)
    pre = t.select(
        F.col("doc_id").alias("doc_b"),
        F.md5(F.concat_ws(" ", F.slice("t", 1, k))).alias("gram_hash"),
    )
    suf = t.select(
        F.col("doc_id").alias("doc_a"),
        F.md5(
            F.concat_ws(" ", F.expr(f"slice(t, size(t) - {k} + 1, {k})"))
        ).alias("gram_hash"),
    )
    return (
        suf.join(pre, "gram_hash")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", "gram_hash")
    )


@scoped
def docs_dedup_report(docs: DataFrame) -> DataFrame:
    """One-row dedup-pipeline observability report — the numbers a
    curation run logs after every stage: corpus size, exact-dup group
    count and redundant-copy count, near-dup cluster membership, the
    contaminated-doc count, and the final curated survivor count.
    Every constituent (exact groups, components, contamination,
    curated set) is its own oracle-checked registry query, called
    inside this report's scope; this frame is their one-row aggregate
    join (four broadcast one-row crosses — output is ONE row whatever
    the corpus size)."""
    base = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct(F.md5("text")).cast("long").alias("n_exact_groups"),
    ).select(
        "n_docs",
        "n_exact_groups",
        (F.col("n_docs") - F.col("n_exact_groups")).alias("n_exact_dup_docs"),
    )
    comp = dedup_components(docs).agg(
        F.count("*").cast("long").alias("n_neardup_docs"),
        F.countDistinct("component").cast("long").alias("n_neardup_clusters"),
    )
    # r10 (VERDICT r9 item 6): the contamination verdict table is
    # persisted ONCE; ``curated_documents`` rebuilds the same plan, so
    # Spark's cache manager serves it this copy. The refreshed A/B
    # (min-of-3, same session) measured the shared form FASTER (8.29s
    # vs 8.64s at sf0.1) — and it is the right shape at scale: one
    # contamination scan instead of two.
    contam = (
        query_scope()
        .persist(docs_contamination(docs))
        .filter(F.col("contamination_ratio") > CURATED_MAX_CONTAM)
        .agg(F.count("*").cast("long").alias("n_contaminated"))
    )
    curated = curated_documents(docs).agg(
        F.count("*").cast("long").alias("n_curated")
    )
    return (
        base.crossJoin(F.broadcast(comp))
        .crossJoin(F.broadcast(contam))
        .crossJoin(F.broadcast(curated))
    )


SEG_WORDS = 10


@scoped
def dedup_segments(docs: DataFrame, k: int = SEG_WORDS) -> DataFrame:
    """C4-style segment-level dedup (Raffel et al. 2020 deduplicate
    "any three-sentence span"; here the unit is a consecutive
    ``k``-token segment): split every document into non-overlapping
    k-token segments, keep only the globally FIRST occurrence of each
    distinct segment — min (doc_id, seg_idx), which also removes
    within-document repeats — excise every later occurrence, and
    reassemble the survivors in position order. Returns
    (doc_id, n_segments, n_removed, cleaned_text).

    Scale shape: segments are non-overlapping, so the segment stream is
    ≈ |tokens|/k rows — cheaper than the k-gram machinery of
    ``remove_dup_spans``. The shuffle key is a fixed-width md5 of the
    segment (never the text); first-occurrence is a groupBy MIN(struct)
    — map-side-combined, so a hyper-duplicated segment (the C4
    boilerplate pathology) collapses to one row per map partition
    instead of skewing a window sort. Reassembly slices the KEPT
    seg_idx list back out of the doc's own token array — segment text
    never travels through the shuffle at all. Two shuffles total
    (dedup groupBy + per-doc regroup); work ∝ token volume.

    Cross-engine determinism: integer positions, a MIN keeper rule,
    and position-ordered concat — fully value-hash-oracled (DuckDB
    mirror groups by the same md5 and orders string_agg by seg_idx)."""
    toks = query_scope().persist(
        docs.select("doc_id", tokens("text").alias("t")).filter(F.size("t") > 0)
    )
    n_seg = F.ceil(F.size("t") / F.lit(k)).cast("int")
    segs = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_seg - 1),
                lambda i: F.md5(F.array_join(F.slice("t", i * k + 1, k), " ")),
            )
        ).alias("seg_idx", "gh"),
    )
    first = segs.groupBy("gh").agg(F.min(F.struct("doc_id", "seg_idx")).alias("f"))
    kept = (
        segs.join(first, "gh")
        .filter(
            (F.col("doc_id") == F.col("f.doc_id"))
            & (F.col("seg_idx") == F.col("f.seg_idx"))
        )
        .select("doc_id", "seg_idx")
    )
    cleaned = kept.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("seg_idx")).alias("_idxs")
    )
    return toks.join(cleaned, "doc_id", "left").select(
        "doc_id",
        n_seg.cast("long").alias("n_segments"),
        (n_seg - F.coalesce(F.size("_idxs"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce(
            F.array_join(
                F.flatten(
                    F.transform(F.col("_idxs"), lambda i: F.slice("t", i * k + 1, k))
                ),
                " ",
            ),
            F.lit(""),
        ).alias("cleaned_text"),
    )


INCR_MOD = 3  # doc_id % INCR_MOD == 0 → incoming batch; else established corpus


@scoped
def dedup_incremental(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Incremental (cross-corpus) near-dup dedup: screen an INCOMING
    batch against an ESTABLISHED corpus — the shape every production
    crawl refresh runs (new snapshot vs. the already-curated index),
    where re-running full-corpus self-dedup per batch would be quadratic
    in snapshots. Batch = ``doc_id % INCR_MOD == 0``, corpus = the
    rest (deterministic slices of the same table, per the package's
    ANN/contamination convention).

    Every incoming doc gets a verdict row: ``is_dup`` (any established
    doc with verified Jaccard ≥ threshold), ``n_matches``, and the
    deterministic best match (max Jaccard, ties → smallest doc_id).

    Scale shape: the established side's band-bucket index is exactly
    the artifact a production pipeline MATERIALIZES once and serves to
    every batch (the incremental-maintenance pattern of
    ``fact_events_incremental`` applied to LSH) — per-batch cost is
    then signature-build over the batch + one bucket equi-join against
    the stored index + the exact ``_verify`` of colliding candidates;
    nothing rescans the established corpus text. Here both sides
    read one band-bucket frame persisted in the query scope (built from
    its shingle-hash table) because the registry query owns no
    storage. Output equals the exact cross-batch
    Jaccard join by the same 1-(1-j²)^16 LSH-recall argument as
    ``minhash_lsh_dup_pairs`` (miss p ≈ 8e-8 at j = 0.8;
    deterministic, parity-asserted)."""
    is_new = F.col("doc_id") % INCR_MOD == 0
    hs = doc_shingle_hashes(docs)
    # a bucket self-join would re-derive the signatures on each side
    buckets = query_scope().persist(_band_buckets(hs))
    cand = (
        buckets.filter(is_new)
        .withColumnRenamed("doc_id", "doc_a")
        .join(
            buckets.filter(~is_new).withColumnRenamed("doc_id", "doc_b"),
            ["band_idx", "band_hash"],
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # One groupBy (no per-new-doc window): best = lexicographic max of
    # (jaccard, -old_id) — max Jaccard, ties to the smallest old id.
    per = (
        _verify(hs, cand, threshold)
        .groupBy(F.col("doc_a").alias("doc_id"))
        .agg(
            F.count("*").cast("long").alias("n_matches"),
            F.max(F.struct("jaccard", (-F.col("doc_b")).alias("neg"))).alias("m"),
        )
        .select(
            "doc_id",
            "n_matches",
            (-F.col("m.neg")).cast("long").alias("best_match"),
            F.col("m.jaccard").alias("best_jaccard"),
        )
    )
    return (
        docs.filter(is_new)
        .select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_matches") > 0, F.lit(False)).alias("is_dup"),
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            "best_match",
            "best_jaccard",
        )
    )


def _pair_crosstab(pairs: DataFrame, labels: DataFrame, col: str) -> DataFrame:
    """(``col``_a, ``col``_b, n_pairs, avg_jaccard): verified near-dup
    pairs counted by the unordered pair of their endpoints' ``col``
    labels from the (doc_id, ``col``) frame ``labels``.

    The mean is computed as an exact DECIMAL sum of the ROUNDED
    per-pair Jaccards (both engines sum the same 6-decimal rationals in
    any order — no float-order drift), then one final rounded divide."""
    lab = labels.select("doc_id", F.col(col).alias("_l"))
    a, b = f"{col}_a", f"{col}_b"
    return (
        pairs.join(lab.select(F.col("doc_id").alias("doc_a"), F.col("_l").alias("_la")), "doc_a")
        .join(lab.select(F.col("doc_id").alias("doc_b"), F.col("_l").alias("_lb")), "doc_b")
        .select(
            F.least("_la", "_lb").alias(a),
            F.greatest("_la", "_lb").alias(b),
            F.col("jaccard").cast("decimal(18,8)").alias("_jd"),
        )
        .groupBy(a, b)
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.sum("_jd").cast("double") / F.count("*"), 6).alias("avg_jaccard"),
        )
    )


def dup_source_matrix(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Near-dup provenance crosstab: for every verified near-dup pair,
    which SOURCES are duplicating each other — the report that tells a
    curation run whether redundancy is intra-crawl (same source twice)
    or mirror sites (cross-source), i.e. which upstream feed to
    de-prioritize. One row per unordered source pair with the pair
    count and the exact mean Jaccard.

    Built on ``minhash_lsh_dup_pairs``'s verified output (≡ exact
    Jaccard at the threshold); two broadcast-sized joins against the
    (doc_id, source) projection — the pair list is dup-density-bounded
    and the source labels are a narrow column, so nothing wide
    shuffles."""
    return _pair_crosstab(minhash_lsh_dup_pairs(docs, threshold), docs, "source")


def split_leakage_report(
    docs: DataFrame, threshold: float = 0.8, split: DataFrame | None = None
) -> DataFrame:
    """Train/val/test contamination audit: verified near-dup pairs
    crosstabbed by the SPLIT of each endpoint — the leakage check every
    training pipeline must run after splitting (a val/test doc with a
    train-side near-duplicate inflates eval; C4/GPT-style dedup papers
    report exactly this cross-split dup mass). One row per unordered
    split pair with the pair count, exact mean Jaccard, and a
    ``leaky`` flag (endpoints in different splits).

    Composes two independently-oracled stages —
    ``minhash_lsh_dup_pairs`` (≡ exact Jaccard at the threshold) ×
    ``split_assignments`` (pure column math, zero shuffle) — so the
    whole report keeps a value-hash oracle. The split table is a
    narrow (doc_id, split) projection; both joins ride the
    dup-density-bounded pair list. The production fix for a leaky
    report is upstream (content-hash splitting or cross-split dedup —
    ``dedup_incremental``'s shape with the train side as the index);
    this op is the measurement. ``split`` audits an alternative
    (doc_id, split) assignment — the group-aware
    ``split_assignments_grouped`` audits to zero leaky rows through
    this parameter (r8)."""
    sp = split_assignments(docs) if split is None else split
    return _pair_crosstab(minhash_lsh_dup_pairs(docs, threshold), sp, "split").withColumn(
        "leaky", F.col("split_a") != F.col("split_b")
    )


@scoped
def docs_ngram_novelty(docs: DataFrame) -> DataFrame:
    """Crawl-saturation metric: per document, the fraction of its
    distinct word shingles appearing for the FIRST time in doc_id
    order (first occurrence = smallest doc_id) — the novelty curve a
    crawl pipeline watches to decide when another snapshot stops
    adding information (novelty → 0 as the frontier saturates; C4-era
    crawl reports plot exactly this). Docs shorter than the shingle
    width drop out (no shingles ⇒ no novelty denominator), matching
    every shingle-family operator.

    Shape: the denominator is per-row (size of the shingle-hash set —
    zero shuffle) and the numerator NEVER joins back to the gram
    stream: the first-occurrence map (gram-hash → min doc_id) is
    immediately re-aggregated BY its winning doc_id, so the two
    shuffles carry (8-byte hash, id) pairs map-side combined and the
    final join is per-doc count rows only. A first formulation that
    joined the first-occurrence map back onto the exploded string
    grams measured 29s at sf0.1 vs 1-2s for this one. At production
    scale the first-occurrence map is the artifact you materialize
    once and maintain incrementally, exactly like
    ``dedup_incremental``'s band index. Gram identity uses the
    package's 64-bit shingle hashes (collision odds as documented on
    ``doc_shingle_hashes``), read from the scope's persisted table,
    which feeds both the denominator and the exploded gram stream."""
    sh = doc_shingle_hashes(docs)
    base = sh.select("doc_id", F.size("hs").cast("long").alias("n_grams"))
    ex = sh.select("doc_id", F.explode("hs").alias("g"))
    first = ex.groupBy("g").agg(F.min("doc_id").alias("doc_id"))
    nov = first.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_novel")
    )
    n_novel = F.coalesce("n_novel", F.lit(0))
    return base.join(nov, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        n_novel.cast("long").alias("n_novel"),
        F.round(n_novel / F.col("n_grams").cast("double"), 6).alias("novelty"),
    )
