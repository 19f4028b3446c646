"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through Spark as ``binary`` columns with typed
metadata extracted by Arrow-batched ``mapInPandas`` — the pattern a
100 TB multimodal pipeline uses (decode happens inside the UDF batch,
partitioned by file/row-group, never on the driver).

Real codecs aren't available in this container, so ``decode_image`` is
an explicitly marked stub; the Spark-side plumbing (binary schema,
mapInPandas batch shape, metadata extraction) is real and tested.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import query_scope, scoped

META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("header_hex", StringType()),
    ]
)


def attach_payload(docs: DataFrame) -> DataFrame:
    """Attach an opaque binary payload column (here: utf-8 bytes of the
    text; in production: the image/audio blob) plus a mime tag."""
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
    )


def _meta_pdf(batches):
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": [len(b) for b in payloads],
                "header_hex": [bytes(b[:4]).hex() for b in payloads],
            }
        )


def extract_meta(with_payload: DataFrame) -> DataFrame:
    """Typed metadata from the binary column via mapInPandas (Arrow
    batches; schema declared up front so Catalyst can prune)."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        _meta_pdf, META_SCHEMA
    )


def decode_image(payload: bytes) -> "object":
    """STUB: image decode requires codec libs not present in this
    container. The Spark-side contract (binary in, array out via
    mapInPandas) is exercised with fake_decode below."""
    raise NotImplementedError(
        "image decode requires PIL/ffmpeg, not available in this environment; "
        "use fake_decode for plumbing tests"
    )


def fake_decode(payload: bytes) -> tuple[int, int, str]:
    """Deterministic stand-in for a decoder: derives (width, height,
    format) from the payload hash so plumbing tests are stable."""
    h = hashlib.sha256(payload).digest()
    return (h[0] % 64 + 1, h[1] % 64 + 1, "fake")


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("fmt", StringType()),
    ]
)


FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_bytes", LongType()),
        StructField("frame_header_hex", StringType()),
    ]
)


def frame_sample(with_payload: DataFrame, chunk: int = 64, every: int = 4) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: split the binary
    into fixed-size chunks ("frames"), keep every Nth — a ONE-TO-MANY
    mapInPandas (each input row yields multiple frame rows), which is
    the batch shape a real video sampler produces. The decode itself is
    byte slicing (codecs stubbed per environment)."""

    def gen(batches):
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                frames = [b[i : i + chunk] for i in range(0, len(b), chunk)]
                for idx in range(0, len(frames), every):
                    fb = frames[idx]
                    out.append((doc_id, idx, len(fb), fb[:4].hex()))
            yield pd.DataFrame(
                out,
                columns=["doc_id", "frame_idx", "frame_bytes", "frame_header_hex"],
            )

    return with_payload.select("doc_id", "payload").mapInPandas(
        gen, FRAME_SAMPLE_SCHEMA
    )


def decode_features(with_payload: DataFrame) -> DataFrame:
    """Feature-extraction plumbing over binary payloads (fake decoder)."""

    def gen(batches):
        for pdf in batches:
            rows = [fake_decode(bytes(b)) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [r[0] for r in rows],
                    "height": [r[1] for r in rows],
                    "fmt": [r[2] for r in rows],
                }
            )

    return with_payload.select("doc_id", "payload").mapInPandas(gen, FRAME_SCHEMA)


AUDIO_WIN = 64  # samples per analysis window
AUDIO_HOP = 32  # hop (50% overlap — the standard audio framing)

AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("win_idx", LongType()),
        StructField("n_samples", LongType()),
        StructField("energy", LongType()),
        StructField("sum_sq", LongType()),
        StructField("zero_crossings", LongType()),
    ]
)


def audio_window_energy(
    with_payload: DataFrame, win: int = AUDIO_WIN, hop: int = AUDIO_HOP
) -> DataFrame:
    """Audio feature-extraction plumbing: the binary payload is decoded
    as unsigned 8-bit PCM (the environment's stand-in for a real
    pcm/flac decoder — same documented-stub convention as
    ``decode_image``) and framed into overlapping analysis windows;
    per window the operator emits the classic cheap features a speech/
    music curation pass filters on — absolute energy, sum of squares
    (RMS numerator) and zero-crossing count — as EXACT integers, so
    unlike a float RMS the whole frame table is value-hash-oracled.

    Shape: a one-to-many Arrow-batched ``mapInPandas`` (one payload →
    ~n/hop window rows) with numpy-vectorized window math inside the
    batch — the real audio batch shape; the binary never leaves its
    partition and nothing shuffles. Window w covers samples
    [w·hop, w·hop+win) truncated at the payload end."""
    import numpy as np

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                s = (
                    np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                        np.int64
                    )
                    - 128
                )
                n = len(s)
                for start in range(0, n, hop):
                    w = s[start : start + win]
                    sign = w >= 0
                    rows.append(
                        (
                            doc_id,
                            start // hop,
                            len(w),
                            int(np.abs(w).sum()),
                            int((w * w).sum()),
                            int((sign[1:] != sign[:-1]).sum()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "win_idx",
                    "n_samples",
                    "energy",
                    "sum_sq",
                    "zero_crossings",
                ],
            )

    return with_payload.select("doc_id", "payload").mapInPandas(
        gen, AUDIO_SCHEMA
    )


# ---------------------------------------------------------------------------
# Perceptual-hash near-dup over binary payloads (aHash family): the
# image-dedup step of a multimodal curation pipeline. Real pHash runs
# a DCT over decoded pixels; the environment has no codecs (decode_image
# stub convention), so the "pixels" are the payload's first PH_N bytes —
# the hash construction (mean-threshold bits → banded blocking →
# Hamming verify) is the real one and is exactly what swaps in over a
# decoded luma plane.
# ---------------------------------------------------------------------------
PH_N = 64  # hash bits = "pixels" sampled from the payload
PH_BANDS = 4
PH_BAND_BITS = PH_N // PH_BANDS
PH_MAX_HAMMING = 3  # pigeonhole: ≤3 differing bits ⇒ ≥1 identical band

PH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_used", LongType()),
        StructField("bits", ArrayType(IntegerType())),
    ]
)


def multimodal_phash(with_payload: DataFrame) -> DataFrame:
    """Average-hash bit vector per payload: bit_i = 1 iff byte_i is
    above the mean of the first ``PH_N`` bytes — compared as the exact
    integer cross-multiplication ``byte_i · m > Σbytes`` (no float
    mean), zero-padded to ``PH_N`` bits for short payloads. Arrow
    mapInPandas with numpy byte math; payloads never leave their
    partition."""
    import numpy as np

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = np.frombuffer(
                    bytes(payload)[:PH_N], dtype=np.uint8
                ).astype(np.int64)
                m = len(b)
                if m == 0:
                    continue
                tot = int(b.sum())
                bits = [1 if int(x) * m > tot else 0 for x in b]
                bits += [0] * (PH_N - m)
                rows.append((doc_id, m, bits))
            yield pd.DataFrame(rows, columns=["doc_id", "n_used", "bits"])

    return with_payload.select("doc_id", "payload").mapInPandas(gen, PH_SCHEMA)


@scoped
def multimodal_phash_pairs(
    with_payload: DataFrame, max_hamming: int = PH_MAX_HAMMING
) -> DataFrame:
    """Near-duplicate payload pairs at Hamming ≤ ``max_hamming`` over
    the aHash bits, found by banded blocking (simhash_dup_pairs'
    pigeonhole: with 4 bands of 16 bits, any pair within Hamming 3
    shares at least one exact band) and verified exactly.

    Scale shape: NEVER payload×payload — candidates come from four
    16-bit-band equi-joins (shuffle keyed on (band, value); band
    tables carry doc_id + 64 ints, not payloads), de-duplicated before
    the Hamming verify, which runs only on collisions. The integer
    band fold and the zip_with Hamming are JVM-side; only the byte →
    bit extraction is Python (Arrow-batched, the multimodal decode
    seam). Everything is exact integers ⇒ full value-hash oracle via
    DuckDB hex math (multimodal_audio_energy's convention)."""
    h = query_scope().persist(multimodal_phash(with_payload))
    band_val = F.aggregate(
        F.slice("bits", F.col("k") * PH_BAND_BITS + 1, PH_BAND_BITS),
        F.lit(0).cast("long"),
        lambda acc, x: acc * 2 + x,
    )
    bands = h.select(
        "doc_id",
        F.explode(F.array(*[F.lit(i) for i in range(PH_BANDS)])).alias("k"),
        "bits",
    ).select("doc_id", "k", band_val.alias("bv"))
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    ha = h.select(F.col("doc_id").alias("doc_id_a"), F.col("bits").alias("_ba"))
    hb = h.select(F.col("doc_id").alias("doc_id_b"), F.col("bits").alias("_bb"))
    hamming = F.aggregate(
        F.zip_with("_ba", "_bb", lambda x, y: F.abs(x - y)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(ha, "doc_id_a")
        .join(hb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            hamming.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
