"""Seeded synthetic inputs for the benchmark.

Every table has the schema of the engine's catalog tables (the same
columns and parquet types ``catalog.table`` reads), with value domains
shaped like the reference ingest: one random OLTP row per event, a
TPC-H-like order history, a tokenised document corpus with planted
exact and near duplicates, and label-clustered unit embeddings. The
same seed always gives byte-identical tables; the engine only ever sees
the written parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
REGIONS = np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
SHIP_DAY0 = np.datetime64("1995-01-02", "D")
SHIP_DAYS = 2498  # 1995-01-02 .. 2001-11-04


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_us(rng: np.random.Generator, day0: np.datetime64, span: int, n: int) -> np.ndarray:
    return (day0 + rng.integers(0, span, n).astype("timedelta64[D]")).astype("datetime64[us]")


def events(rng: np.random.Generator, n: int, days: int = 30, users: int = 1500) -> pa.Table:
    """OLTP ``events``: ids in insertion order, one random row each."""
    offsets = np.sort(rng.integers(0, days * 86_400_000_000, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(EVENT_START + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, users, n),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def tpch(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The TPC-H-like order history at scale factor ``sf``."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    flags = rng.integers(0, 3, n_line)
    return {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": i32(np.arange(25) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": names[rng.integers(0, len(names), n_part)],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": PART_TYPES[rng.integers(0, len(PART_TYPES), n_part)],
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": pa.array(_days_us(rng, ORDER_DAY0, ORDER_DAYS, n_ord), pa.timestamp("us")),
                "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line),
                "l_partkey": rng.integers(0, n_part, n_line),
                "l_suppkey": rng.integers(0, n_supp, n_line),
                "l_linenumber": i32(rng.integers(1, 8, n_line)),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[flags],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
                "l_shipdate": pa.array(_days_us(rng, SHIP_DAY0, SHIP_DAYS, n_line), pa.timestamp("us")),
            }
        ),
    }


def documents(rng: np.random.Generator, n: int, dup_share: float = 0.1) -> pa.Table:
    """Tokenised corpus; ``dup_share`` of the rows copy an earlier
    document, half verbatim and half with a few tokens rewritten, so
    the dedup and near-dup reports have true positives to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < dup_share:
            words = texts[int(rng.integers(0, i))].split(" ")
            if r < dup_share / 2:
                for j in rng.integers(0, len(words), max(1, len(words) // 10)):
                    words[j] = str(VOCAB[rng.integers(0, len(VOCAB))])
        else:
            words = list(VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Unit vectors clustered around one random centroid per label."""
    centroids = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    vec = centroids[label] + rng.normal(0.0, 1.5, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )


def tables(seed: int, sf: float, n_events: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """Every catalog table, drawn from one seeded stream per table so
    resizing one table leaves the others unchanged."""
    streams = np.random.SeedSequence(seed).spawn(4)
    rng = [np.random.default_rng(s) for s in streams]
    out = tpch(rng[0], sf)
    out["events"] = events(rng[1], n_events)
    out["documents"] = documents(rng[2], n_docs)
    out["embeddings"] = embeddings(rng[3], n_vecs)
    return out


def write(out_dir: str, data: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in data.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
