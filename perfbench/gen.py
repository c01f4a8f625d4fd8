"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (``sources.tables.TABLE_NAMES``) as
one parquet file each, with the column names and types of the testdata
schema (TESTDATA.md), from a numpy seed. The program only ever sees the
files; nothing here imports it.

``rows`` sizes the ``events`` table; the TPC-H-ish tables follow the
testdata scale-factor ratios (``sf = rows / 1e6``). ``item_keys`` is the
domain of the ``props`` item key ``k``: the testdata keeps it at 100 at
every scale, the large workload scales it with the row count so per-key
density stays that of sf0.1 (1,000 events per key) and interval joins on
the key grow linearly, not quadratically.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH_2024_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000
EPOCH_1995_DAYS = 9131  # 1995-01-01

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events_table(rng, n: int, item_keys: int, t0_us: int = EPOCH_2024_US,
                 span_us: int = 30 * DAY_US) -> dict:
    """The unified stream: ids in timestamp order, ~67 events per user."""
    users = max(1, round(n * 0.015))
    return {
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(np.sort(t0_us + rng.integers(0, span_us, n))),
        "user_id": rng.integers(0, users, n).astype("int64"),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pc.binary_join_element_wise(
            '{"k": ', pc.cast(pa.array(rng.integers(0, item_keys, n)), pa.string()), "}", ""
        ),
    }


def _documents(rng, n: int) -> dict:
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n)
    ]
    # one document in twenty is a near-copy of an earlier one (two words
    # swapped out), so the dedup and similarity operators find pairs
    for i in range(1, n):
        if rng.random() < 0.05:
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts[i] = " ".join(words)
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def _embeddings(rng, n: int, dims: int = 64, labels: int = 10) -> dict:
    centroids = rng.normal(0.0, 1.0, (labels, dims))
    label = rng.integers(0, labels, n)
    x = centroids[label] * 0.15 + rng.normal(0.0, 1.0, (n, dims))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    return {
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": label.astype("int32"),
    }


def write_tables(out_dir: str, seed: int, rows: int, item_keys: int = 100,
                 tables: tuple[str, ...] | None = None) -> str:
    """Write the seeded tables under ``out_dir``; returns a digest of the
    bytes written, so two runs can show they measured identical inputs."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    sf = rows / 1e6
    n_cust = max(10, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(20, round(200_000 * sf))
    n_ord = max(20, round(1_500_000 * sf))
    n_line = max(20, round(6_000_000 * sf))
    builders = {
        "region": lambda: {
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": pa.array(REGIONS),
        },
        "nation": lambda: {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        },
        "customer": lambda: {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        },
        "supplier": lambda: {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": lambda: {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": pa.array([
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
        },
        "orders": lambda: {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts((EPOCH_1995_DAYS + rng.integers(0, 2404, n_ord)) * DAY_US),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        },
        "lineitem": lambda: {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": _ts((EPOCH_1995_DAYS + 1 + rng.integers(0, 2500, n_line)) * DAY_US),
        },
        "events": lambda: events_table(rng, rows, item_keys),
        "documents": lambda: _documents(rng, 500),
        "embeddings": lambda: _embeddings(rng, 500),
    }
    digest = hashlib.sha256()
    for name in tables or tuple(builders):
        _write(out_dir, name, builders[name]())
        with open(os.path.join(out_dir, f"{name}.parquet"), "rb") as f:
            digest.update(name.encode() + f.read())
    return digest.hexdigest()[:16]
