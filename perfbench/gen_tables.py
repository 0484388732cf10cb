"""Seeded generator for the query workloads' tables.

Writes the ten parquet tables the query registry reads (``region nation
customer supplier part orders lineitem events documents embeddings``)
with the schemas and value domains of the fixture tables the registry's
oracles were written against. Row counts scale with ``sf`` the same way:
1,500,000 × sf orders, about four lineitems per order, 1,000,000 × sf
events and so on. The same seed always writes the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "large", "new", "old"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64
# embedding_dedup_survivors pairs vectors at cosine >= 0.4: chance pairs
# are kept below this margin, planted ones sit well above the threshold
CHANCE_MARGIN = 0.3
PLANTED_PAIRS = 10
PLANTED_PATHS = 2

ORDER_START = np.datetime64("1995-01-01")
ORDER_DAYS = int((np.datetime64("2001-08-01") - ORDER_START).astype(int))
EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86400 * 1_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Bag-of-words documents; one in twenty is a lightly edited copy of
    an earlier document (suffixed ``dup``), so the dedup families find
    near-duplicate pairs. The document lengths and the number of copies
    are the same for every seed; only which words and documents are
    drawn changes."""
    lengths = rng.permutation(np.linspace(10, 99, n).astype(int))
    copies = set(rng.choice(np.arange(20, n), size=n // 20, replace=False).tolist())
    texts: list[str] = []
    for i in range(n):
        if i in copies:
            words = texts[int(rng.integers(i))].split()
            words[int(rng.integers(len(words)))] = WORDS[int(rng.integers(len(WORDS)))]
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, size=int(lengths[i]))))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    """Unit vectors drawn around ten weak label centroids, ``n / 10`` per
    label, with a near-duplicate graph (cosine >= 0.4) of the
    same shape for every seed: ``PLANTED_PAIRS`` isolated pairs and
    ``PLANTED_PATHS`` paths a - b - c whose ends are not near each other,
    so connected components take the same number of rounds whatever the
    seed. Chance near-duplicates are drawn again until none is left."""
    labels = rng.permutation(np.arange(n) % 10).astype(np.int32)
    centroids = rng.normal(size=(10, EMBED_DIM))

    def draw(k, lab):
        x = rng.normal(size=(k, EMBED_DIM)) + 0.15 * centroids[lab]
        return x / np.linalg.norm(x, axis=1, keepdims=True)

    x = draw(n, labels)
    same = labels[:, None] == labels[None, :]
    np.fill_diagonal(same, False)
    while True:
        close = np.triu(same & (x @ x.T >= CHANCE_MARGIN))
        redo = np.unique(np.nonzero(close)[1])
        if redo.size == 0:
            break
        x[redo] = draw(redo.size, labels[redo])
    # plant: ids taken per label in turn, so every structure sits in one block
    by_label = [list(rng.permutation(np.nonzero(labels == b)[0])) for b in range(10)]
    for k in range(PLANTED_PAIRS + PLANTED_PATHS):
        block = by_label[k % 10]
        if k < PLANTED_PAIRS:
            a, b = block.pop(), block.pop()
            v = x[a] + 0.2 * rng.normal(size=EMBED_DIM) / np.sqrt(EMBED_DIM)
        else:
            a, b, c = block.pop(), block.pop(), block.pop()
            v = x[a] + x[c]
        x[b] = v / np.linalg.norm(v)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    }


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = 4 * n_ord, int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, size=n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, size=n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1)),
    })
    odate = ORDER_START + rng.integers(0, ORDER_DAYS + 1, n_ord).astype("timedelta64[D]")
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, size=n_ord)),
    })
    lok = rng.integers(0, n_ord, n_line).astype(np.int64)
    ship = odate[lok] + rng.integers(1, 96, n_line).astype("timedelta64[D]")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], size=n_line)),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })
    offs = np.sort(rng.integers(0, EVENT_SPAN_US, n_evt))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(EVENT_START + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n_evt)),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, n_evt), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_vecs))
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_line, "events": n_evt,
            "documents": n_docs, "embeddings": n_vecs}
