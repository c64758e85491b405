"""Seeded generator for the graded-query tables.

Writes the ten tables the graded queries read (``sources.tables.TABLES``)
as one parquet file each, with the column names and Arrow types listed in
FIXTURES.md. Row counts follow a scale factor as in TESTDATA.md
(lineitem = 6e6 x sf); documents and embeddings keep a floor of 500 rows
unless ``n_docs`` overrides it. The same (sf, seed) always gives
byte-identical values.

Value shapes that the queries depend on are kept: unique keys,
cent-rounded prices (so ties are rare), day-granular order/ship dates,
time-ordered events with a small JSON ``props`` payload, documents over a
30-word vocabulary with ~5% planted near-duplicates (another document's
text plus `` dup``), and unit-norm 64-d embeddings drawn around 10 weak
label centroids.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = (
    "a", "the", "join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "vector", "order", "line", "table",
    "data", "agg", "value", "key", "stream", "window", "spark", "part",
    "group", "big", "sort", "query", "fast",
)
EMBED_DIM = 64
N_LABELS = 10

_DAY_US = 86_400 * 1_000_000


def _days_since(year: int, month: int, day: int) -> int:
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "D").astype(np.int64))


def _ts_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _DAY_US, type=pa.timestamp("us"))


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def generate_tables(sf: float, seed: int, n_docs: int | None = None) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, keyed by table name. ``n_docs``
    overrides the document count."""
    rng = np.random.default_rng(np.random.PCG64(seed))
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, n_ev // 67)
    n_doc = n_docs or max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(list(REGIONS)),
        }
    )
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(nk),
            "n_name": pa.array([f"NATION_{i}" for i in nk]),
            "n_regionkey": pa.array((nk % 5).astype(np.int32)),
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(ck),
            "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_cust))),
            "c_mktsegment": pa.array(np.asarray(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(sk),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_supp))),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.asarray(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.asarray(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.asarray(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
        }
    )
    d0, d1 = _days_since(1995, 1, 1), _days_since(2001, 8, 1)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pa.array(np.asarray(("F", "O", "P"))[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_cents(rng.uniform(1000.0, 500000.0, n_ord))),
            "o_orderdate": _ts_us(rng.integers(d0, d1 + 1, n_ord)),
            "o_orderpriority": pa.array(np.asarray(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    s0, s1 = _days_since(1995, 1, 2), _days_since(2001, 11, 4)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(rng.uniform(900.0, 105000.0, n_line))),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(np.asarray(("A", "N", "R"))[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.asarray(("F", "O"))[rng.integers(0, 2, n_line)]),
            "l_shipdate": _ts_us(rng.integers(s0, s1 + 1, n_line)),
        }
    )
    t0 = _days_since(2024, 1, 1) * _DAY_US
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + t0
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ev_us, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
            "event_type": pa.array(np.asarray(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
            "value": pa.array(np.maximum(_cents(rng.exponential(50.0, n_ev)), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    words = np.asarray(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))])
        for _ in range(n_doc)
    ]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        j = int(rng.integers(0, n_doc))
        if j != i and not texts[j].endswith(" dup"):
            texts[i] = texts[j] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.asarray(LANGS)[rng.choice(len(LANGS), n_doc, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
            "n_chars": pa.array(np.asarray([len(t) for t in texts], dtype=np.int64)),
        }
    )
    centroids = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n_emb)
    vecs = 1.2 * centroids[labels] + rng.normal(0.0, 1.0, (n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    return out


def write_tables(out_dir: str, sf: float, seed: int, n_docs: int | None = None) -> str:
    """Write every table to ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate_tables(sf, seed, n_docs).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
