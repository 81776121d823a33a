"""Seeded generator for the engine's ten fixture tables (star schema plus
events, documents and embeddings), written as single-row-group parquet in
the same Arrow types as the engine's reference fixtures.

Row counts scale with ``sf`` like those fixtures (lineitem = 6M * sf). The
value distributions mirror them too: uniform keys and prices, dates in
1995-2001, exponential event gaps and values, 10-100-word documents over a
30-word vocabulary with 5% marked near-duplicates, and 64-dim unit
embeddings. The same (seed, sf) always writes the same bytes of data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "old", "red", "small", "shiny"]
NOUNS = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64
TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_DAY_US = 86_400_000_000
_EPOCH_2024 = int(np.datetime64("2024-01-01", "us").astype(np.int64))


def _dates(rng: np.random.Generator, n: int, first: str, last: str) -> pa.Array:
    lo = int(np.datetime64(first, "D").astype(np.int64))
    hi = int(np.datetime64(last, "D").astype(np.int64))
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100, 2)


def _pick(rng: np.random.Generator, choices: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for one (seed, scale factor)."""
    rng = np.random.default_rng([seed, 20240101])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = pa.int32()

    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
    }
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1)),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    # Events: increasing timestamps over 30 days with exponential gaps.
    gaps = rng.exponential(1.0, n_ev)
    ts = np.cumsum(gaps) / gaps.sum() * (30 * _DAY_US - 60_000_000)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(_EPOCH_2024 + ts.astype(np.int64), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    words = np.asarray(VOCAB, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(VOCAB), int(m))])
        for m in rng.integers(10, 101, n_docs)
    ]
    # 5% near-duplicates: a copy of another document plus a marker word.
    for d in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[d] = texts[int(rng.integers(0, n_docs))] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
            "source": pa.array([f"src{d % 20}" for d in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    emb = rng.standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), i32),
        }
    )
    return out


def write(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(tbl))
        counts[name] = len(tbl)
    return counts
