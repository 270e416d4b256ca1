"""Seeded generator for the analytics input tables.

Writes the ten tables `__spark_entry__.TABLES` reads (TPC-H-ish star
schema, an `events` stream, `documents` text and `embeddings` vectors)
with the schemas, row counts and value shapes of the sf0.1 test tables,
so the benchmark never reads data outside its checkout. Row counts scale
linearly with `sf` (sf=0.1 gives lineitem 600 000, documents 5 000).
Each table is one parquet file with one row group, the layout the
queries' fan-out reader is written for.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DUP_SHARE = 0.05  # share of documents that repeat an earlier text + " dup"


def _n(base: int, sf: float) -> int:
    return max(1, int(round(base * sf)))


def _pick(rng: np.random.RandomState, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.RandomState, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.RandomState, start: str, span: int, n: int) -> pa.Array:
    d = np.datetime64(start, "us") + rng.randint(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _documents(rng: np.random.RandomState, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random_sample() < DUP_SHARE:
            texts.append(texts[rng.randint(0, i)] + " dup")
        else:
            k = rng.randint(10, 101)
            texts.append(" ".join(WORDS[j] for j in rng.randint(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.RandomState, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, n).astype(np.int32)),
    })


def _events(rng: np.random.RandomState, n: int, n_users: int) -> pa.Table:
    secs = np.sort(rng.uniform(0, 30 * 86400, n))
    ts = np.datetime64("2024-01-01", "us") + (secs * 1e6).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts),
        "user_id": rng.randint(0, n_users, n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.randint(0, 100, n)]),
    })


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale `sf`, a pure function of (sf, seed)."""
    rng = np.random.RandomState(seed)
    n_supp, n_part, n_cust = _n(10_000, sf), _n(200_000, sf), _n(150_000, sf)
    n_ord, n_line = _n(1_500_000, sf), _n(6_000_000, sf)
    part_keys = np.arange(n_part, dtype=np.int64)
    part_names = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))
    ]
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(rng.randint(0, 5, 25).astype(np.int32)),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.randint(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": part_keys,
            "p_name": pa.array(part_names),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.randint(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.randint(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (part_keys % 1000) / 10.0, 1),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.randint(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.randint(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.randint(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.randint(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.randint(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": pa.array(rng.randint(1, 8, n_line).astype(np.int32)),
            "l_quantity": rng.randint(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.randint(0, 11, n_line) / 100.0,
            "l_tax": rng.randint(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", 2499, n_line),
        }),
        "events": _events(rng, _n(1_000_000, sf), _n(15_000, sf)),
        "documents": _documents(rng, _n(50_000, sf)),
        "embeddings": _embeddings(rng, _n(20_000, sf)),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> str:
    """Write every table as `<out_dir>/<name>.parquet`; return out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
    return out_dir
