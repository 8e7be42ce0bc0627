"""Seeded TPC-H-ish corpus for the query-mix workload.

Writes one parquet file per table (``region nation customer supplier part
orders lineitem events documents embeddings``) with the column names,
types and value domains the registry queries expect (the same shape as
the standing test corpus described in TESTDATA.md). Columns are drawn
independently and uniformly, as in that corpus: 30,000 lineitem rows, so a
query's time is mostly per-query overhead. The same seed gives the same
tables.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "blue", "hot", "cold", "old", "new", "small", "large"]
PART_NOUN = ["plate", "widget", "ring", "rod", "gizmo", "bolt", "gear", "anvil"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "line sort window data column join small customer query order big stream "
         "filter group vector").split()

_EPOCH = dt.datetime(1970, 1, 1)


def _ts(days_from: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((days_from - _EPOCH).total_seconds() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int) -> None:
    """Write every table under ``out_dir``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 750, 50, 1000
    n_ord, n_li, n_ev = 7_500, 30_000, 5_000
    day = 86_400 * 1_000_000
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_ord) * day),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2498, n_li) * day),
        }),
        "events": pa.table({
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": _ts(dt.datetime(2024, 1, 1), np.sort(rng.integers(0, 30 * day, n_ev))),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": _money(rng, 0.01, 490.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": _documents(rng, 500),
        "embeddings": pa.table({
            "vec_id": pa.array(range(500), pa.int64()),
            "embedding": pa.array(
                list((rng.standard_normal((500, 64)) * 0.13).astype(np.float32)),
                pa.list_(pa.float32()),
            ),
            "label": pa.array(rng.integers(0, 10, 500), pa.int32()),
        }),
    }
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word texts; every tenth document is a near-copy of an
    earlier one (a few words swapped), so the dedup operators find pairs."""
    texts = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            words = texts[int(rng.integers(0, i))].split()
            for k in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[k] = str(rng.choice(WORDS))
        else:
            words = rng.choice(WORDS, int(rng.integers(10, 110))).tolist()
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
