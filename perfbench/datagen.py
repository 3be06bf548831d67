"""Seeded generator for the benchmark's input tables.

Writes one parquet file (one row group) per table with the schema and
value domains of the TPC-H-like star schema plus the `events`,
`documents` and `embeddings` tables that the package's loaders expect
(`duckdb_wasm_spark.tables.TABLES`). The same seed and scale give the
same bytes, so every run of a workload can be replayed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_DAY = np.timedelta64(1, "D")


def _dates(rng, n, start, days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n) * _DAY


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    nk = np.arange(25, dtype=np.int32)
    part_keys = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": nk,
            "n_name": [f"NATION_{i}" for i in nk],
            "n_regionkey": nk % 5,
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": part_keys,
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (part_keys % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2405),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _dates(rng, n_line, "1995-01-02", 2498),
        }),
    }


def events_table(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(1000, int(1_000_000 * sf))
    start = np.datetime64("2024-01-01", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(15, int(15_000 * sf)), n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.01, 490.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents_table(rng: np.random.Generator, sf: float) -> pa.Table:
    """Word-salad documents; one in five is a light edit of an earlier
    document, so the near-duplicate operators find real pairs."""
    n = max(500, int(50_000 * sf))
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings_table(rng: np.random.Generator, sf: float) -> pa.Table:
    """Unit vectors around ten label centroids."""
    n = max(500, int(20_000 * sf))
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, EMBED_DIM))
    vecs = centers[labels] + 0.8 * rng.normal(size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": labels,
    })


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write every table for (seed, sf) under `out_dir`; returns it."""
    rng = np.random.default_rng(seed)
    tables = tpch_tables(rng, sf)
    tables["events"] = events_table(rng, sf)
    tables["documents"] = documents_table(rng, sf)
    tables["embeddings"] = embeddings_table(rng, sf)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
    return out_dir


def ingest_rows(rng: np.random.Generator, n: int, first_id: int) -> pa.Table:
    """Rows for the `api_ingest` table: (id, grp, qty, price, day)."""
    return pa.table({
        "id": np.arange(first_id, first_id + n, dtype=np.int64),
        "grp": rng.integers(0, 16, n).astype(np.int32),
        "qty": rng.integers(1, 100, n).astype(np.int32),
        "price": _money(rng, n, 1.0, 1000.0),
        "day": (np.datetime64("2024-01-01") + rng.integers(0, 365, n) * _DAY)
        .astype("datetime64[D]"),
    })
