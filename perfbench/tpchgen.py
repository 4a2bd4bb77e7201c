"""Seeded TPC-H-ish star schema + ``events`` + ``documents`` parquet tables.

Same column names, types and parquet encoding (pyarrow, one row group,
naive TIMESTAMP(MICROS)) as the repository's test data, so every
inventory query and its DuckDB oracle run unchanged. Only the tables the
benchmark's query mix reads are written. ``sf=0.1`` gives 600,000
lineitem rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem", "events", "documents")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark line "
    "sort window order data column join small customer query big group stream filter"
).split()
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]

_MICROS_PER_DAY = 86_400_000_000


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _day_micros(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    lo = np.datetime64(first, "D").astype("int64")
    hi = np.datetime64(last, "D").astype("int64")
    return rng.integers(lo, hi + 1, n) * _MICROS_PER_DAY


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.03:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        elif i > 10 and r < 0.06:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(words))  # near duplicate
        else:
            k = int(rng.integers(8, 80))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_evt, n_doc, n_user = int(1_000_000 * sf), int(50_000 * sf), max(10, int(1_500 * sf * 10))

    def names(prefix: str, n: int) -> pa.Array:
        return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())

    t = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust).tolist(), pa.string()),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64()),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist(), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord), pa.float64()),
            "o_orderdate": _ts(_day_micros(rng, "1995-01-01", "2001-08-01", n_ord)),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord).tolist(), pa.string()),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64"), pa.float64()),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, pa.float64()),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line).tolist(), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line).tolist(), pa.string()),
            "l_shipdate": _ts(_day_micros(rng, "1995-01-02", "2001-11-04", n_line)),
        },
        "events": {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": _ts(
                np.sort(rng.integers(0, 30 * _MICROS_PER_DAY, n_evt))
                + np.datetime64("2024-01-01", "us").astype("int64")
            ),
            "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_evt).tolist(), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n_evt) + 0.01, 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], pa.string()),
        },
        "documents": _documents(rng, n_doc),
    }
    return {name: pa.table(cols) for name, cols in t.items()}


def row_counts(tables: dict[str, pa.Table]) -> dict[str, int]:
    return {name: tab.num_rows for name, tab in tables.items()}


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(
            tab, os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy", row_group_size=max(1, tab.num_rows),
        )


def land(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Generate and write one seed's tables; return their row counts.
    Meant to run in a child process, so the generated columns never
    count towards the benchmark driver's memory."""
    tables = generate(seed, sf)
    write(tables, out_dir)
    return row_counts(tables)
