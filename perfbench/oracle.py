"""The DuckDB ``ORACLE`` check of ``query_mix``'s results.

``check`` runs in a child process: the DuckDB engine and the Python
copies of every result it hashes never count towards the benchmark
driver's memory.
"""

from __future__ import annotations

import math
import os

import duckdb
import pyarrow.feather as feather

import tpchgen
from data_spark.queries import ORACLE


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_key(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[str]]:
    """Order-insensitive result key: columns sorted by name, rows
    canonicalised and sorted (the repository's correctness-gate rule)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def check(data_dir: str, results_dir: str, queries: list[str]) -> dict[str, tuple[bool, int]]:
    """For each query: (does the Spark result saved as
    ``<results_dir>/<query>.arrow`` equal its ORACLE result, ORACLE row
    count)."""
    con = duckdb.connect(config={"threads": 1})  # runs beside the warm-up cycles
    try:
        for t in tpchgen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
        out = {}
        for q in queries:
            rel = con.sql(ORACLE[q])
            want = frame_key(list(rel.columns), rel.fetchall())
            table = feather.read_table(os.path.join(results_dir, f"{q}.arrow"))
            got = frame_key(table.column_names, list(zip(*(c.to_pylist() for c in table.columns))))
            out[q] = (got == want, len(want[1]))
        return out
    finally:
        con.close()
