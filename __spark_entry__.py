"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The queries live in ``duckdb_wasm_spark.plans`` / ``.operators``; this
module only aggregates their registries.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (adapted TPC-H q1) on /root/testdata/sf0.001."""
    from duckdb_wasm_spark.plans import tpch

    return tpch.QUERIES["q1"](spark, "/root/testdata/sf0.001")


def _registries():
    """One registry module per query family."""
    from duckdb_wasm_spark.operators import registry
    from duckdb_wasm_spark.plans import extras, micro, reference_sql, tpch
    from duckdb_wasm_spark.streaming import windows

    return [tpch, micro, extras, reference_sql, registry, windows]


# The last gate round (`CORRECTNESS_r<N>.json`) written before the text
# rows ran through the DuckDB-parser translator (`dialect.translate`): a
# text row's green row from this round or earlier checked code that the
# row no longer runs.
_LAST_ROUND_BEFORE_TRANSLATOR = 16


def _last_green(record_dir: str) -> dict[str, int]:
    """Latest round in which each name had a green gate row (a
    `CORRECTNESS_r<N>.json` row whose `hash_match` is true)."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(record_dir, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if row.get("hash_match") is True:
                last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def _gate_order(merged: dict, record_dir: str) -> dict:
    """`merged` in gate order: (a) rows with no green row; (b) text rows
    whose last green row predates the translator they now run through;
    (c) every other row. Within (b) and (c) the oldest green row comes
    first; ties keep registry order."""
    last = _last_green(record_dir)

    def key(name):
        if name not in last:
            return (0, 0)
        stale = (
            getattr(merged[name], "sql_text", None) is not None
            and last[name] <= _LAST_ROUND_BEFORE_TRANSLATOR
        )
        return (1 if stale else 2, last[name])

    return {n: merged[n] for n in sorted(merged, key=key)}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, in gate order: the correctness walk reads
    this dict in insertion order under a bounded window (about 50 rows),
    so the order decides which queries get a fresh oracle row."""
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _registries():
        merged.update(m.QUERIES)
    return _gate_order(merged, os.path.dirname(os.path.abspath(__file__)))


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable SQL equivalent for each query."""
    out: dict[str, str] = {}
    for m in _registries():
        out.update(m.ORACLE)
    return out
