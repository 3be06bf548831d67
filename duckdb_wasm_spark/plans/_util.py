"""Shared expression helpers for the query corpus, and `sql_query`, which
turns a DuckDB-dialect text into a registry function.

Deterministic-float policy
--------------------------
The driver hash-compares our Spark results against a DuckDB oracle
(value-exact). Floating-point SUM/AVG are order-dependent and Spark sums in
partition order, so a naive `sum(double)` can differ from DuckDB in the last
ulp. Every money/rate aggregate therefore accumulates in exact DECIMAL
(inputs have ≤2 decimal digits; products ≤6), and only the final value is
cast to double — bit-identical in any summation order and in both engines.
AVG is expressed as decimal-sum cast to double divided by COUNT (double/long
→ double, deterministic), never as a float `avg()`.

MIN/MAX/COUNT over doubles are order-independent and used directly.

This costs nothing at scale: decimal hash-aggregation is still JVM
whole-stage-codegen, partial+final, no extra shuffle.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_wasm_spark.dialect import translate
from duckdb_wasm_spark.session import Connection, SparkDB
from duckdb_wasm_spark.tables import TABLES, load_table

DEC = "decimal(15,2)"


def dec(c: str | Column) -> Column:
    """Exact decimal view of a 2-decimal money/rate column stored as double."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(DEC)


def dsum(e: Column) -> Column:
    """Deterministic double SUM via exact decimal accumulation."""
    return F.sum(e).cast("double")


# ---- matching DuckDB SQL fragments (oracle side) --------------------------

SQL_DEC = "cast({c} as decimal(15,2))"
SQL_REV = (
    "cast(l_extendedprice as decimal(15,2))"
    " * (1 - cast(l_discount as decimal(15,2)))"
)
SQL_CHARGE = (
    f"cast({SQL_REV} as decimal(18,4)) * (1 + cast(l_tax as decimal(15,2)))"
)


def sql_dsum(expr: str) -> str:
    return f"cast(sum({expr}) as double)"


def sql_davg(expr: str) -> str:
    return f"cast(sum({expr}) as double) / count(*)"


def sql_dec(c: str) -> str:
    return SQL_DEC.format(c=c)


def _database(spark: SparkSession) -> SparkDB:
    """The caller session's one `SparkDB`, which every registry text
    runs through: the same session settings as `Connection.query()`."""
    db = spark.__dict__.get("_dws_sparkdb")
    return db or spark.__dict__.setdefault("_dws_sparkdb", SparkDB(spark))


def sql_query(
    name: str, text: str
) -> Callable[[SparkSession, str], DataFrame]:
    """Registry function `fn(spark, sf_dir)` that runs the DuckDB-dialect
    `text` the way `Connection.query()` does, in the caller session's
    database: every table the text names is registered as a database
    table, and the text goes through `dialect.translate` and the
    connection's statement runner. The registry's oracle gate then
    checks the translator on the same text DuckDB runs."""
    tables = [t for t in TABLES if re.search(rf"\b{t}\b", text, re.I)]

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        db = _database(spark)
        for t in tables:
            db._set_table(t, load_table(db.spark, sf_dir, t))
        tr = translate(text)
        if tr.kind != "query":
            raise ValueError(
                f"{name}: expected a query, but the text translates to "
                f"a {tr.kind!r} statement"
            )
        return Connection(db)._run_translated(tr)

    fn.__name__ = name
    fn.__doc__ = f"{name}: its DuckDB-dialect text, translated and run."
    return fn


def registrar(queries: dict) -> Callable:
    """A family module's `@_q(name)` decorator: it files the decorated
    plan in `queries` under `name` and returns it unchanged."""

    def q(name: str):
        def reg(fn):
            queries[name] = fn
            return fn

        return reg

    return q


def register_texts(queries: dict, oracle: dict[str, str]) -> None:
    """Register every `oracle` name that has no DataFrame plan in
    `queries` as `sql_query` over its own text. A family module calls
    this last, so its DataFrame plans are exactly the queries whose
    text cannot stand in for them."""
    for name, text in oracle.items():
        if name not in queries:
            queries[name] = sql_query(name, text)
