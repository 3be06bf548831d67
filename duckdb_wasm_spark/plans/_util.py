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


def sql_query(
    name: str, text: str
) -> Callable[[SparkSession, str], DataFrame]:
    """Registry function `fn(spark, sf_dir)` that runs the DuckDB-dialect
    `text`: every table the text names is registered as a temp view,
    the text goes through `dialect.translate` (the path
    `Connection.query()` takes) and `spark.sql` plans the result. The
    registry's oracle gate then checks the translator on the same text
    DuckDB runs."""
    tables = [t for t in TABLES if re.search(rf"\b{t}\b", text, re.I)]

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        for t in tables:
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)
        tr = translate(text)
        if tr.kind != "query":
            raise ValueError(
                f"{name}: expected a query, but the text translates to "
                f"a {tr.kind!r} statement"
            )
        return spark.sql(tr.sql)

    fn.__name__ = name
    fn.__doc__ = f"{name}: its DuckDB-dialect text, translated and run."
    return fn
