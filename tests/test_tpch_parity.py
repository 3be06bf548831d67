"""Adapted TPC-H q1–q22: Spark result must exactly match the DuckDB oracle
(the driver's t2 gate, replicated locally at sf0.001)."""

import pytest

from duckdb_wasm_spark.plans import tpch
from duckdb_wasm_spark.plans._util import sql_query
from duckdb_wasm_spark.testing import assert_parity


@pytest.mark.parametrize("name", sorted(tpch.QUERIES))
def test_tpch_parity(name, spark, sf_dir, oracle):
    df = tpch.QUERIES[name](spark, sf_dir)
    assert_parity(df, tpch.ORACLE[name], oracle, name)
    assert name in tpch.ORACLE


def test_reference_sqlite_variants_parity(spark, sf_dir, oracle):
    """The sqlite-dialect texts (strftime path) registered for the
    driver gate must hash-match their determinized oracles."""
    from duckdb_wasm_spark.plans import reference_sql

    assert set(reference_sql.QUERIES) == {"ref_q7_sqlite", "ref_q8_sqlite"}
    for name, fn in reference_sql.QUERIES.items():
        assert_parity(fn(spark, sf_dir), reference_sql.ORACLE[name], oracle, name)


def test_sql_query_rejects_non_query_text(spark, sf_dir):
    """A registry text that translates to a statement other than a
    query must fail with an error naming the query, never reach
    spark.sql."""
    fn = sql_query("ddl_text", "CREATE TABLE t (a INTEGER)")
    with pytest.raises(ValueError, match="ddl_text"):
        fn(spark, sf_dir)
