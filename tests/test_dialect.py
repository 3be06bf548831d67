"""The translator end to end: every registered oracle text translates
without Spark, a node the emitter does not handle fails as a typed
error that names it, and literals, QUALIFY, sorted aggregates, lists and
UPDATE / DELETE give DuckDB's own answers through `Connection.query()`."""

import duckdb
import pytest

import __spark_entry__ as entry
from duckdb_wasm_spark.dialect import translate
from duckdb_wasm_spark.session import SparkDB, SparkDBError


def test_every_oracle_text_translates_to_a_query():
    kinds = {name: translate(text).kind for name, text in entry.oracle_sql().items()}
    assert set(kinds.values()) == {"query"}


@pytest.fixture(scope="module")
def conn(spark):
    return SparkDB(spark).connect()


@pytest.mark.parametrize(
    "sql, node",
    [
        ("SELECT DISTINCT ON (a) a FROM t", "modifier DISTINCT ON"),
        ("SELECT * FROM t ASOF JOIN u ON t.a >= u.a", "join ASOF"),
        ("SELECT * FROM t PIVOT (sum(b) FOR a IN (1, 2))", "table ref PIVOT"),
        ("SELECT x::UUID FROM t", "type UUID"),
    ],
)
def test_unsupported_node_is_a_typed_error_naming_it(conn, sql, node):
    with pytest.raises(SparkDBError, match=f"^ValueError: unsupported {node}"):
        conn.query(sql)


_Q = "(VALUES (1, 10), (1, 20), (2, 5), (2, 7)) q(k, \"order\")"


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT 'it''s'::text AS s, 'a::b' AS c",
        "SELECT substring('a from b' from 2) AS s, '* EXCLUDE (a)' AS e",
        "SELECT strftime(DATE '1998-03-04', '%Y-%m-%d') AS a, "
        "strftime('%d/%m', DATE '1998-03-04') AS b",
        f"SELECT DISTINCT k FROM {_Q} QUALIFY row_number() OVER (ORDER BY k) = 1",
        f'SELECT k, "order" FROM {_Q} QUALIFY row_number() OVER '
        '(PARTITION BY k ORDER BY "order" DESC) = 1 ORDER BY k DESC LIMIT 1',
        "SELECT list(v ORDER BY v DESC) AS l, "
        "string_agg(CAST(v AS VARCHAR), '|' ORDER BY v) AS s "
        "FROM (VALUES (3), (NULL), (1)) t(v)",
        "SELECT range(3, 1) AS e, range(1, 4) AS r, generate_series(1, 3) AS g, "
        "list_reduce([1, 2, 3], (a, b) -> a * 10 + b) AS f",
        "SELECT v FROM (VALUES (2), (NULL), (1)) t(v) ORDER BY v DESC",
    ],
)
def test_query_matches_duckdb(conn, sql):
    got = conn.query(sql).to_pylist()
    want = duckdb.execute(sql).fetchall()
    assert [tuple(r.values()) for r in got] == want


def test_update_and_delete_match_duckdb(conn):
    """A WHERE inside a literal or a comment never splits the statement."""
    duck = duckdb.connect()
    for sql in (
        "CREATE TABLE ud2 (k INTEGER, s VARCHAR)",
        "INSERT INTO ud2 VALUES (1, 'a where b'), (2, 'x'), (3, NULL)",
        "UPDATE ud2 SET s = 'no where here' /* where k = 3 */ WHERE k = 2",
        "DELETE FROM ud2 WHERE s = 'a where b' -- where k = 2",
    ):
        duck.execute(sql)
        conn.query(sql)
    sql = "SELECT k, s FROM ud2 ORDER BY k"
    assert [tuple(r.values()) for r in conn.query(sql).to_pylist()] == (
        duck.execute(sql).fetchall()
    )
    conn.query("DROP TABLE ud2")
