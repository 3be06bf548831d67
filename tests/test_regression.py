"""Reference regression repros (packages/duckdb-wasm/test/regression):
github_332 — CSV import preserving header case + case-insensitive
column resolution in GROUP BY; github_334 — CSV/JSON inserts (incl. a
trailing-comma JSON document), materialized + streamed queries,
prepared statements."""

import pytest

from duckdb_wasm_spark.session import SparkDB

_PRODUCTS_CSV = (
    "ProductGroup,Product,Year,Quarter,Revenue,Units,Count,Product Key,"
    "Reseller,Product Info,QuarterAsNumber\n"
    "Electronics,Phone,2018,Q1,103,7,1,2018-Q1,Sony,Format=XML,1\n"
    "Electronics,Computer,2019,Q1,83,7,1,2019-Q1,Google,Format=XML,1\n"
    "Media,Theater,2018,Q1,17,4,1,2018-Q1,Sony,Format=XML,1\n"
    "Media,Movies,2019,Q2,26,14,1,2019-Q2,Google,Format=XML,2\n"
)


@pytest.fixture()
def db(spark):
    d = SparkDB(spark=spark)
    yield d
    d.close()


def test_github_332_csv_case_insensitive_group_by(db):
    conn = db.connect()
    db.register_file_text("Products.csv", _PRODUCTS_CSV)
    conn.query("CREATE TABLE products AS SELECT * FROM 'Products.csv'")
    allrows = conn.query("SELECT * FROM products")
    assert len(allrows.schema) == 11
    assert allrows.schema.field(0).name == "ProductGroup"
    # lower-case reference resolves case-insensitively; the original
    # header casing survives to the result schema
    t = conn.query("SELECT productgroup FROM products GROUP BY productgroup")
    assert len(t.schema) == 1
    assert t.schema.field(0).name.lower() == "productgroup"
    assert t.num_rows == 2
    conn.query("DROP TABLE products")


def test_github_334_csv_insert(db):
    conn = db.connect()
    db.register_file_text("data.csv", "1|foo\n2|bar\n")
    conn.insert_csv_from_path(
        "data.csv",
        table="foo",
        auto_detect=False,
        header=False,
        delimiter="|",
        columns={"col1": "int32", "col2": "utf8"},
    )
    t = conn.query("SELECT col1::INTEGER AS col1, col2 FROM foo")
    assert t.column("col1").to_pylist() == [1, 2]
    conn.query("DROP TABLE IF EXISTS foo")


def test_github_334_json_row_insert_trailing_comma(db):
    conn = db.connect()
    db.register_file_text(
        "rows.json",
        '[\n { "col1": 1, "col2": "foo" },\n { "col1": 2, "col2": "bar" },\n]',
    )
    conn.insert_json_from_path("rows.json", table="rows")
    t = conn.query("SELECT count(*)::INTEGER AS n FROM rows")
    assert t.column("n").to_pylist() == [2]
    conn.query("DROP TABLE IF EXISTS rows")
    db.drop_file("rows.json")


def test_github_334_json_column_insert(db):
    conn = db.connect()
    db.register_file_text(
        "columns.json", '{\n "col1": [1, 2],\n "col2": ["foo", "bar"]\n}'
    )
    conn.insert_json_from_path("columns.json", table="columns")
    t = conn.query("SELECT col2 FROM columns WHERE col1::INTEGER = 2")
    assert t.column("col2").to_pylist() == ["bar"]
    conn.query("DROP TABLE IF EXISTS columns")


def test_github_334_query_paths(db):
    conn = db.connect()
    t = conn.query("SELECT * FROM generate_series(1, 100) t(v)")
    assert t.num_rows == 100
    total = 0
    for batch in conn.send("SELECT * FROM generate_series(1, 100) t(v)"):
        assert batch.num_rows > 0
        total += batch.num_rows
    assert total == 100
    stmt = conn.prepare("SELECT v + ? AS v FROM generate_series(0, 10000) AS t(v)")
    assert conn.run_prepared(stmt, 234).num_rows == 10001
    rows = sum(b.num_rows for b in conn.send_prepared(stmt, 234))
    assert rows == 10001
    conn.close_prepared(stmt)
