"""Session/connection API: behaviors mirrored from the reference's
test/bindings.test.ts (generate_series, prepared statements, typecheck,
bigint patch, tokenizer goldens) and test/filesystem.test.ts (parquet
scan via registry, COPY round-trips, EXPORT DATABASE)."""

import glob
import os
import tempfile

import pyarrow as pa
import pytest

from duckdb_wasm_spark.session import Connection, SparkDB, SparkDBError


@pytest.fixture(scope="module")
def db(spark):
    d = SparkDB(spark=spark)
    yield d
    d.close()


@pytest.fixture()
def conn(db):
    return db.connect()


# ------------------------------------------------------------- queries
def test_generate_series(conn):
    # bindings.test.ts:57 / webdb_test.cc:53: inclusive bounds
    t = conn.query("SELECT v::INTEGER AS v FROM generate_series(0, 3) t(v)")
    assert t.column("v").to_pylist() == [0, 1, 2, 3]


def test_cast_dialect(conn):
    t = conn.query("SELECT (41 + 1)::TINYINT AS a, '7'::INTEGER AS b")
    assert t.column("a").to_pylist() == [42]
    assert t.column("b").to_pylist() == [7]


def test_bigint_patch_default(conn):
    # bindings.test.ts:176-199: int64 results arrive as float64 unless
    # emitBigInt
    t = conn.query("SELECT 9007199254740991 AS v")
    assert pa.types.is_float64(t.schema.field("v").type)


def test_emit_bigint_flag(spark):
    db = SparkDB(spark=spark, config={"emitBigInt": True})
    t = db.connect().query("SELECT 1::BIGINT AS v")
    assert pa.types.is_int64(t.schema.field("v").type)


# ---------------------------------------------------------------- DDL
def test_ctas_insert_drop(conn):
    conn.query("CREATE TABLE t1 AS SELECT 1::INTEGER AS a")
    conn.query("INSERT INTO t1 VALUES (2), (3)")
    t = conn.query("SELECT count(*)::INTEGER AS n FROM t1")
    assert t.column("n").to_pylist() == [3]
    names = conn.query("PRAGMA show_tables").column("name").to_pylist()
    assert "t1" in names
    conn.query("DROP TABLE t1")
    assert "t1" not in conn.query("PRAGMA show_tables").column("name").to_pylist()


def test_create_table_columns_default_null(conn):
    # bindings.test.ts:74-84
    conn.query(
        "CREATE TABLE typed (a INTEGER, b VARCHAR(11) DEFAULT NULL)"
    )
    conn.query("INSERT INTO typed VALUES (1, 'x')")
    rows = conn.query("SELECT * FROM typed")
    assert rows.column("a").to_pylist() == [1.0] or rows.column("a").to_pylist() == [1]
    conn.query("DROP TABLE typed")


def test_insert_strict_typecheck(conn):
    # bindings.test.ts:86-142: out-of-range insert must be rejected
    conn.query("CREATE TABLE narrow (a TINYINT)")
    with pytest.raises(SparkDBError):
        conn.query("INSERT INTO narrow VALUES (1000)")
    conn.query("DROP TABLE narrow")


def test_insert_select_strict_typecheck(conn):
    # round-3 ADVICE (medium): INSERT ... SELECT must typecheck as
    # eagerly as VALUES — a count() probe projection-collapses and
    # prunes the casts, so the overflow only surfaced on a later read
    conn.query("CREATE TABLE src AS SELECT 1000::INTEGER AS a")
    conn.query("CREATE TABLE narrow2 (a TINYINT)")
    with pytest.raises(SparkDBError):
        conn.query("INSERT INTO narrow2 SELECT a FROM src")
    # the failed insert must not have corrupted the target
    n = conn.query("SELECT count(*)::INTEGER AS n FROM narrow2")
    assert n.column("n").to_pylist() == [0]
    conn.query("DROP TABLE narrow2")
    conn.query("DROP TABLE src")


def test_insert_with_column_list(conn):
    # reference accepts INSERT INTO t (a, b) VALUES ... (ADVICE r2);
    # named columns map positionally, unnamed ones fill with NULL
    conn.query("CREATE TABLE cl (a INTEGER, b VARCHAR(8), c INTEGER)")
    conn.query("INSERT INTO cl (b, a) VALUES ('x', 1), ('y', 2)")
    rows = conn.query("SELECT a::INTEGER AS a, b, c::INTEGER AS c FROM cl ORDER BY a")
    assert rows.column("a").to_pylist() == [1, 2]
    assert rows.column("b").to_pylist() == ["x", "y"]
    assert rows.column("c").to_pylist() == [None, None]
    with pytest.raises(SparkDBError):
        conn.query("INSERT INTO cl (nope) VALUES (1)")
    conn.query("DROP TABLE cl")


def test_insert_plan_depth_bounded(conn, db, spark):
    # N inserts must not build an N-deep union lineage or an N-partition
    # table: every insert commits one snapshot
    conn.query("CREATE TABLE deep AS SELECT 0::INTEGER AS v")
    for i in range(1, 41):
        conn.query(f"INSERT INTO deep VALUES ({i})")
    df = db._tables["deep"]
    plan = df._jdf.queryExecution().logical().toString()
    assert plan.count("Union") < 16  # not 40-deep
    assert df.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    t = conn.query("SELECT count(*)::INTEGER AS n, sum(v)::INTEGER AS s FROM deep")
    assert t.column("n").to_pylist() == [41]
    assert t.column("s").to_pylist() == [820]
    conn.query("DROP TABLE deep")


def test_api_appends_keep_a_flat_table(conn, db, spark):
    """API appends commit a snapshot like INSERT does: after 40 of them
    the table's plan has no Union and at most one partition per core."""
    conn.insert_arrow_table(pa.table({"v": pa.array([0], pa.int32())}), name="flat")
    for i in range(1, 41):
        batch = pa.table({"v": pa.array([i], pa.int32())})
        conn.insert_arrow_table(batch, name="flat", create=False)
    df = db._tables["flat"]
    assert "Union" not in df._jdf.queryExecution().logical().toString()
    assert df.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    t = conn.query("SELECT count(*)::INTEGER AS n, sum(v)::INTEGER AS s FROM flat")
    assert t.column("n").to_pylist() == [41]
    assert t.column("s").to_pylist() == [820]
    conn.query("DROP TABLE flat")


def test_api_append_casts_to_the_table_schema(conn):
    """An API append casts to the table's column types, so an int64 of
    2^40 into an INTEGER column overflows, as it does in DuckDB, and
    the table keeps its schema and rows."""
    import duckdb

    big = pa.table({"a": pa.array([2**40], pa.int64())})
    duck = duckdb.connect()
    duck.execute("CREATE TABLE narrow3 (a INTEGER)")
    duck.register("big", big)
    with pytest.raises(duckdb.ConversionException):
        duck.execute("INSERT INTO narrow3 SELECT * FROM big")
    conn.query("CREATE TABLE narrow3 (a INTEGER)")
    conn.query("INSERT INTO narrow3 VALUES (1)")
    with pytest.raises(SparkDBError, match=r"^CAST_OVERFLOW"):
        conn.insert_arrow_table(big, name="narrow3", create=False)
    assert conn.query("DESCRIBE narrow3").column("column_type").to_pylist() == ["INTEGER"]
    assert conn.query("SELECT a FROM narrow3").column("a").to_pylist() == [1]
    conn.query("DROP TABLE narrow3")


def test_written_table_is_a_snapshot_of_its_file(conn, db):
    """A table holds the rows it was written with, as in DuckDB: a CSV
    registered again with new content changes neither a CTAS table nor
    an insert_csv_from_path table."""
    import duckdb

    path = db.register_file_text("snap.csv", "a\n1\n2\n")
    duck = duckdb.connect()
    duck.execute(f"CREATE TABLE snap AS SELECT * FROM read_csv_auto('{path}')")
    conn.query("CREATE TABLE snap_ctas AS SELECT * FROM 'snap.csv'")
    conn.insert_csv_from_path("snap.csv", table="snap_api")
    db.register_file_text("snap.csv", "a\n10\n20\n30\n")
    want = duck.execute("SELECT sum(a)::INTEGER AS s FROM snap").fetchall()
    assert want == [(3,)]
    for t in ("snap_ctas", "snap_api"):
        got = conn.query(f"SELECT sum(a)::INTEGER AS s FROM {t}")
        assert got.column("s").to_pylist() == [3], t
        conn.query(f"DROP TABLE {t}")


def test_caller_session_is_never_changed(spark, sf_dir):
    """The database works in its own child session: the caller's confs
    and temp views are exactly as they were while it is open and after
    it closes, and DuckDB's double-quoted identifiers stay inside it."""
    probe = 'SELECT "a" AS x FROM (SELECT 1 AS a)'

    def caller_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    ansi = spark.conf.get("spark.sql.ansi.enabled")
    views = caller_views()
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        db2 = SparkDB(spark=spark)
        c2 = db2.connect()
        c2.query("CREATE TABLE only_in_db AS SELECT 1::INTEGER AS a")
        c2.query("CREATE VIEW only_in_db_v AS SELECT a FROM only_in_db")
        c2.query(f"SELECT count(*) AS n FROM read_parquet('{sf_dir}/region.parquet')")
        assert spark.conf.get("spark.sql.ansi.enabled") == "false"
        assert db2.spark.conf.get("spark.sql.ansi.enabled") == "true"
        assert spark.sql(probe).first().x == "a"
        assert db2.spark.sql(probe).first().x == 1
        assert caller_views() == views
        db2.close()
        assert spark.conf.get("spark.sql.ansi.enabled") == "false"
        assert spark.sql(probe).first().x == "a"
        assert caller_views() == views
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_two_databases_on_one_session_keep_their_own_tables(spark):
    a, b = SparkDB(spark=spark), SparkDB(spark=spark)
    try:
        a.connect().query("CREATE TABLE t AS SELECT 1::INTEGER AS v")
        b.connect().query("CREATE TABLE t AS SELECT 2::INTEGER AS v")
        assert a.connect().query("SELECT v FROM t").column("v").to_pylist() == [1]
        assert b.connect().query("SELECT v FROM t").column("v").to_pylist() == [2]
    finally:
        a.close()
        b.close()


def test_view_matches_duckdb_after_writes(conn):
    """A view is bound when it is queried, as in DuckDB: it sees every
    later INSERT, UPDATE and DELETE on its table."""
    import duckdb

    duck = duckdb.connect()
    probe = "SELECT n::INTEGER AS n, s::INTEGER AS s FROM vlive"
    setup = (
        "CREATE TABLE vbase (x INTEGER)",
        "INSERT INTO vbase VALUES (1), (2)",
        "CREATE VIEW vlive AS SELECT count(*) AS n, sum(x) AS s FROM vbase",
    )
    writes = (
        "INSERT INTO vbase VALUES (3)",
        "UPDATE vbase SET x = x * 10 WHERE x = 2",
        "DELETE FROM vbase WHERE x = 1",
    )
    for stmt in setup + writes:
        conn.query(stmt)
        duck.execute(stmt)
        if stmt in writes:
            want = duck.execute(probe).fetch_arrow_table().to_pylist()
            assert conn.query(probe).to_pylist() == want, stmt
    conn.query("DROP VIEW vlive")
    conn.query("DROP TABLE vbase")


def test_file_view_keeps_its_file(conn, tmp_path):
    """Two files with one base name get two file views, so a view over
    a/x.parquet still reads it after a statement reads b/x.parquet."""
    import pyarrow.parquet as pq

    for d, v in (("a", 1), ("b", 2)):
        (tmp_path / d).mkdir()
        pq.write_table(pa.table({"v": pa.array([v], pa.int32())}), tmp_path / d / "x.parquet")
    conn.query(f"CREATE VIEW xa AS SELECT v FROM read_parquet('{tmp_path}/a/x.parquet')")
    b = conn.query(f"SELECT v FROM read_parquet('{tmp_path}/b/x.parquet')")
    assert b.column("v").to_pylist() == [2]
    assert conn.query("SELECT v FROM xa").column("v").to_pylist() == [1]
    conn.query("DROP VIEW xa")


def test_errors_are_typed(conn):
    """Spark and translator errors surface as SparkDBError: the error
    class, then the first line of its message, the original chained."""
    from pyspark.errors import PySparkException

    with pytest.raises(SparkDBError, match=r"^TABLE_OR_VIEW_NOT_FOUND: The table") as e:
        conn.query("SELECT * FROM no_such_table")
    assert isinstance(e.value.__cause__, PySparkException)
    with pytest.raises(SparkDBError, match=r"^PARSE_SYNTAX_ERROR: Syntax error"):
        conn.query("SELECT 1 +")
    with pytest.raises(SparkDBError, match=r"^ValueError: unsupported ALTER TABLE"):
        conn.query("ALTER TABLE t FROB x")


def test_collect_time_errors_are_typed(conn, db):
    """A task that fails while the Arrow result is collected surfaces as
    SparkDBError with its Spark error class, not as a raw py4j error."""
    path = db.register_file_text("lost.csv", "a\n1\n2\n")
    conn.query("CREATE VIEW lost_v AS SELECT a FROM 'lost.csv'")
    assert conn.query("SELECT sum(a)::INTEGER AS s FROM lost_v").column("s").to_pylist() == [3]
    os.remove(path)
    with pytest.raises(SparkDBError, match=r"^FAILED_READ_FILE"):
        conn.query("SELECT sum(a)::INTEGER AS s FROM lost_v")
    conn.query("DROP VIEW lost_v")


def test_statements_without_rows_start_no_job(conn, spark):
    """DDL returns the empty `ok boolean` table, or a stream of that
    schema with no batches, without running a Spark job."""
    sc = spark.sparkContext
    ok = pa.schema([("ok", pa.bool_())])
    conn.query("CREATE TABLE nj AS SELECT 1::INTEGER AS a")
    sc.setJobGroup("no_rows", "statements with no result rows")
    try:
        dropped = conn.query("DROP TABLE IF EXISTS nope")
        viewed = conn.query("CREATE VIEW nj_v AS SELECT a FROM nj")
        stream = conn.send("DROP VIEW nj_v")
        batches = list(stream)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("no_rows")) == []
    for t in (dropped, viewed):
        assert t.schema == ok and t.num_rows == 0
    assert stream.schema == ok and batches == []
    conn.query("DROP TABLE nj")


def test_stream_schema_matches_query(conn):
    """send() announces the schema query() returns and streams the same
    rows, though executor batches can carry stricter nullability."""
    sql = (
        "SELECT 1.25::DECIMAL(10, 2) AS d, TIMESTAMP '2024-01-02 03:04:05' AS ts, "
        "[v, v + 1] AS xs, v AS n FROM range(3) t(v)"
    )
    want = conn.query(sql)
    stream = conn.send(sql)
    got = pa.Table.from_batches(list(stream), stream.schema)
    assert stream.schema == want.schema
    assert got.equals(want)


def test_create_view(conn):
    conn.query("CREATE TABLE base AS SELECT 5::INTEGER AS x")
    conn.query("CREATE VIEW v5 AS SELECT x * 2 AS y FROM base")
    assert conn.query("SELECT y FROM v5").column("y").to_pylist() == [10]
    conn.query("DROP VIEW v5")
    conn.query("DROP TABLE base")


# -------------------------------------------------- prepared statements
def test_prepared_statements(conn):
    # bindings.test.ts:57-86 / webdb_test.cc:53-68
    stmt = conn.prepare("SELECT v::INTEGER + ? AS v FROM generate_series(0, 2) t(v)")
    t = conn.run_prepared(stmt, 10)
    assert t.column("v").to_pylist() == [10.0, 11.0, 12.0]
    conn.close_prepared(stmt)
    with pytest.raises(SparkDBError):
        conn.run_prepared(stmt, 1)


def test_prepared_stream(conn):
    stmt = conn.prepare("SELECT v::INTEGER AS v FROM generate_series(1, ?) t(v)")
    stream = conn.send_prepared(stmt, 3)
    got = []
    for batch in stream:
        got += batch.column("v").to_pylist()
    assert got == [1.0, 2.0, 3.0]


# ------------------------------------------------------ streaming cursor
def test_send_fetch_cursor(conn):
    stream = conn.send("SELECT v::INTEGER AS v FROM generate_series(0, 2999) t(v)")
    batches = []
    while (b := conn.fetch()) is not None:
        batches.append(b)
    assert sum(b.num_rows for b in batches) == 3000
    assert len(batches) >= 3  # batched pull, not one blob
    with pytest.raises(SparkDBError):
        conn.fetch()  # cursor consumed


def test_cursor_is_arrow_native(conn, monkeypatch):
    # regression for the round-2 finding: the cursor must pull Arrow
    # batches, never materialize per-row Python objects (Row.asDict /
    # Table.from_pylist were the old slow path)
    import pyspark.sql.types as _t

    def _boom(self, recursive=False):
        raise AssertionError("cursor materialized a Row object")

    monkeypatch.setattr(_t.Row, "asDict", _boom)
    stream = conn.send("SELECT v::INTEGER AS v FROM generate_series(0, 2999) t(v)")
    total = sum(b.num_rows for b in stream)
    assert total == 3000


def test_one_cursor_per_connection(conn):
    s1 = conn.send("SELECT 1 AS a")
    s2 = conn.send("SELECT 2 AS a")  # replaces s1 (webdb.h:40-47)
    assert s1._done  # first cursor cancelled
    vals = [b.column("a").to_pylist() for b in s2]
    assert vals == [[2.0]]


# ------------------------------------------------------- file registry
def test_register_and_scan_parquet(conn, db, sf_dir):
    db.register_file_url("region.parquet", f"{sf_dir}/region.parquet")
    t = conn.query(
        "SELECT count(*)::INTEGER AS n FROM parquet_scan('region.parquet')"
    )
    assert t.column("n").to_pylist() == [5]


def test_register_buffer_csv_and_implicit_ref(conn, db):
    db.register_file_text("pets.csv", "name,age\nrex,3\nmia,5\n")
    t = conn.query("SELECT count(*)::INTEGER AS n FROM 'pets.csv'")
    assert t.column("n").to_pylist() == [2]


def _range_http_server(directory):
    """Local http.server that SERVES single byte ranges (206 +
    Content-Range) and logs every request's Range header — the fixture
    the ranged-read gate inspects (reference analogue:
    test/filesystem.test.ts:25-79 against a local server)."""
    import http.server
    import os
    import socketserver
    import threading

    class RangeHandler(http.server.SimpleHTTPRequestHandler):
        requests: list = []

        def __init__(self, *a, **k):
            super().__init__(*a, directory=directory, **k)

        def do_GET(self):
            rng = self.headers.get("Range")
            type(self).requests.append((self.path, rng))
            fpath = self.translate_path(self.path)
            try:
                size = os.path.getsize(fpath)
            except OSError:
                self.send_error(404)
                return
            with open(fpath, "rb") as f:
                if rng and rng.startswith("bytes="):
                    a, _, b = rng[6:].partition("-")
                    lo = int(a)
                    hi = min(int(b) if b else size - 1, size - 1)
                    f.seek(lo)
                    data = f.read(hi - lo + 1)
                    self.send_response(206)
                    self.send_header(
                        "Content-Range", f"bytes {lo}-{hi}/{size}"
                    )
                else:
                    data = f.read()
                    self.send_response(200)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        def log_message(self, *a):  # quiet
            pass

    httpd = socketserver.TCPServer(("127.0.0.1", 0), RangeHandler)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    return httpd, RangeHandler.requests


def test_register_http_url_is_lazy_and_ranged(conn, db, sf_dir):
    """r9 verdict #7: plain-http registration must fetch ZERO bytes
    (the old path staged the whole file eagerly), every byte that IS
    fetched must travel under a Range header (no full GET, matching
    runtime_browser.ts:224-235), and the scan still works after the
    lazy first-use staging."""
    httpd, requests = _range_http_server(sf_dir)
    port = httpd.server_address[1]
    try:
        db.register_file_url(
            "remote.parquet", f"http://127.0.0.1:{port}/region.parquet"
        )
        assert requests == [], "registration must fetch nothing"
        n = conn.query(
            "SELECT count(*)::INTEGER AS n FROM parquet_scan('remote.parquet')"
        ).column("n").to_pylist()
        assert n == [5]
        assert len(requests) >= 1
        assert all(
            rng is not None and rng.startswith("bytes=")
            for _, rng in requests
        ), f"non-ranged request slipped through: {requests}"
    finally:
        httpd.shutdown()
    db.drop_file("remote.parquet")


def test_http_parquet_footer_reads_tail_bytes_only(db, sf_dir):
    """Schema/metadata access over an http-registered parquet must cost
    footer bytes, not the body: with a small chunk size, the ranged
    reader serves pyarrow's ParquetFile footer parse from tail blocks
    and the total bytes fetched stay a small fraction of the file."""
    import os

    import pyarrow.parquet as pq

    from duckdb_wasm_spark.sources.http_range import HttpRangeReader

    httpd, requests = _range_http_server(sf_dir)
    port = httpd.server_address[1]
    try:
        fsize = os.path.getsize(f"{sf_dir}/lineitem.parquet")
        reader = HttpRangeReader(
            f"http://127.0.0.1:{port}/lineitem.parquet", chunk=4096
        )
        pf = pq.ParquetFile(reader)
        assert pf.metadata.num_rows > 0
        assert "l_orderkey" in pf.schema_arrow.names
        fetched = sum(hi - lo + 1 for lo, hi in reader.request_log)
        # pyarrow's footer parse prefetches a FIXED tail window (64 KiB
        # by default) — a constant, not a fraction of the body, so the
        # bound is absolute: tail window + chunk rounding + the 1-byte
        # size probe, and nothing from the body head
        assert fetched <= (64 + 8) * 1024, (
            f"footer read fetched {fetched} of {fsize} bytes — not a "
            f"ranged footer read"
        )
        body_head = [
            (lo, hi)
            for lo, hi in reader.request_log
            if hi > 0 and lo < fsize - 80 * 1024
        ]
        assert body_head == [], (
            f"footer read touched the body head: {body_head}"
        )
        # the session surface hands out the same handle
        db.register_file_url(
            "ltm.parquet", f"http://127.0.0.1:{port}/lineitem.parquet"
        )
        assert db.http_reader("ltm.parquet").request_log == []
        db.drop_file("ltm.parquet")
    finally:
        httpd.shutdown()


def test_glob_and_drop(db):
    db.register_file_text("g1.csv", "a\n1\n")
    db.register_file_text("g2.csv", "a\n2\n")
    assert db.glob_files("g*.csv") == ["g1.csv", "g2.csv"]
    db.drop_file("g1.csv")
    assert db.glob_files("g*.csv") == ["g2.csv"]


# ------------------------------------------------------------ tokenizer
def test_tokenizer_goldens(db):
    # webdb_test.cc:77-79, verbatim
    assert db.tokenize("SELECT 1") == {"offsets": [0, 7], "types": [4, 1]}
    assert db.tokenize("SELECT * FROM region") == {
        "offsets": [0, 7, 9, 14],
        "types": [4, 3, 4, 0],
    }
    assert db.tokenize("SELECT * FROM region, nation") == {
        "offsets": [0, 7, 9, 14, 20, 22],
        "types": [4, 3, 4, 0, 3, 0],
    }


def test_version_and_flags(db):
    assert "duckdb_wasm_spark" in db.get_version()
    assert isinstance(db.get_feature_flags(), int)


# ---------------------------------------------------- ingestion surface
def test_insert_csv_from_path(conn, db):
    db.register_file_text("ins.csv", "a,b\n1,x\n2,y\n")
    conn.insert_csv_from_path("ins.csv", table="ins1")
    assert conn.query("SELECT count(*)::INTEGER AS n FROM ins1").column(
        "n"
    ).to_pylist() == [2]
    # append mode (create=False) unions
    conn.insert_csv_from_path("ins.csv", table="ins1", create=False)
    assert conn.query("SELECT count(*)::INTEGER AS n FROM ins1").column(
        "n"
    ).to_pylist() == [4]
    conn.query("DROP TABLE ins1")


def test_insert_json_and_arrow(conn, db):
    db.register_file_text("rows.json", '[{"a": 1}, {"a": 2}]')
    conn.insert_json_from_path("rows.json", table="j1")
    assert conn.query("SELECT sum(a)::INTEGER AS s FROM j1").column(
        "s"
    ).to_pylist() == [3]
    conn.insert_arrow_table(pa.table({"a": [5, 6]}), name="a1")
    assert conn.query("SELECT sum(a)::INTEGER AS s FROM a1").column(
        "s"
    ).to_pylist() == [11]
    conn.query("DROP TABLE j1")
    conn.query("DROP TABLE a1")


# ----------------------------------------------------- COPY and EXPORT
def test_copy_csv_roundtrip(conn, db, tmp_path):
    # filesystem.test.ts:116-138
    conn.query("CREATE TABLE ct AS SELECT v::INTEGER AS v FROM generate_series(1, 5) t(v)")
    out = str(tmp_path / "out.csv")
    conn.query(f"COPY ct TO '{out}' WITH (HEADER, DELIMITER '|')")
    text = open(out).read()
    assert text.splitlines()[0] == "v"
    assert "|" not in text  # single column — delimiter accepted, unused
    t = conn.query(f"SELECT count(*)::INTEGER AS n FROM 'out.csv'")
    assert t.column("n").to_pylist() == [5]
    conn.query("DROP TABLE ct")


def test_copy_csv_comma_delimiter(conn, db, tmp_path):
    # quoted option values containing a comma must survive option parsing
    conn.query("CREATE TABLE cc AS SELECT 1::INTEGER AS a, 'x' AS b")
    out = str(tmp_path / "comma.csv")
    conn.query(f"COPY cc TO '{out}' (HEADER, DELIMITER ',')")
    assert open(out).read().splitlines() == ["a,b", "1,x"]
    conn.query("DROP TABLE cc")


def test_copy_parquet_roundtrip(conn, db, tmp_path):
    # filesystem.test.ts:139-160
    conn.query("CREATE TABLE cp AS SELECT v::INTEGER AS v FROM generate_series(1, 100) t(v)")
    out = str(tmp_path / "roundtrip.parquet")
    conn.query(f"COPY cp TO '{out}' (FORMAT PARQUET)")
    t = conn.query(
        f"SELECT sum(v)::INTEGER AS s FROM parquet_scan('roundtrip.parquet')"
    )
    assert t.column("s").to_pylist() == [5050]
    conn.query("DROP TABLE cp")


def test_failed_copy_leaves_no_scratch_dir(conn, tmp_path):
    # the cast raises inside the COPY's write; its scratch dir must go too
    def copy_dirs():
        tmp = tempfile.gettempdir()
        return set(
            glob.glob(os.path.join(tmp, "sparkdb_copy_*"))
            + glob.glob(os.path.join(tmp, f"dws-{os.getpid()}", "sparkdb_copy_*"))
        )

    before = copy_dirs()
    conn.query("CREATE VIEW bad_cast AS SELECT CAST(s AS INTEGER) AS a FROM (SELECT 'x' AS s)")
    with pytest.raises(SparkDBError, match="CAST_INVALID_INPUT"):
        conn.query(f"COPY bad_cast TO '{tmp_path / 'out.parquet'}' (FORMAT PARQUET)")
    assert copy_dirs() == before
    assert not (tmp_path / "out.parquet").exists()
    conn.query("DROP VIEW bad_cast")


def test_export_database(conn, db, tmp_path):
    # filesystem.test.ts:183-214
    conn.query("CREATE TABLE ex1 AS SELECT 1::INTEGER AS a")
    conn.query("CREATE TABLE ex2 AS SELECT 'x' AS b")
    out = str(tmp_path / "exported")
    conn.query(f"EXPORT DATABASE '{out}' (FORMAT PARQUET)")
    assert os.path.exists(f"{out}/schema.sql")
    assert os.path.exists(f"{out}/load.sql")
    assert os.path.exists(f"{out}/ex1.parquet")
    assert os.path.exists(f"{out}/ex2.parquet")
    ddl = open(f"{out}/schema.sql").read()
    assert "CREATE TABLE ex1" in ddl
    conn.query("DROP TABLE ex1")
    conn.query("DROP TABLE ex2")


# ---------------------------------------------------- reset + file stats
def test_file_statistics(conn, db, sf_dir):
    db.register_file_url("stats.parquet", f"{sf_dir}/region.parquet")
    db.collect_file_statistics("stats.parquet", True)
    conn.query("SELECT count(*) AS n FROM parquet_scan('stats.parquet')")
    conn.query("SELECT count(*) AS n FROM parquet_scan('stats.parquet')")
    st = db.export_file_statistics("stats.parquet")
    assert st["reads"] == 2 and st["bytes"] > 0
    db.collect_file_statistics("stats.parquet", False)
    conn.query("SELECT 1 FROM parquet_scan('stats.parquet')")
    assert db.export_file_statistics("stats.parquet")["reads"] == 2


def test_reset(spark):
    db2 = SparkDB(spark=spark)
    c = db2.connect()
    c.query("CREATE TABLE rt AS SELECT 1 AS a")
    db2.register_file_text("r.csv", "a\n1\n")
    db2.reset()
    assert db2.list_tables() == []
    assert db2.glob_files("*") == []
    db2.close()


def test_close_removes_the_buffer_staging_dir(spark):
    db2 = SparkDB(spark=spark)
    staged = db2.register_file_buffer("b.csv", b"a\n1\n")
    staging_dir = os.path.dirname(staged)
    db2.reset()  # reset keeps the directory: the database stays open
    assert os.path.isdir(staging_dir)
    db2.register_file_buffer("b.csv", b"a\n2\n")
    assert db2.connect().query("SELECT a FROM 'b.csv'").column("a").to_pylist() == [2]
    db2.close()
    assert not os.path.exists(staging_dir)


def test_staging_dir_is_made_on_first_buffer(spark):
    def staging_dirs():
        root = os.path.join(tempfile.gettempdir(), f"dws-{os.getpid()}")
        return set(glob.glob(os.path.join(root, "sparkdb_files_*")))

    before = staging_dirs()
    db2 = SparkDB(spark=spark)
    assert db2.connect().query("SELECT 1 AS a").column("a").to_pylist() == [1]
    assert staging_dirs() == before  # nothing staged, nothing made
    staging_dir = os.path.dirname(db2.register_file_buffer("c.csv", b"a\n1\n"))
    assert staging_dirs() == before | {staging_dir}
    db2.close()
    assert staging_dirs() == before


# --------------------------------------- batch-stream type matrix
# (batch_stream.test.ts:23-283: typed streamed results, value-exact)
@pytest.mark.parametrize(
    "sql,mask",
    [
        ("SELECT (v & 127)::TINYINT AS v FROM generate_series(0, 10000) t(v)", 127),
        ("SELECT (v & 32767)::SMALLINT AS v FROM generate_series(0, 10000) t(v)", 32767),
        ("SELECT v::INTEGER AS v FROM generate_series(0, 10000) t(v)", -1),
        ("SELECT v::BIGINT AS v FROM generate_series(0, 10000) t(v)", -1),
    ],
    ids=["tinyint", "smallint", "integer", "bigint"],
)
def test_batch_stream_typed(conn, sql, mask):
    i = 0
    for batch in conn.send(sql):
        assert batch.num_columns == 1
        for v in batch.column("v").to_pylist():
            want = i if mask < 0 else (i & mask)
            assert v == want, (i, v)
            i += 1
    assert i == 10001


def test_batch_stream_varchar(conn):
    got = []
    for batch in conn.send(
        "SELECT v::VARCHAR AS v FROM generate_series(0, 2000) t(v)"
    ):
        got += batch.column("v").to_pylist()
    assert got == [str(i) for i in range(2001)]


def test_insert_json_explicit_shape_and_columns(conn, db):
    # insert_json.test.ts 'options_1': forced ROW_ARRAY + typed columns,
    # utf8 column keeps numbers as strings
    db.register_file_text(
        "opt1.json", '[{"a":1,"b":2,"c":3},{"a":4,"b":5,"c":6},{"a":7,"b":8,"c":9}]'
    )
    conn.insert_json_from_path(
        "opt1.json",
        table="opt1",
        shape="rows",
        columns={"a": "int16", "b": "int32", "c": "utf8"},
    )
    t = conn.query("SELECT * FROM opt1")
    assert t.column("c").to_pylist() == ["3", "6", "9"]
    conn.query("DROP TABLE opt1")


def test_query_ipc_roundtrip(conn):
    import pyarrow as pa

    ipc = conn.query_ipc("SELECT v::INTEGER AS v FROM generate_series(1, 5) t(v)")
    with pa.ipc.open_stream(ipc) as r:
        t = r.read_all()
    assert t.column("v").to_pylist() == [1, 2, 3, 4, 5]


def test_connection_close(db):
    c = db.connect()
    c.send("SELECT 1 AS a")
    stmt = c.prepare("SELECT 1 AS a")
    c.close()
    with pytest.raises(SparkDBError):
        c.fetch()
    with pytest.raises(SparkDBError):
        c.run_prepared(stmt)


def test_update_and_delete(conn):
    # the reference engine (full DuckDB SQL) accepts UPDATE/DELETE; the
    # session rewrites the registered table's plan functionally
    conn.query("CREATE TABLE ud (k INTEGER, v VARCHAR(8), n INTEGER)")
    conn.query("INSERT INTO ud VALUES (1, 'a', 10), (2, 'b', 20), (3, NULL, 30)")
    conn.query("UPDATE ud SET n = n + 1, v = coalesce(v, 'z') WHERE k >= 2")
    rows = conn.query("SELECT k::INTEGER k, v, n::INTEGER n FROM ud ORDER BY k")
    assert rows.column("v").to_pylist() == ["a", "b", "z"]
    assert rows.column("n").to_pylist() == [10, 21, 31]
    # NULL predicate: three-valued logic keeps the row untouched
    conn.query("UPDATE ud SET n = 0 WHERE n / nullif(k - 1, 0) > 100")
    assert sorted(
        conn.query("SELECT n::INTEGER n FROM ud").column("n").to_pylist()
    ) == [10, 21, 31]
    conn.query("DELETE FROM ud WHERE v = 'z'")
    rows = conn.query("SELECT k::INTEGER k FROM ud ORDER BY k")
    assert rows.column("k").to_pylist() == [1, 2]
    # unfiltered DELETE empties but keeps the schema
    conn.query("DELETE FROM ud")
    empty = conn.query("SELECT * FROM ud")
    assert empty.num_rows == 0 and empty.column_names == ["k", "v", "n"]
    conn.query("DROP TABLE ud")


def test_update_where_inside_set_subquery(conn):
    # round-3 ADVICE (low): a WHERE inside a SET-expression subquery or
    # string literal must not be mistaken for the statement's WHERE —
    # the boundary is now located paren/quote-aware
    conn.query("CREATE TABLE usq (id INTEGER, a INTEGER)")
    conn.query("INSERT INTO usq VALUES (1, 0), (2, 0)")
    conn.query("CREATE TABLE uref (x INTEGER, y INTEGER)")
    conn.query("INSERT INTO uref VALUES (7, 1), (9, 1), (5, 2)")
    conn.query(
        "UPDATE usq SET a = (SELECT max(x) FROM uref WHERE y = 1) "
        "WHERE id = 2"
    )
    rows = conn.query("SELECT id::INTEGER id, a::INTEGER a FROM usq ORDER BY id")
    assert rows.column("a").to_pylist() == [0, 9]
    # WHERE inside a string literal in an assignment
    conn.query("CREATE TABLE ustr (id INTEGER, s VARCHAR(32))")
    conn.query("INSERT INTO ustr VALUES (1, ''), (2, '')")
    conn.query("UPDATE ustr SET s = 'no where here' WHERE id = 1")
    rows = conn.query("SELECT s FROM ustr ORDER BY id")
    assert rows.column("s").to_pylist() == ["no where here", ""]
    for t in ("usq", "uref", "ustr"):
        conn.query(f"DROP TABLE {t}")


def test_qualify_quoted_identifier_and_literal_exclude(conn):
    # round-3 ADVICE (low): the top-level keyword scanner must skip
    # double-quoted identifiers ("order" must not end a QUALIFY tail)
    # and the EXCLUDE star-sugar rewrite must not fire inside literals
    conn.query('CREATE TABLE qq (k INTEGER, "order" INTEGER)')
    conn.query("INSERT INTO qq VALUES (1, 10), (1, 20), (2, 5)")
    rows = conn.query(
        'SELECT k::INTEGER k, "order"::INTEGER o FROM qq '
        'QUALIFY row_number() OVER (PARTITION BY k ORDER BY "order" DESC) = 1 '
        "ORDER BY k"
    )
    assert rows.column("o").to_pylist() == [20, 5]
    lit = conn.query("SELECT '* EXCLUDE (a)' AS s")
    assert lit.column("s").to_pylist() == ["* EXCLUDE (a)"]
    # -- comment containing a keyword must not terminate the scan
    rows = conn.query(
        "SELECT k::INTEGER k FROM qq -- where order limit\nGROUP BY k ORDER BY k"
    )
    assert rows.column("k").to_pylist() == [1, 2]
    conn.query("DROP TABLE qq")


def test_update_strict_typecheck(conn):
    conn.query("CREATE TABLE uds (a TINYINT)")
    conn.query("INSERT INTO uds VALUES (1)")
    with pytest.raises(SparkDBError):
        conn.query("UPDATE uds SET a = 1000")
    with pytest.raises(SparkDBError):
        conn.query("UPDATE uds SET nope = 1")
    with pytest.raises(SparkDBError):
        conn.query("DELETE FROM missing_table WHERE 1 = 1")
    conn.query("DROP TABLE uds")


def test_truncate_describe_alter(conn):
    conn.query("CREATE TABLE tda (a INTEGER, b VARCHAR(8))")
    conn.query("INSERT INTO tda VALUES (1, 'x'), (2, 'y')")
    # DESCRIBE: DuckDB-spelled types
    d = conn.query("DESCRIBE tda")
    assert d.column("column_name").to_pylist() == ["a", "b"]
    assert d.column("column_type").to_pylist() == ["INTEGER", "VARCHAR"]
    # ALTER: add (null-filled), rename column, drop, rename table
    conn.query("ALTER TABLE tda ADD COLUMN c DOUBLE")
    assert conn.query("SELECT c FROM tda").column("c").to_pylist() == [None, None]
    conn.query("ALTER TABLE tda RENAME COLUMN c TO z")
    conn.query("ALTER TABLE tda DROP COLUMN z")
    assert conn.query("SELECT * FROM tda").column_names == ["a", "b"]
    conn.query("ALTER TABLE tda RENAME TO tda2")
    assert conn.query("SELECT count(*) n FROM tda2").column("n").to_pylist() == [2]
    with pytest.raises(SparkDBError):
        conn.query("ALTER TABLE tda2 DROP COLUMN nope")
    with pytest.raises(SparkDBError):
        conn.query("ALTER TABLE tda2 ADD COLUMN a INTEGER")
    # TRUNCATE empties, keeps schema
    conn.query("TRUNCATE tda2")
    t = conn.query("SELECT * FROM tda2")
    assert t.num_rows == 0 and t.column_names == ["a", "b"]
    conn.query("DROP TABLE tda2")


def test_qualify_rewrite(conn):
    # DuckDB QUALIFY sugar → projected predicate + * EXCEPT filter
    conn.query("CREATE TABLE q (k INTEGER, v INTEGER)")
    conn.query("INSERT INTO q VALUES (1, 10), (1, 20), (2, 5), (2, 7)")
    t = conn.query(
        "SELECT k, v FROM q "
        "QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC) = 1 "
        "ORDER BY k"
    )
    assert t.column_names == ["k", "v"]
    assert t.column("v").to_pylist() == [20, 7]
    # with WHERE + LIMIT tail
    t2 = conn.query(
        "SELECT k, v FROM q WHERE v > 5 "
        "QUALIFY rank() OVER (ORDER BY v DESC) <= 2 ORDER BY v DESC LIMIT 1"
    )
    assert t2.column("v").to_pylist() == [20]
    # DISTINCT applies after the QUALIFY filter, as in DuckDB
    t3 = conn.query(
        "SELECT DISTINCT k FROM q "
        "QUALIFY row_number() OVER (ORDER BY k) = 1"
    )
    assert t3.column("k").to_pylist() == [1]
    conn.query("DROP TABLE q")


def test_exclude_rewrite(conn):
    conn.query("CREATE TABLE ex (a INTEGER, b INTEGER, c INTEGER)")
    conn.query("INSERT INTO ex VALUES (1, 2, 3)")
    t = conn.query("SELECT * EXCLUDE (b) FROM ex")
    assert t.column_names == ["a", "c"]
    conn.query("DROP TABLE ex")


def test_qualify_with_cte(conn):
    # the rewrite wraps the whole head (including WITH) in a subquery;
    # Spark accepts CTEs inside subqueries, so this composes
    conn.query("CREATE TABLE qc2 (k INTEGER, v INTEGER)")
    conn.query("INSERT INTO qc2 VALUES (1, 10), (1, 20), (2, 5)")
    t = conn.query(
        "WITH big AS (SELECT k, v FROM qc2 WHERE v > 4) "
        "SELECT k, v FROM big "
        "QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC) = 1 "
        "ORDER BY k"
    )
    assert t.column("v").to_pylist() == [20, 5]
    conn.query("DROP TABLE qc2")
