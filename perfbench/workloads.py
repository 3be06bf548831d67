"""The benchmark's three workloads.

Each workload receives only generated inputs (see `datagen`; a workload
with `draws_inputs` also draws its statements and parameters from the
seeded generator), computes what every operation must return with DuckDB
before Spark starts, and exposes its operations as a list of `Op`s that
one closed-loop client runs in order. An op's `run(tracer)` returns the
value `check` compares against the expected result.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import check
import datagen


@dataclass
class Op:
    name: str
    kind: str  # read | write | stream | reset
    run: Callable[[Any], Any]
    check: Callable[[Any], bool] | None = None
    stats: dict = field(default_factory=dict)


def maybe_span(tracer, name: str, layer: str):
    return tracer.span(name, layer) if tracer is not None else contextlib.nullcontext()


def _duck(data_dir: str, *tables: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _open_db(spark, data_dir: str, tables) -> tuple:
    """SparkDB + Connection with `tables` registered the way a user
    registers files: a named file plus a view over read_parquet."""
    from duckdb_wasm_spark.session import SparkDB

    db = SparkDB(spark, config={"emitBigInt": True})
    con = db.connect()
    for t in tables:
        db.register_file_url(f"{t}.parquet", f"{data_dir}/{t}.parquet")
        con.query(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{t}.parquet')")
    return db, con


# --------------------------------------------------------------- tpch_sql
class TpchSql:
    """The 22 TPC-H DuckDB-dialect texts through Connection.query().

    Runnable by hand; not in BENCHMARK.json (see README.md)."""

    name = "tpch_sql"
    sf = 0.005
    nominal_pass_s = 10.0
    draws_inputs = False
    op_layer = "session"
    checkpoint_layer = "session"
    tables = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

    def __init__(self, data_dir: str, work_dir: str):
        from duckdb_wasm_spark.plans.tpch import ORACLE

        self.data_dir = data_dir
        self.sql = dict(ORACLE)
        duck = _duck(data_dir, *self.tables)
        self.expected = {n: check.duck_frame(duck, s) for n, s in self.sql.items()}
        duck.close()

    def setup(self, spark) -> None:
        self.db, self.con = _open_db(spark, self.data_dir, self.tables)
        self.con.query("SELECT count(*) AS n FROM region")

    def ops(self) -> list[Op]:
        return [
            Op(n, "read", lambda tr, s=s: self.con.query(s),
               lambda t, n=n: check.same(check.arrow_frame(t), self.expected[n]))
            for n, s in self.sql.items()
        ]


# ---------------------------------------------------------------- llm_ops
LLM_SLICE = (
    "dedup_jaccard_prefix",    # operators: exact-Jaccard pair join
    "sketch_hll_distinct",     # operators: single-pass sketch
    "graph_pagerank",          # artifacts: persisted graph edge store
    "text_bm25_topk",          # artifacts: persisted inverted index
    "dedup_semdedup",          # artifacts: persisted cluster assignment
    "events_stream_stateful",  # streaming: AvailableNow micro-batches
)
# the slice ops whose plans read persisted artifacts
STORE_USERS = ("dedup_jaccard_prefix", "graph_pagerank", "text_bm25_topk", "dedup_semdedup")


class LlmOps:
    """A registry slice timed as fn(spark, sf_dir) then .collect().

    Set-up fills the run's empty artifact store by building the plan of
    every op that reads artifacts once on a second session of the same
    context; the ops then run on a session whose memos are empty, so the
    cold pass reloads the artifacts from disk and the warm passes hit
    the session memos."""

    name = "llm_ops"
    sf = 0.001
    nominal_pass_s = 5.0
    draws_inputs = False
    op_layer = "bench"
    checkpoint_layer = "operators"

    def __init__(self, data_dir: str, work_dir: str):
        from duckdb_wasm_spark.operators import registry
        from duckdb_wasm_spark.streaming import windows
        from duckdb_wasm_spark.tables import TABLES

        queries = {**registry.QUERIES, **windows.QUERIES}
        oracle = {**registry.ORACLE, **windows.ORACLE}
        self.data_dir = data_dir
        self.fns = {n: queries[n] for n in LLM_SLICE}
        duck = _duck(data_dir, *TABLES)
        self.expected = {n: check.duck_frame(duck, oracle[n]) for n in LLM_SLICE}
        duck.close()

    def setup(self, spark) -> None:
        from duckdb_wasm_spark.tables import load_table

        self.spark = spark
        load_table(spark, self.data_dir, "documents").count()
        builder = spark.newSession()
        for n in STORE_USERS:
            self.fns[n](builder, self.data_dir)

    def _run(self, tracer, fn):
        with maybe_span(tracer, "build", "operators"):
            df = fn(self.spark, self.data_dir)
        if tracer is not None:
            with tracer.span("optimize", "catalyst"):
                df._jdf.queryExecution().executedPlan()
        with maybe_span(tracer, "collect", "egress"):
            rows = df.collect()
        return rows, df.columns

    def ops(self) -> list[Op]:
        return [
            Op(n, "read", lambda tr, fn=fn: self._run(tr, fn),
               lambda r, n=n: check.same(check.rows_frame(*r), self.expected[n]))
            for n, fn in self.fns.items()
        ]


# ------------------------------------------------------------- api_ingest
DDL = "(id BIGINT, grp INTEGER, qty INTEGER, price DOUBLE, day DATE)"
INSERT_BATCHES = 17  # one more than the session's 16-deep compaction
INSERT_ROWS = 40
BULK_ROWS = 2000
RANGE_QUERIES = 8
STREAM_SQL = "SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice FROM lineitem"
RANGE_SQL = "SELECT count(*) AS n, CAST(sum(qty) AS BIGINT) AS s FROM t WHERE id BETWEEN ? AND ?"
AGG_SQL = (
    "SELECT grp, count(*) AS n, CAST(sum(qty) AS BIGINT) AS s, min(price) AS lo, "
    "max(price) AS hi, min(day) AS first_day FROM t GROUP BY grp"
)


def _values_sql(rows: pa.Table) -> str:
    vals = ", ".join(
        f"({r['id']}, {r['grp']}, {r['qty']}, {r['price']!r}, DATE '{r['day']}')"
        for r in rows.to_pylist()
    )
    return f"INSERT INTO t VALUES {vals}"


class ApiIngest:
    """Writes beside reads through the public Connection API."""

    name = "api_ingest"
    sf = 0.01
    nominal_pass_s = 12.0
    draws_inputs = True
    op_layer = "session"
    checkpoint_layer = "session"

    def __init__(self, data_dir: str, work_dir: str, rng: np.random.Generator):
        self.data_dir = data_dir
        self.work_dir = work_dir
        n_ins = INSERT_BATCHES * INSERT_ROWS
        self.inserts = [
            _values_sql(datagen.ingest_rows(rng, INSERT_ROWS, i * INSERT_ROWS))
            for i in range(INSERT_BATCHES)
        ]
        self.arrow_rows = datagen.ingest_rows(rng, BULK_ROWS, n_ins)
        csv_rows = datagen.ingest_rows(rng, BULK_ROWS, n_ins + BULK_ROWS)
        self.csv_text = "id,grp,qty,price,day\n" + "".join(
            f"{r['id']},{r['grp']},{r['qty']},{r['price']!r},{r['day']}\n"
            for r in csv_rows.to_pylist()
        )
        total = n_ins + 2 * BULK_ROWS
        self.update_sql = f"UPDATE t SET qty = qty + 1 WHERE grp = {int(rng.integers(0, 16))}"
        self.delete_sql = f"DELETE FROM t WHERE qty < {int(rng.integers(2, 10))}"
        self.ranges = []
        for _ in range(RANGE_QUERIES):
            lo = int(rng.integers(0, total))
            self.ranges.append((lo, lo + int(rng.integers(50, 1500))))

        duck = _duck(data_dir, "lineitem")
        duck.execute(f"CREATE TABLE t {DDL}")
        for sql in self.inserts:
            duck.execute(sql)
        duck.register("bulk_a", self.arrow_rows)
        duck.register("bulk_c", csv_rows)
        duck.execute("INSERT INTO t SELECT * FROM bulk_a")
        duck.execute("INSERT INTO t SELECT * FROM bulk_c")
        duck.execute(self.update_sql)
        duck.execute(self.delete_sql)
        self.want_ranges = [check.duck_frame(duck, RANGE_SQL, r) for r in self.ranges]
        self.want_agg = check.duck_frame(duck, AGG_SQL)
        self.want_table = check.duck_frame(duck, "SELECT * FROM t")
        self.want_stream = check.duck_frame(duck, STREAM_SQL)
        duck.close()

    def setup(self, spark) -> None:
        self.db, self.con = _open_db(spark, self.data_dir, ("lineitem",))
        self.db.register_file_text("bulk.csv", self.csv_text)
        self.range_stmt = self.con.prepare(RANGE_SQL)
        self.con.query("SELECT count(*) AS n FROM lineitem")
        self.copies = 0

    def _stream(self, tracer, op: Op):
        t0 = time.perf_counter()
        self.con.send(STREAM_SQL)
        batches = []
        while (b := self.con.fetch()) is not None:
            if not batches:
                op.stats["first_batch_ms"] = (time.perf_counter() - t0) * 1000.0
            batches.append(b)
        wall = time.perf_counter() - t0
        table = pa.Table.from_batches(batches)
        op.stats["rows_per_s"] = table.num_rows / wall
        op.stats["batches"] = len(batches)
        op.stats["bytes"] = table.nbytes
        return table

    def _copy(self, tracer, op: Op):
        self.copies += 1
        path = os.path.join(self.work_dir, f"copy_{self.copies}.parquet")
        self.con.query(f"COPY t TO '{path}' (FORMAT PARQUET)")
        op.stats["bytes_written"] = os.path.getsize(path)
        table = pq.read_table(path)
        os.remove(path)
        return table

    def _reset(self, tracer):
        self.con.query("DROP TABLE IF EXISTS t")
        self.con.query(f"CREATE TABLE t {DDL}")

    def ops(self) -> list[Op]:
        con = self.con
        ops = [Op("reset", "reset", self._reset)]
        ops += [
            Op(f"insert_{i}", "write", lambda tr, s=s: con.query(s))
            for i, s in enumerate(self.inserts)
        ]
        ops += [
            Op("insert_arrow", "write",
               lambda tr: con.insert_arrow_table(self.arrow_rows, name="t", create=False),
               stats={"ingest_rows": BULK_ROWS}),
            Op("insert_csv", "write",
               lambda tr: con.insert_csv_from_path("bulk.csv", table="t", create=False),
               stats={"ingest_rows": BULK_ROWS}),
            Op("update", "write", lambda tr: con.query(self.update_sql)),
            Op("delete", "write", lambda tr: con.query(self.delete_sql)),
        ]
        ops += [
            Op(f"range_{i}", "read",
               lambda tr, r=r: con.run_prepared(self.range_stmt, *r),
               lambda t, w=w: check.same(check.arrow_frame(t), w))
            for i, (r, w) in enumerate(zip(self.ranges, self.want_ranges))
        ]
        ops.append(Op("aggregate", "read", lambda tr: con.query(AGG_SQL),
                      lambda t: check.same(check.arrow_frame(t), self.want_agg)))
        ops.append(Op("read_table", "read", lambda tr: con.query("SELECT * FROM t"),
                      lambda t: check.same(check.arrow_frame(t), self.want_table)))
        stream = Op("stream", "stream", None,
                    lambda t: check.same(check.arrow_frame(t), self.want_stream))
        copy = Op("copy", "write", None,
                  lambda t: check.same(check.arrow_frame(t), self.want_table))
        stream.run = lambda tr: self._stream(tr, stream)
        copy.run = lambda tr: self._copy(tr, copy)
        return ops + [stream, copy]


WORKLOADS = {w.name: w for w in (TpchSql, LlmOps, ApiIngest)}
