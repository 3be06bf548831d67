"""duckdb_wasm_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the duckdb-wasm reference (see SURVEY.md).

Architecture (Spark-first, not a port):
  - ``session``    WebDB-shaped API (SparkDB/Connection) over a SparkSession:
                   query / send+fetch cursor / prepared statements / file
                   registry / tokenizer (reference: lib/src/webdb.cc).
  - ``dialect``    DuckDB→Spark SQL translation: DuckDB's own parser reads
                   each query and an emitter writes Spark SQL from its
                   SELECT tree; PRAGMA, COPY, EXPORT and DDL dispatch by
                   statement head; DuckDB's tokenizer (SURVEY §4.2).
  - ``writers``    COPY TO csv/parquet single-file sinks + EXPORT DATABASE.
  - ``sources``    CSV option surface, JSON (row-array + column-object with
                   the inference lattice), Arrow ingestion, type-name
                   grammar (reference lib/src/json_*.cc, csv_*.cc).
  - ``plans``      the query corpus: adapted TPC-H q1–q22 (plans.tpch) and
                   the system micro-benchmarks (plans.micro).
  - ``operators``  LLM-data-pipeline extensions: dedup (exact / n-gram
                   Jaccard / MinHash-LSH / SimHash / embedding LSH),
                   similarity search (brute-force + IVF), text analysis,
                   multimodal binary-column plumbing.
  - ``streaming``  Structured Streaming over the events table (planned —
                   not yet on disk).

Everything is DataFrame/Spark-SQL declarative so Catalyst does pushdown,
pruning, join selection, and AQE; Python appears only where built-ins
cannot express the semantics (and then as Arrow-batched pandas UDFs).
"""

from duckdb_wasm_spark.tables import TABLES, load_table, load_tables

__all__ = ["TABLES", "load_table", "load_tables", "SparkDB"]
__version__ = "0.2.0"


def __getattr__(name):
    if name == "SparkDB":  # lazy: avoid importing pyspark at package import
        from duckdb_wasm_spark.session import SparkDB

        return SparkDB
    raise AttributeError(name)
