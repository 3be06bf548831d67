"""COPY TO / EXPORT DATABASE sinks (ref engine COPY surface exercised by
packages/duckdb-wasm/test/filesystem.test.ts:116-214: CSV with
HEADER/DELIMITER, parquet, EXPORT DATABASE with schema.sql + load.sql).

The reference writes ONE file at the target path; Spark natively writes
a directory of part files. copy_to() keeps the reference contract:
single-partition write to a `scratch.scratch_dir`, then the lone part
file moves to the requested path (driver-local rename, no data through
the driver); the scratch dir goes whether or not the write succeeds.
At cluster scale a single output file is itself the bottleneck — the
directory form (`spark_write_dir` option) keeps the parallel layout.
"""

from __future__ import annotations

import glob as _glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from duckdb_wasm_spark.scratch import scratch_dir


def _spark_sql_type(dt: T.DataType) -> str:
    return dt.simpleString().upper()


def copy_to(df: DataFrame, path: str, options: dict, db=None) -> None:
    """COPY <source> TO '<path>' (options). Options (case-insensitive
    keys): format csv|parquet (default: by extension), header, delimiter."""
    fmt = options.get("format", "").lower() or (
        "parquet" if path.lower().endswith(".parquet") else "csv"
    )
    if options.get("spark_write_dir"):
        # cluster-scale path: parallel directory write, no coalesce
        writer = df.write.mode("overwrite")
        if fmt == "parquet":
            writer.parquet(path)
        else:
            writer.option(
                "header", str(options.get("header", "false")).lower()
            ).option("sep", options.get("delimiter", ",")).csv(path)
        return

    if fmt == "parquet":
        write_one_file(df, path)
    elif fmt == "csv":
        header = str(options.get("header", "false")).lower() in ("true", "1", "")
        sep = options.get("delimiter", ",")
        write_one_file(df, path, "csv", header=str(header).lower(), sep=sep)
    else:
        raise ValueError(f"unsupported COPY format: {fmt}")
    if db is not None:
        db.register_file_url(os.path.basename(path), path)


def write_one_file(df: DataFrame, path: str, fmt: str = "parquet", **options) -> None:
    """Write `df` as the single `fmt` file `path`, with writer `options`."""
    tmp = scratch_dir("sparkdb_copy_")
    try:
        df.coalesce(1).write.mode("overwrite").options(**options).format(fmt).save(tmp)
        part = _glob.glob(os.path.join(tmp, f"part-*.{fmt}"))[0]
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        shutil.move(part, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def export_database(db, out_dir: str, fmt: str = "csv") -> None:
    """EXPORT DATABASE '<dir>' [(FORMAT PARQUET)] — every table written
    as <dir>/<name>.<ext> plus schema.sql (CREATE TABLE DDL) and
    load.sql (COPY statements), matching filesystem.test.ts:183-214."""
    fmt = (fmt or "csv").lower()
    ext = "parquet" if fmt == "parquet" else "csv"
    os.makedirs(out_dir, exist_ok=True)
    schema_lines, load_lines = [], []
    for name in sorted(db._tables):
        df = db._tables[name]
        target = os.path.join(out_dir, f"{name}.{ext}")
        opts = {"format": fmt}
        if fmt == "csv":
            opts["header"] = "true"
        copy_to(df, target, opts, db)
        cols = ", ".join(
            f"{f.name} {_spark_sql_type(f.dataType)}" for f in df.schema
        )
        schema_lines.append(f"CREATE TABLE {name} ({cols});")
        if fmt == "parquet":
            load_lines.append(
                f"COPY {name} FROM '{target}' (FORMAT 'parquet');"
            )
        else:
            load_lines.append(f"COPY {name} FROM '{target}' (HEADER);")
    with open(os.path.join(out_dir, "schema.sql"), "w") as f:
        f.write("\n".join(schema_lines) + "\n")
    with open(os.path.join(out_dir, "load.sql"), "w") as f:
        f.write("\n".join(load_lines) + "\n")
    db.register_file_url(os.path.join(out_dir, "schema.sql"), os.path.join(out_dir, "schema.sql"))
    db.register_file_url(os.path.join(out_dir, "load.sql"), os.path.join(out_dir, "load.sql"))
