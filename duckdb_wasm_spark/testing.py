"""Parity harness replicating the driver's correctness gate: run a Spark
DataFrame and a DuckDB oracle SQL over the same parquet tables, compare
row count, column names, and (order-insensitively) exact values.

Stricter than the driver (exact float equality) — the query corpus is
engineered to be float-deterministic (see plans/_util.py), so exact match
is achievable and anything less hides bugs.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from duckdb_wasm_spark.tables import TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with every test table registered as a view —
    mirrors the driver's pre-registered views."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        dt = pdf[c].dtype
        if str(dt).startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]").astype(str)
        elif dt == object:
            # a null in an object column arrives as None from Spark but
            # as float NaN from DuckDB (e.g. a NULL boolean) — same value
            pdf[c] = pdf[c].map(
                lambda v: "<null>"
                if v is None or (isinstance(v, float) and v != v)
                else str(v)
            )
    if len(pdf.columns):
        pdf = pdf.sort_values(
            by=list(pdf.columns), kind="mergesort", na_position="last"
        ).reset_index(drop=True)
    return pdf


def _family(col: pd.Series) -> str:
    """Collapse a pandas dtype to the family the driver's typed hash
    distinguishes: integer widths merge, date/datetime merge (Spark
    DateType arrives as object-of-datetime.date, DuckDB DATE as
    datetime64 — both driver-green), but int vs float stays distinct
    (the HUGEINT→float64 failure class)."""
    import datetime

    k = col.dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "M":
        return "datetime"
    if k == "O":
        first = next((v for v in col if v is not None), None)
        if first is None:
            # all-NULL object column: the value kind is unknowable, so
            # it matches ANY family (Spark DateType arrives as object
            # while DuckDB DATE lands datetime64; on an empty/all-NULL
            # result the two would otherwise raise a spurious family
            # mismatch)
            return "any"
        if isinstance(first, (datetime.date, datetime.datetime)):
            return "datetime"
        return "object"
    return {"b": "bool", "m": "timedelta"}.get(k, k)


def assert_parity(sdf, sql: str, con: duckdb.DuckDBPyConnection, name: str = "?"):
    sp_raw = sdf.toPandas()
    du_raw = con.execute(sql).df()
    # compare the ORIGINAL column order first (the driver sorts columns
    # before hashing, but a SELECT-order mismatch is a query bug)
    assert list(sp_raw.columns) == list(du_raw.columns), (
        f"{name}: column order mismatch spark={list(sp_raw.columns)} "
        f"duck={list(du_raw.columns)}"
    )
    # Typed-hash replica: the driver's value hash is FAMILY-sensitive,
    # not width-sensitive — int32 Spark vs a BIGINT oracle hashes
    # green, and DATE columns are green even though Spark lands them as
    # object-of-date while DuckDB lands datetime64. But a DuckDB
    # HUGEINT column (sum(integer) → int128) lands in pandas as FLOAT64
    # while Spark emits int64, and equal values hash differently.
    # Mirror that:
    # the type FAMILY of every column must match before any value
    # normalization. A bare integer sum() in an oracle must be
    # cast(... as bigint) (cf. plans/tpch.py q11).
    for c in sp_raw.columns:
        sf, df = _family(sp_raw[c]), _family(du_raw[c])
        if "any" in (sf, df):
            continue  # an all-NULL object column matches any family
        assert sf == df, (
            f"{name}.{c}: physical-family mismatch "
            f"spark={sp_raw[c].dtype}({sf}) duck={du_raw[c].dtype}({df}) "
            f"— if the oracle column is a bare integer sum(), DuckDB "
            f"types it HUGEINT (pandas float64) and the driver's typed "
            f"hash will fail; cast(... as bigint)"
        )
    sp = _normalize(sp_raw)
    du = _normalize(du_raw)
    assert len(sp) == len(du), f"{name}: rowcount spark={len(sp)} duck={len(du)}"
    pd.testing.assert_frame_equal(
        sp, du, check_dtype=False, check_exact=True, obj=name
    )

