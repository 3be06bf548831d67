"""Order-insensitive, type-family comparison of query results.

Both sides are reduced with the normalization the package's parity
harness uses (`duckdb_wasm_spark.testing`): columns in sorted order,
datetimes and objects as text, and each column tagged with its type
family (int widths merge, int and float stay apart). Rows are then
sorted by the non-float columns first, so float noise cannot reorder
them. Float columns match within a relative `REL_TOL`: Spark and DuckDB
may round the last of twelve decimals differently (seen on
`text_bm25_topk` scores); every other column must match exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from duckdb_wasm_spark.testing import _family, _normalize

REL_TOL = 1e-9


def _prepared(pdf: pd.DataFrame) -> tuple[pd.DataFrame, dict]:
    families = {c: _family(pdf[c]) for c in pdf.columns}
    norm = _normalize(pdf)
    floats = [c for c in norm.columns if norm[c].dtype.kind == "f"]
    keys = [c for c in norm.columns if c not in floats] + floats
    if keys:
        norm = norm.sort_values(
            by=keys, kind="mergesort", na_position="last").reset_index(drop=True)
    return norm, families


def _all_null(col: pd.Series) -> bool:
    return bool(col.isna().all() or (col == "<null>").all())


def same(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    g, g_fam = _prepared(got)
    w, w_fam = _prepared(want)
    if list(g.columns) != list(w.columns) or len(g) != len(w):
        return False
    for c in g.columns:
        fams = {g_fam[c], w_fam[c]}
        if "any" in fams:
            # an all-NULL column matches any family, but only NULLs
            if not (_all_null(g[c]) and _all_null(w[c])):
                return False
            continue
        if len(fams) > 1:
            return False
        if fams == {"float"}:
            if not np.allclose(g[c].to_numpy(float), w[c].to_numpy(float),
                               rtol=REL_TOL, atol=1e-12, equal_nan=True):
                return False
        elif not (g[c].to_numpy() == w[c].to_numpy()).all():
            return False
    return True


def arrow_frame(table: pa.Table) -> pd.DataFrame:
    return table.to_pandas()


def rows_frame(rows: list, columns: list[str]) -> pd.DataFrame:
    """`DataFrame.collect()` output as a pandas frame."""
    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)


def duck_frame(con, sql: str, params=None) -> pd.DataFrame:
    return con.execute(sql, list(params) if params is not None else None).df()
