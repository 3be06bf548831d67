#!/usr/bin/env python
"""Run every registered oracle text through the SQL path.

Usage:
    python scripts/sql_lane.py <sf_dir>

Each DuckDB-dialect text in `__spark_entry__.oracle_sql()` goes through
`plans._util.sql_query` (translate, then the text's database session)
and is checked against DuckDB with `testing.assert_parity`. One line
per text: `ok`, `mismatch` (the parity check failed) or `raise` (the
Spark side failed to translate, plan or run), then the totals. The
session is bench.py's, with `SPARK_GRAFT_CPUS` cores (default: all).
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

USAGE = "usage: python scripts/sql_lane.py <sf_dir>"


def main() -> int:
    if len(sys.argv) != 2:
        print(USAGE, file=sys.stderr)
        return 2
    sf_dir = sys.argv[1].rstrip("/")

    import __spark_entry__ as entrymod
    from bench import _build_session

    from duckdb_wasm_spark.plans._util import sql_query
    from duckdb_wasm_spark.testing import assert_parity, duck_con

    spark = _build_session(int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count())))
    con = duck_con(sf_dir)
    totals = {"ok": 0, "mismatch": 0, "raise": 0}
    for name, text in entrymod.oracle_sql().items():
        try:
            assert_parity(sql_query(name, text)(spark, sf_dir), text, con, name)
            outcome, detail = "ok", ""
        except AssertionError as e:
            outcome, detail = "mismatch", str(e)
        except Exception as e:
            outcome, detail = "raise", f"{type(e).__name__}: {e}"
        totals[outcome] += 1
        first = next((ln for ln in detail.splitlines() if ln.strip()), "")
        print(f"{outcome:8} {name} {first[:160]}".rstrip(), flush=True)
    print(" / ".join(f"{k} {v}" for k, v in totals.items()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
