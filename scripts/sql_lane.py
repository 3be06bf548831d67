#!/usr/bin/env python
"""Run every registered oracle text through the SQL path.

Usage:
    python scripts/sql_lane.py <sf_dir>

Each DuckDB-dialect text in `__spark_entry__.oracle_sql()` goes through
`plans._util.sql_query` (translate, then the text's database session)
and is checked against DuckDB with `testing.assert_parity`. One line
per text: `ok`, `mismatch` (the parity check failed) or `raise` (the
Spark side failed to translate, plan or run), then the totals, then the
mismatch and raise lines counted by first cause: the Spark error class,
the translator's message (it names the AST node it does not handle),
or the kind of parity failure. The session is bench.py's, with
`SPARK_GRAFT_CPUS` cores (default: all).
"""

import collections
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

USAGE = "usage: python scripts/sql_lane.py <sf_dir>"
# the failure kinds of testing.assert_parity
_PARITY = r"column order mismatch|physical-family mismatch|rowcount|values are different"


def _cause(e: Exception) -> str:
    from pyspark.errors import PySparkException

    if isinstance(e, PySparkException):
        return e.getCondition() or type(e).__name__
    first = next((ln for ln in str(e).splitlines() if ln.strip()), "")
    if isinstance(e, AssertionError):
        m = re.search(_PARITY, first)
        return m.group(0) if m else "mismatch"
    return f"{type(e).__name__}: {first}"[:120]


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
    causes: collections.Counter = collections.Counter()
    for name, text in entrymod.oracle_sql().items():
        try:
            assert_parity(sql_query(name, text)(spark, sf_dir), text, con, name)
            outcome, detail = "ok", ""
        except AssertionError as e:
            outcome, detail = "mismatch", str(e)
            causes[("mismatch", _cause(e))] += 1
        except Exception as e:
            outcome, detail = "raise", f"{type(e).__name__}: {e}"
            causes[("raise", _cause(e))] += 1
        totals[outcome] += 1
        first = next((ln for ln in detail.splitlines() if ln.strip()), "")
        print(f"{outcome:8} {name} {first[:160]}".rstrip(), flush=True)
    print(" / ".join(f"{k} {v}" for k, v in totals.items()))
    for (outcome, cause), n in causes.most_common():
        print(f"{n:4} {outcome:8} {cause}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
