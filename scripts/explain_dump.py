#!/usr/bin/env python
"""Print one `<name> <md5>` line per registry query: the md5 of the
query's optimized logical plan, so two checkouts that plan a query
identically print the same line.

Usage: python scripts/explain_dump.py <sf_dir> [name ...]
With no names, every registered query, sorted by name. The plan text
is `df._jdf.queryExecution().optimizedPlan()` with expression ids
(`#123`), the counters pyspark appends to Python-lambda variable names
(`x_12`, one counter per process, so they depend on the queries built
before) and the checkout's path (the artifact store lives under it)
replaced by placeholders. Building a query runs the eager jobs its
construction needs (artifact builds, checkpoints), so the hash is of
the returned frame's plan, the one `collect()` executes. The session
is bench.py's, on `$SPARK_GRAFT_CPUS` cores (default: all).

Compare two checkouts:
  diff <(cd <tree> && python scripts/explain_dump.py <sf_dir>) \\
       <(python scripts/explain_dump.py <sf_dir>)
"""

import hashlib
import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def plan_md5(df) -> str:
    """md5 of the optimized logical plan of `df` with expression ids,
    lambda variable counters and the checkout's path replaced by
    placeholders."""
    txt = df._jdf.queryExecution().optimizedPlan().toString()
    txt = re.sub(r"\blambda (\w+?)_\d+\b", r"lambda \1", txt)
    txt = re.sub(r"#\d+L?", "#", txt)
    return hashlib.md5(txt.replace(_REPO, "<repo>").encode()).hexdigest()


def main() -> int:
    if len(sys.argv) < 2:
        print(
            "usage: python scripts/explain_dump.py <sf_dir> [name ...]",
            file=sys.stderr,
        )
        return 2
    sf_dir = sys.argv[1].rstrip("/")
    import __spark_entry__ as entrymod
    from bench import _build_session

    qs = entrymod.queries()
    names = sys.argv[2:] or sorted(qs)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = _build_session(cpus)
    try:
        for n in names:
            print(n, plan_md5(qs[n](spark, sf_dir)), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
