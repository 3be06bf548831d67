#!/usr/bin/env python
"""Same-day A/B harness for wall-regression attribution.

Usage:
    python scripts/ab_regression.py <tree> q1,q2,...   [env SPARK_GRAFT_*]

Runs the named registry queries from the code at <tree> (a git clone
or the live repo root) in a FRESH session with bench.py's warm-up and
inter-query hygiene, and prints one JSON line with per-query walls
(run 1 = cold, rest = warm candidates). Each run times every query
once, in its own order: a permutation seeded by the run index, so both
arms see the same orders but no query always follows the same
neighbours; the orders are printed with the walls. The tree's own
`spark-warehouse` artifact store is used (artifacts._ROOT derives from
the imported module's location), so pre-warm the clone once with a
throwaway pass before trusting its warm numbers. The session starts in
<tree> as its working directory: Spark's Python workers run
`python -m pyspark.daemon`, which puts the working directory first on
their `sys.path`, so UDF, UDTF and DataSource code runs from <tree> too.
bench.py's `warm_up` and `hygiene` come from <tree>; for a tree older
than them, run that tree's own copy of this script from inside it.

The orchestration (fresh process per arm, ABBA order HEAD/old/old/HEAD
so neither tree systematically inherits the other's page cache) lives
in the calling shell; this script is one arm.
"""

import json
import os
import random
import subprocess
import sys
import time


def main() -> int:
    tree = os.path.abspath(sys.argv[1])
    names = sys.argv[2].split(",")
    runs = int(os.environ.get("SPARK_GRAFT_AB_RUNS", "3"))
    sys.path.insert(0, tree)
    sf_dir = os.path.abspath(
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    os.chdir(tree)
    import __spark_entry__ as entrymod
    from bench import _build_session, hygiene, warm_up

    sha = subprocess.run(
        ["git", "-C", tree, "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True,
    ).stdout.strip()
    qs = entrymod.queries()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = _build_session(cpus)
    warm_up(spark, sf_dir, cpus)

    out = {"tree": tree, "sha": sha, "runs": runs, "orders": [],
           "queries": {n: [] for n in names}}
    for run in range(runs):
        order = random.Random(run).sample(names, len(names))
        out["orders"].append(order)
        for n in order:
            t0 = time.perf_counter()
            qs[n](spark, sf_dir).collect()
            out["queries"][n].append(round(time.perf_counter() - t0, 3))
            hygiene(spark)
    print(json.dumps(out), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
