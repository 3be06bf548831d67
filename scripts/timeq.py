#!/usr/bin/env python
"""Ad-hoc cold/warm timer for named registry queries (dev tool).

Usage: python scripts/timeq.py q1 q2 ...  [env SPARK_GRAFT_SF_DIR]
Fresh session per invocation; prints cold (run 1) and warm (run 2)
walls per query with the same warm-up discipline as bench.py.

Concurrency: safe to run while a bench is in flight — artifact builds
are cross-process flock-serialized (artifacts.committed_dir), so two
processes can no longer tear each other's output dirs; worst case
this process blocks until the other's build commits. Timings taken
during an overlap are still contended, of course — don't trust them.
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1").rstrip("/")
    import __spark_entry__ as entrymod
    from bench import _build_session

    qs = entrymod.queries()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = _build_session(cpus)
    from duckdb_wasm_spark.tables import load_table

    load_table(spark, sf_dir, "lineitem").count()
    # worker-pool warm-up sized to the configured parallelism (r14
    # ADVICE on graph_cold_sweep.py, applied here too); mirrors bench.py
    spark.range(cpus * 4, numPartitions=cpus).mapInPandas(
        lambda it: it, "id long"
    ).count()
    out = {}
    for n in names:
        walls = []
        for _ in range(2):
            t0 = time.perf_counter()
            qs[n](spark, sf_dir).collect()
            walls.append(round(time.perf_counter() - t0, 3))
        out[n] = walls
        print(f"{n:35s} cold={walls[0]:6.2f} warm={walls[1]:6.2f}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
