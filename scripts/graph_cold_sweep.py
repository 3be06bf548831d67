#!/usr/bin/env python
"""Cold/warm decomposition for one graph-family query.

Runs ONE registry query in a FRESH process/session and prints a JSON
line decomposing its cold wall into the only two components the
cold-floor note in operators/graph.py names:

    reload  — materializing the query's edge-artifact frame alone
              (parquet per-file union read + repartition +
              localCheckpoint; artifacts._respread)
    first   — the first query run AFTER the frame is materialized
              (whole-stage-codegen JIT of the unrolled iteration DAG
              + one steady-state execution)
    warm    — best of the next two runs (steady state)

so cold == reload + first by construction, and (first - warm) isolates
the JIT premium. Run it at two SFs to show the JIT term is flat in
data size (the irreducibility argument):

    python scripts/graph_cold_sweep.py graph_pagerank
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \\
        python scripts/graph_cold_sweep.py graph_pagerank

NOTE: do not run while a bench is in flight — artifact builds are now
cross-process flock-serialized (artifacts.committed_dir), so a race is
safe but this process may block on the other's build.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# every frame the query consumes: a frame missing here has its reload
# wall land inside `first` and inflate the JIT attribution (pagerank
# also reads the raw deg_sym scan, whose materialization is job-free
# but listed for completeness)
_FRAMES = {
    "graph_pagerank": ("sym", "deg_sym"),
    "graph_kcore": ("sym",),
    "graph_triangle_count": ("cs",),
    "graph_label_propagation": ("symw",),
    "graph_degree_distribution": ("cs",),
    "graph_common_neighbors": ("cs",),
}


def main():
    name = sys.argv[1]
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    ).rstrip("/")
    import __spark_entry__ as entrymod
    from bench import _build_session, warm_up

    from duckdb_wasm_spark.operators.graph import _edges_artifact

    qs = entrymod.queries()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = _build_session(cpus)
    warm_up(spark, sf_dir, cpus)

    t0 = time.perf_counter()
    art = _edges_artifact(spark, sf_dir)
    for frame in _FRAMES[name]:  # materialize (build if absent)
        art[frame]
    reload_s = round(time.perf_counter() - t0, 3)

    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).collect()
        walls.append(round(time.perf_counter() - t0, 3))
    print(
        json.dumps(
            {
                "query": name,
                "sf_dir": sf_dir,
                "reload": reload_s,
                "first": walls[0],
                "warm": round(min(walls[1:]), 3),
                "jit_premium": round(walls[0] - min(walls[1:]), 3),
                "cold": round(reload_s + walls[0], 3),
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
