#!/usr/bin/env python
"""Weigh one persisted artifact kind against the live recompute it
replaces, through one registry query that reads it.

Usage:
    python scripts/artifact_kinds.py <kind> <query> <sf_dir>   [env SPARK_GRAFT_CPUS]

One fresh session over an EMPTY private artifact store (a temporary
directory, removed at exit):

  build        run 1: builds `kind` and whatever the query also reads
  reload       the session memo dropped, run once: reloads from disk
  stored       5 warm runs (memo hits)
  unpersisted  4 runs with `kind` alone served from its build() — no
               disk copy, no respread — and its memo cleared before
               each run (the other kinds stay persisted)

Prints one JSON line with every wall, the unpersisted/stored ratio of
the medians, and whether both ways returned the same rows.
"""

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# session memos layered on top of a persisted frame
_SECONDARY = ("_dws_lsh_pairs_hinted",)


def main() -> int:
    kind, name, sf_dir = sys.argv[1], sys.argv[2], sys.argv[3].rstrip("/")
    import __spark_entry__ as entrymod
    from bench import _build_session, hygiene, warm_up

    from duckdb_wasm_spark import artifacts

    store = tempfile.mkdtemp(prefix="artifact_kinds_")
    artifacts._ROOT = os.path.join(store, "index_artifacts")
    fn = entrymod.queries()[name]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = _build_session(cpus)
    warm_up(spark, sf_dir, cpus)

    def run():
        t0 = time.perf_counter()
        rows = fn(spark, sf_dir).collect()
        wall = round(time.perf_counter() - t0, 3)
        hygiene(spark)
        return wall, sorted(rows, key=repr)

    def drop(memo_key=None):
        memo = spark.__dict__.setdefault("_dws_disk_artifacts", {})
        if memo_key is None:
            memo.clear()
        else:
            memo.pop(memo_key, None)
        for m in _SECONDARY:
            spark.__dict__.pop(m, None)

    try:
        build_s, _ = run()
        drop()
        reload_s, _ = run()
        stored = [run() for _ in range(5)]
        persisted = artifacts.persisted_frames

        def unpersisted(spark_, k, sf, sources, build, layout=None,
                        meta_build=None):
            if k != kind:
                return persisted(spark_, k, sf, sources, build, layout,
                                 meta_build)
            memo = spark_.__dict__.setdefault("_dws_disk_artifacts", {})
            if (k, sf) not in memo:
                built = build()
                memo[(k, sf)] = artifacts._LazyFrames(
                    {n: (lambda n=n: built[n]) for n in built},
                    meta_build(built) if meta_build else {},
                )
            return memo[(k, sf)]

        artifacts.persisted_frames = unpersisted
        live = []
        for _ in range(4):
            drop((kind, sf_dir))
            live.append(run())
    finally:
        spark.stop()
        shutil.rmtree(store, ignore_errors=True)
    stored_med = statistics.median(w for w, _ in stored)
    live_med = statistics.median(w for w, _ in live)
    print(json.dumps({
        "kind": kind,
        "query": name,
        "sf_dir": sf_dir,
        "cpus": cpus,
        "build_s": build_s,
        "reload_s": reload_s,
        "stored_s": [w for w, _ in stored],
        "unpersisted_s": [w for w, _ in live],
        "ratio": round(live_med / stored_med, 2),
        "rows_equal": all(r == stored[0][1] for _, r in stored + live),
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
