#!/usr/bin/env python
"""State-store backend sweep for the streaming gates.

Usage:
    python scripts/state_store_sweep.py <hdfs|rocksdb> [q1,q2,...]

One arm: a fresh session with the named StateStoreProvider, bench.py's
warm-up and inter-query hygiene, 3 runs per query (run 1 = cold).
Orchestration (fresh process per arm, ABBA order) lives in the calling
shell; results land in OPTIMIZATION_r16.md and the committed sweep
artifact. The result frames are collected and their sorted rows
compared across arms by the caller (the providers must be
result-invariant; the oracle gate already pins the default provider).
"""

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}

DEFAULT_QUERIES = (
    "events_stream_join",
    "events_stream_outer_join",
    "events_stream_stateful",
    "events_stream_upsert",
)


USAGE = (
    "usage: python scripts/state_store_sweep.py "
    f"<{'|'.join(PROVIDERS)}> [q1,q2,...]"
)


def main() -> int:
    if len(sys.argv) not in (2, 3) or sys.argv[1] not in PROVIDERS:
        print(USAGE, file=sys.stderr)
        return 2
    provider = sys.argv[1]
    names = (
        sys.argv[2].split(",") if len(sys.argv) > 2 else list(DEFAULT_QUERIES)
    )
    runs = int(os.environ.get("SPARK_GRAFT_AB_RUNS", "3"))
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    ).rstrip("/")
    import __spark_entry__ as entrymod
    from bench import _build_session, hygiene, warm_up

    qs = entrymod.queries()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = _build_session(cpus)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", PROVIDERS[provider]
    )
    warm_up(spark, sf_dir, cpus)

    out = {"provider": provider, "runs": runs, "queries": {}, "rows": {}}
    for n in names:
        walls = []
        rows = None
        for _ in range(runs):
            t0 = time.perf_counter()
            rows = qs[n](spark, sf_dir).collect()
            walls.append(round(time.perf_counter() - t0, 3))
        out["queries"][n] = walls
        # order-insensitive row fingerprint so the caller can check the
        # backends are result-identical
        out["rows"][n] = (
            len(rows),
            hashlib.md5(
                "\n".join(sorted(map(str, rows))).encode()
            ).hexdigest(),
        )
        hygiene(spark)
    print(json.dumps(out), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
