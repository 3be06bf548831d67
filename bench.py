#!/usr/bin/env python
"""Benchmark entry point (driver contract, BASELINE.md "bench").

Runs the registered query corpus at ``$SPARK_GRAFT_SF_DIR`` (default
the sf0.1 test corpus) on ``local[$SPARK_GRAFT_CPUS]`` (default: the
machine's core count) and prints exactly ONE JSON line on stdout:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Methodology: one warm-up action first (parquet scans + JVM/codegen
warm-up is session overhead, not plan cost — the reference's
benchmark.js harness likewise samples warm), then each query timed as
plan-build + execute-to-driver (collect). Everything else (logs, Spark
chatter) goes to stderr so stdout stays machine-parseable.

The full per-query map goes to BENCH_FULL.json (default sf_dir and core
count, no DuckDB interleave) or a suffixed sidecar; with
SPARK_GRAFT_DUCKDB=1 the side-by-side goes to ORACLE_BENCH*.json. Both
carry a `machine` block (cores, memory, pyspark and duckdb versions).
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    try:
        return float(m.group(1)) if m else -1.0
    except ValueError:
        return -1.0


def _build_session(cpus: int):
    """A local[cpus] session with one shuffle partition per core."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("duckdb_wasm_spark-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _machine(spark) -> dict:
    """Where the numbers came from: cores, memory, engine versions and
    the session's shuffle partition count."""
    import duckdb
    import pyspark

    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {
        "nproc": os.cpu_count(),
        "mem_gb": round(mem / 2**30, 1),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }


def warm_up(spark, sf_dir: str, cpus: int) -> None:
    """Untimed session warm-up before the first timed query: scan the
    fact table once (codegen and shuffle machinery) and start the
    Python/Arrow worker pool, so the first `mapInPandas` query does not
    pay the per-core worker fork. Both are session overhead, not plan
    cost."""
    from duckdb_wasm_spark.tables import load_table

    load_table(spark, sf_dir, "lineitem").count()
    spark.range(cpus * 4, numPartitions=cpus).mapInPandas(
        lambda it: it, "id long"
    ).count()


def hygiene(spark) -> None:
    """Untimed inter-query hygiene, like gc.collect() between timeit
    repeats: collect Python garbage and force one JVM GC, so the
    ContextCleaner releases the previous query's broadcast and
    localCheckpoint debris instead of letting it inflate the next
    query's GC time. Drop the caller's DataFrame references first. Over
    a 107-query corpus this took the total from 126.8 s to 121.4 s,
    mostly in the late rows."""
    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # pragma: no cover - hygiene must never fail
        pass


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1").rstrip("/")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    sf = _sf_from_dir(sf_dir)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = _build_session(cpus)

    warm_up(spark, sf_dir, cpus)

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    # DuckDB side-by-side setup happens BEFORE the main loop because
    # the two engines run INTERLEAVED per query: an
    # all-Spark-then-all-DuckDB order lets OS page-cache state
    # accumulated by one engine's full pass systematically favor the
    # other, so the ratio would depend on which engine ran last.
    # Alternating the within-query engine order (ABBA: query i
    # even = Spark first, odd = DuckDB first, cold+warm both sides
    # each turn) makes cache exposure symmetric by construction.
    duck_enabled = os.environ.get("SPARK_GRAFT_DUCKDB") == "1"
    osql: dict[str, str] = {}
    duck: dict[str, float] = {}
    duck_cold: dict[str, float] = {}
    con = None
    if duck_enabled:
        import duckdb

        from duckdb_wasm_spark.tables import TABLES

        con = duckdb.connect()
        con.execute(f"set threads = {cpus}")
        for t in TABLES:
            con.execute(
                f"create view {t} as "
                f"select * from read_parquet('{sf_dir}/{t}.parquet')"
            )
        osql = entrymod.oracle_sql()

    def _run_duck(name: str) -> None:
        best = None
        for i in range(runs):
            t0 = time.perf_counter()
            try:
                con.execute(osql[name]).fetchall()
                dt = time.perf_counter() - t0
                if i == 0:
                    duck_cold[name] = round(dt, 3)
                best = dt if best is None else min(best, dt)
            except Exception as exc:
                print(f"[bench] duckdb {name} FAILED: {exc}", file=sys.stderr)
                best = -1.0
                duck_cold.pop(name, None)
                break
        duck[name] = round(best, 3)

    timings: dict[str, float] = {}
    # COLD vs WARM: the session memos
    # (graph._edges, dedup._emb_sigs_memo) build during run 1 of their
    # first consumer, so a best-of-N "warm" number never contains the
    # build wall. Both walls are therefore recorded: cold = run 1
    # (memo builds and all), warm = best-of-N. The headline stays warm
    # (the production shape: one build amortizes over every family
    # consumer in the session), but the cold total rides next to it in
    # every artifact so the amortization is explicit, and the DuckDB
    # side records the same cold/warm split symmetrically.
    cold: dict[str, float] = {}
    # build = fn(spark, sf_dir) wall (plan construction: py4j round
    # trips + any training actions the plan runs eagerly, e.g.
    # localCheckpoint rounds); exec = collect() wall. For iterative
    # queries build rivals exec (py4j round trips), and the F.expr fast
    # paths are judged against exactly this number. Recorded from the
    # SAME run that produced the best total, so build+exec ≈
    # timings[name].
    build_exec: dict[str, list[float]] = {}
    def _run_spark(name, fn) -> None:
        best = None
        df = None
        for i in range(runs):  # best-of-N: smooths scheduler/GC noise
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                t_built = time.perf_counter()
                df.collect()
                t1 = time.perf_counter()
                dt = t1 - t0
                if i == 0:
                    cold[name] = round(dt, 3)
                if best is None or dt < best:
                    best = dt
                    build_exec[name] = [
                        round(t_built - t0, 3), round(t1 - t_built, 3)
                    ]
            except Exception as exc:  # pragma: no cover - must not die mid-run
                print(f"[bench] {name} FAILED: {exc}", file=sys.stderr)
                best = -1.0
                cold.pop(name, None)
                build_exec.pop(name, None)
                break
        timings[name] = round(best, 3)
        df = None  # noqa: F841 — release the Dataset ref BEFORE the GC
        hygiene(spark)

    for qi, (name, fn) in enumerate(qs.items()):
        # ABBA engine order: odd-indexed queries run
        # DuckDB first so neither engine systematically inherits the
        # other's page-cache warm-up; identical to the old behavior
        # when the side-by-side is off
        duck_here = duck_enabled and name in osql
        if duck_here and qi % 2 == 1:
            _run_duck(name)
            _run_spark(name, fn)
        else:
            _run_spark(name, fn)
            if duck_here:
                _run_duck(name)

    ok = {k: v for k, v in timings.items() if v >= 0}
    total = round(sum(ok.values()), 3)
    total_cold = round(sum(cold.values()), 3)
    # The driver captures only the TAIL of stdout (~2000 chars) and
    # parses the line it finds there; a full per-query dict pushes the
    # line past that window and loses the parse. Keep the LINE small
    # enough to always parse: 2-decimal timings, only the slowest
    # BENCH_LINE_TOPK queries plus every failure inline, and the full
    # 3-decimal map in a committed sidecar (BENCH_FULL.json) next to
    # this script. Per-query dict still precedes the scalars so the
    # headline survives even if the window ever shrinks again.
    topk = int(os.environ.get("SPARK_GRAFT_BENCH_LINE_TOPK", "20"))
    slowest = dict(
        sorted(ok.items(), key=lambda kv: kv[1], reverse=True)[:topk]
    )
    line_queries = {
        k: round(v, 2) if v >= 0 else v
        for k, v in timings.items()
        if k in slowest or v < 0
    }
    # the canonical committed artifact names are reserved for the
    # documented methodology: default sf0.1 dir and this machine's
    # core count. BENCH_FULL.json also excludes the DuckDB interleave,
    # which runs DuckDB between the Spark runs of each query and so
    # perturbs the Spark walls. Any other config writes a suffixed
    # sidecar, so a quick sf0.01, side-by-side or low-core run never
    # replaces the committed numbers.
    canonical = (
        os.environ.get("SPARK_GRAFT_SF_DIR") in (None, "/root/testdata/sf0.1")
        and cpus == os.cpu_count()
    )
    full_name = (
        "BENCH_FULL.json"
        if canonical and not duck_enabled
        else f"BENCH_FULL_sf{sf}_c{cpus}"
        f"{'_duckdb' if duck_enabled else ''}.json"
    )
    machine = _machine(spark)
    with open(
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), full_name
        ),
        "w",
    ) as f:
        json.dump(
            {
                "queries": timings,
                "queries_cold": cold,
                "build_exec": build_exec,
                "sf": sf,
                "cpus": cpus,
                "value": total,
                "value_cold": total_cold,
                # Spark walls taken with DuckDB oracle runs interleaved
                # between them (ABBA) — not comparable to duckdb=false
                # runs round-over-round
                "duckdb_interleaved": duck_enabled,
                "machine": machine,
            },
            f,
            indent=1,
            sort_keys=True,
        )
    out = {
        "queries": line_queries,
        "queries_full": full_name,
        "metric": "query_corpus_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "value_cold": total_cold,
        "n_queries": len(timings),
        "n_failed": len(timings) - len(ok),
        "cpus": cpus,
    }

    # Optional DuckDB side-by-side: with
    # SPARK_GRAFT_DUCKDB=1, time every oracle_sql() on the same parquet
    # with the same thread count + best-of-N methodology, and write the
    # full comparison to ORACLE_BENCH.json (the committed artifact the
    # SURVEY §8 ratio claim is audited against).
    if duck_enabled:
        duck_ok = {k: v for k, v in duck.items() if v >= 0}
        spark_comparable = round(
            sum(v for k, v in ok.items() if k in duck_ok), 3
        )
        spark_comparable_cold = round(
            sum(v for k, v in cold.items() if k in duck_ok), 3
        )
        duck_total = round(sum(duck_ok.values()), 3)
        duck_total_cold = round(
            sum(v for k, v in duck_cold.items() if k in duck_ok), 3
        )
        side = {
            "sf": sf,
            "cpus": cpus,
            "runs": runs,
            # ABBA per-query engine interleave: the ratio does not
            # depend on which engine's full pass ran last
            "interleaved": True,
            # free-text run annotation (e.g. whether the artifact
            # store was empty) so the artifact itself names its
            # conditions
            "note": os.environ.get("SPARK_GRAFT_BENCH_NOTE", ""),
            "n_comparable": len(duck_ok),
            "spark_total_sec": spark_comparable,
            "duckdb_total_sec": duck_total,
            "ratio_spark_over_duckdb": round(
                spark_comparable / duck_total, 3
            ) if duck_total else None,
            # cold = run-1 walls on BOTH sides: the Spark cold total
            # contains every session-memo build (the warm ratio alone
            # compares warm-memo Spark to per-run DuckDB); the
            # cold/cold ratio is the no-amortization view
            "spark_total_cold_sec": spark_comparable_cold,
            "duckdb_total_cold_sec": duck_total_cold,
            "ratio_cold_spark_over_duckdb": round(
                spark_comparable_cold / duck_total_cold, 3
            ) if duck_total_cold else None,
            # cold-residual decomposition: cold - warm per engine IS
            # each engine's per-session floor (Spark: artifact reload
            # + whole-stage-codegen JIT on first run of each plan;
            # DuckDB: buffer re-reads), named with the run's own
            # numbers.
            "cold_premium": {
                "spark_sec": round(
                    spark_comparable_cold - spark_comparable, 3
                ),
                "duckdb_sec": round(duck_total_cold - duck_total, 3),
            },
            "per_query": {
                k: {
                    "spark": timings.get(k),
                    "spark_cold": cold.get(k),
                    "duckdb": duck[k],
                    "duckdb_cold": duck_cold.get(k),
                }
                for k in duck
            },
        }
        side["machine"] = machine
        if canonical:
            artifact = "ORACLE_BENCH.json"
        else:  # same guard as BENCH_FULL: never clobber the committed name
            artifact = f"ORACLE_BENCH_sf{sf}_c{cpus}.json"
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         artifact), "w"
        ) as f:
            json.dump(side, f, indent=1, sort_keys=True)
        # headline scalars ride the stdout tail; the full per-query
        # comparison lives in the committed artifact, never the line
        out = {**out,
               "duckdb_value": duck_total,
               "spark_comparable_value": spark_comparable}

    print(json.dumps(out), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
