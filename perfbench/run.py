#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload api_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One closed-loop client runs the
workload's operations in order on `local[nproc]`. The run launches the
JVM and sets the workload up once (timed as set-up), makes one cold
pass and then a fixed number of warm passes worth about `--seconds`,
checks every result, and prints one JSON object as its last stdout
line: the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`. See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(*a) -> None:
    print("[perfbench]", *a, file=sys.stderr, flush=True)


# ----------------------------------------------------------- environment
def isolate(work: str) -> None:
    """Keep every file the run, Spark and its workers write under `work`,
    and let the Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = tmp
    # the streaming operators put their checkpoints on /dev/shm; keep
    # every temporary directory inside the run's directory instead
    mkdtemp = tempfile.mkdtemp

    def private_mkdtemp(suffix=None, prefix=None, dir=None):
        inside = dir is not None and os.path.abspath(dir).startswith(work + os.sep)
        return mkdtemp(suffix, prefix, dir if inside else tmp)

    tempfile.mkdtemp = private_mkdtemp
    # the package's artifact store and stream layouts live under its
    # module-level root; point it at this run's empty private store
    from duckdb_wasm_spark import artifacts

    artifacts._ROOT = os.path.join(work, "store", "index_artifacts")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str):
    from pyspark.sql import SparkSession

    n = cores()
    return (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "5000")
        .config("spark.ui.retainedStages", "10000")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
                f"-Dderby.system.home={os.path.join(work, 'derby')}")
        .getOrCreate()
    )


def stop_spark(spark) -> None:
    """Stop the context, then the JVM the gateway launched, and wait."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------------ memory
def _tree_pids(root_pids) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(root_pids)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process, the JVM and the
    Python workers, summed."""
    total = 0
    for pid in _tree_pids([os.getpid()]):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024.0


# ----------------------------------------------------------------- metrics
def tail(samples):
    """(percentile, value): the highest whole percentile with at least ten
    samples above it; with ten samples or fewer, the maximum."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return 100, xs[-1]
    p = math.floor(100 * (1 - 10 / n))
    return p, xs[max(0, math.ceil(p / 100 * n) - 1)]


def machine() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": cores(), "mem_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(), "spark": pyspark.__version__,
        "duckdb": duckdb.__version__, "pyarrow": pyarrow.__version__,
        "git_sha": git_sha(),
    }


def git_sha() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            return open(os.path.join(ROOT, ".git", ref[5:])).read().strip()
        return ref
    except OSError:
        return "unknown"


# ------------------------------------------------------------------- run
class Run:
    def __init__(self, args, work: str):
        import numpy as np

        import datagen
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        cls = WORKLOADS[args.workload]
        t0 = time.perf_counter()
        data = datagen.write_tables(os.path.join(work, "data"), args.seed, cls.sf)
        if cls.draws_inputs:
            self.wl = cls(data, work, np.random.default_rng(args.seed))
        else:
            self.wl = cls(data, work)
        log(f"inputs and expected results ready in {time.perf_counter() - t0:.1f}s")
        self.attempted = 0
        self.failed = 0
        self.peak_rss = 0.0
        self.passes: list[dict] = []
        self.tracer = None

    def setup(self) -> float:
        """Launch the JVM and make the workload ready; returns seconds."""
        t0 = time.perf_counter()
        self.spark = start_spark(self.work)
        self.wl.setup(self.spark)
        return time.perf_counter() - t0

    def run_pass(self, no: int, traced: bool) -> dict:
        tr = self.tracer if traced else None
        if tr is not None:
            tr.install(self.wl.checkpoint_layer)
        ops = self.wl.ops()
        rec = {"pass": no, "traced": traced, "ops": []}
        for i, op in enumerate(ops):
            self.attempted += 1
            ok, result, t0 = False, None, time.perf_counter()
            try:
                if tr is not None:
                    with tr.operation(f"p{no}.{i}.{op.name}", op.name, self.wl.op_layer, no) as span:
                        result = op.run(tr)
                    span["kind"] = op.kind
                else:
                    result = op.run(None)
                wall = time.perf_counter() - t0
                ok = True
            except Exception:
                wall = time.perf_counter() - t0
                log(f"{op.name} failed:\n{traceback.format_exc()}")
            if tr is not None:
                tr.collect_jobs()
            self.peak_rss = max(self.peak_rss, tree_rss_mb())
            rec["ops"].append({"name": op.name, "kind": op.kind, "ms": wall * 1000.0,
                               "ok": ok, "stats": dict(op.stats), "result": result,
                               "check": op.check})
        if tr is not None:
            tr.uninstall()
        rec["wall_s"] = sum(o["ms"] for o in rec["ops"]) / 1000.0
        # correctness is checked after the timed pass
        for o in rec["ops"]:
            if o["ok"] and o["check"] is not None:
                try:
                    o["ok"] = bool(o["check"](o["result"]))
                except Exception:
                    log(f"{o['name']} check raised:\n{traceback.format_exc()}")
                    o["ok"] = False
                if not o["ok"]:
                    log(f"{o['name']} returned a wrong result (pass {no})")
            o["rows"], o["bytes"] = _result_size(o.pop("result"))
            o.pop("check")
            self.failed += not o["ok"]
        return rec

    def warm_count(self) -> int:
        """Fixed by --seconds and the workload's nominal pass time, so the
        sample count does not depend on how fast the code is."""
        n = math.ceil(self.args.seconds / self.wl.nominal_pass_s)
        return max(2, n) if self.args.trace else n

    def execute(self) -> dict:
        t_setup = self.setup()
        log(f"set up in {t_setup:.1f}s")
        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark, cores())
            self.tracer.listen()
        self.passes.append(self.run_pass(0, traced=bool(self.args.trace)))
        for k in range(self.warm_count()):
            # traced runs alternate untraced and traced warm passes
            traced = bool(self.args.trace) and k % 2 == 1
            self.passes.append(self.run_pass(k + 1, traced))
        return {"setup_s": t_setup}


def _result_size(result) -> tuple[int, int]:
    import pyarrow as pa

    if isinstance(result, pa.Table):
        return result.num_rows, result.nbytes
    if isinstance(result, tuple) and result and isinstance(result[0], list):
        return len(result[0]), 0
    return 0, 0


def e2e_metrics(run: Run, setup_s: float) -> tuple[dict, dict]:
    """The end-to-end metrics, from the untraced warm passes, and the
    figures printed beside them: read and write tails with their
    percentile and sample count, the failed-operation ratio, and write
    and stream latency on the workloads that write and stream.

    `pass_s` and `query_p50_ms` take each operation at its fastest warm
    run: the host's slow spells and the JIT's late warming only ever add
    time, so the best of the warm runs is the steadiest estimate."""
    warm = [p for p in run.passes[1:] if not p["traced"]]
    ops = [o for p in warm for o in p["ops"]]
    reads = [o["ms"] for o in ops if o["kind"] in ("read", "stream")]
    best = [min(p["ops"][i]["ms"] for p in warm) for i in range(len(warm[0]["ops"]))]
    best_reads = [ms for ms, o in zip(best, warm[0]["ops"]) if o["kind"] in ("read", "stream")]
    metrics = {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (run.passes[0]["wall_s"], "s"),
        "pass_s": (sum(best) / 1000.0, "s"),
        "query_p50_ms": (statistics.median(best_reads), "ms"),
        "peak_rss_mb": (run.peak_rss, "MB"),
    }
    qp, qt = tail(reads)
    figures = {
        "query_tail_ms": (qt, "ms"),
        "failed_ops_ratio": (run.failed / max(1, run.attempted), "ratio"),
    }
    writes = [o["ms"] for o in ops if o["kind"] == "write"]
    if writes:
        wp, wt = tail(writes)
        figures["write_p50_ms"] = (statistics.median(writes), "ms")
        figures["write_tail_ms"] = (wt, "ms")
    streams = [o["stats"] for o in ops if o["kind"] == "stream"]
    if streams:
        figures["stream_first_batch_ms"] = (
            statistics.median(s["first_batch_ms"] for s in streams), "ms")
        figures["stream_rows_per_s"] = (
            statistics.median(s["rows_per_s"] for s in streams), "1/s")
    info = {
        "warm_passes": len(warm),
        "query_tail_percentile": qp, "query_samples": len(reads),
        "figures": {k: {"value": v, "unit": u} for k, (v, u) in figures.items()},
    }
    if writes:
        info.update(write_tail_percentile=wp, write_samples=len(writes))
    return metrics, info


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "duckdb_wasm_spark")):
        log(f"no duckdb_wasm_spark package under {ROOT}; run from a full checkout")
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    run = None
    try:
        run = Run(args, work)
        timings = run.execute()
        metrics, info = e2e_metrics(run, timings["setup_s"])
        if args.trace:
            info["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
            import layers

            metrics = layers.per_layer(run)
            path = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            run.tracer.dump(path, {"workload": args.workload, "seed": args.seed,
                                   "machine": machine(), "passes": run.passes})
            info["trace_file"] = os.path.relpath(path, ROOT)
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "machine": machine(), **info,
                          "passes": [{**{k: v for k, v in p.items() if k != "ops"},
                                      "op_ms": {o["name"]: round(o["ms"], 1) for o in p["ops"]}}
                                     for p in run.passes]}), flush=True)
        result = {
            "correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if run is not None and getattr(run, "spark", None) is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
