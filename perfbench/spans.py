"""In-memory spans around the package's layer boundaries.

With tracing on, the benchmark wraps a fixed set of package functions
(see `Tracer.install`) so that every call records a span: name, layer,
start, end and parent, all sharing the operation's id. Spark jobs are
read from the status store after each operation and attributed to the
innermost span that was open when they ran; job wall time counts as
the `exec` layer and the rest of a span's self time as the span's own
layer. Streaming micro-batches arrive through a StreamingQueryListener.
Nothing is written until the run ends (`Tracer.dump`).
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length in ms of the union of (start, end) intervals clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


class Tracer:
    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}
        self.batches: list[dict] = []
        self._stack: list[dict] = []
        self._op = None
        self._patches: list[tuple] = []
        self._seen_jobs: set[int] = set()
        self._owner = threading.get_ident()
        self._mapper = None

    def listen(self) -> None:
        """Record every streaming micro-batch from now on."""
        self.spark.streams.addListener(_listener(self))

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if threading.get_ident() != self._owner:
            # helper threads (artifact prefetch) run inside the caller's
            # span; their jobs are attributed by time window instead
            yield None
            return
        rec = {
            "id": len(self.spans), "op": self._op, "name": name, "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextlib.contextmanager
    def operation(self, op_id: str, name: str, layer: str, pass_no: int):
        sc = self.spark.sparkContext
        self._op = op_id
        sc.setJobGroup(op_id, name)
        try:
            with self.span(name, layer, pass_no=pass_no) as rec:
                yield rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._op = None

    # --------------------------------------------------------- patching
    def wrap(self, owner, attr: str, name: str, layer: str, before=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer) as rec:
                if before is not None and rec is not None:
                    before(tracer, *args, **kwargs)
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self, checkpoint_layer: str) -> None:
        """Wrap the layer entry points. `checkpoint_layer` names the layer
        that owns eager `localCheckpoint` calls in this workload."""
        from pyspark.sql import SparkSession

        from duckdb_wasm_spark import artifacts, session, writers
        from duckdb_wasm_spark.sources import arrow_source, csv_source

        self.wrap(session, "translate", "translate", "dialect")
        self.wrap(session.SparkDB, "_register_catalog_views", "register_views", "session")
        self.wrap(session.SparkDB, "_resolve_file", "resolve_file", "session")
        self.wrap(session, "_patch_bigint", "bigint_patch", "session")
        self.wrap(session.ResultStream, "fetch", "fetch", "session")
        self.wrap(csv_source, "read_csv", "read_csv", "sources")
        self.wrap(arrow_source, "insert_arrow_table", "arrow_ingest", "sources")
        self.wrap(writers, "copy_to", "copy_to", "writers")
        self.wrap(SparkSession, "sql", "analyze", "catalyst")
        DataFrame = type(self.spark.range(0))  # the classic implementation
        self.wrap(DataFrame, "localCheckpoint", "checkpoint", checkpoint_layer)
        self.wrap(DataFrame, "toArrow", "to_arrow", "egress", before=_force_plan)
        self.wrap(artifacts, "persisted_frames", "persisted_frames", "artifacts",
                  before=_artifact_outcome)
        self.wrap(artifacts._LazyFrames, "__getitem__", "artifact_frame", "artifacts")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------- jobs
    def collect_jobs(self) -> None:
        """Pull jobs and stages finished since the last call from the
        Spark status store (one JSON round trip each)."""
        sc = self.spark.sparkContext
        if self._mapper is None:
            # the Jackson mapper Spark's REST API uses for these classes
            self._mapper = sc._jvm.com.fasterxml.jackson.databind.ObjectMapper()
            self._mapper.registerModule(
                sc._jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        store = sc._jsc.sc().statusStore()
        jobs = json.loads(self._mapper.writeValueAsString(store.jobsList(None)))
        new = [j for j in jobs if j["jobId"] not in self._seen_jobs
               and j.get("completionTime") is not None]
        if not new:
            return
        stages = json.loads(self._mapper.writeValueAsString(store.stageList(
            None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)))
        for s in stages:
            self.stages[s["stageId"]] = s
        for j in new:
            self._seen_jobs.add(j["jobId"])
            self.jobs.append({
                "job": j["jobId"], "group": j.get("jobGroup"),
                "start": j["submissionTime"] / 1000.0,
                "end": j["completionTime"] / 1000.0,
                "stages": j["stageIds"],
            })

    # -------------------------------------------------------- attribute
    def attribute(self) -> list[dict]:
        """Split every span's self time into its own layer and `exec`
        (the wall of the jobs that ran while it was the innermost span)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        iv = [(j["start"], j["end"]) for j in self.jobs]
        for s in self.spans:
            kids = children.get(s["id"], [])
            dur = (s["end"] - s["start"]) * 1000.0
            kid_ms = sum((k["end"] - k["start"]) * 1000.0 for k in kids)
            job_ms = union_ms(iv, s["start"], s["end"]) - sum(
                union_ms(iv, k["start"], k["end"]) for k in kids)
            s["wall_ms"] = dur
            s["self_ms"] = dur - kid_ms
            s["exec_ms"] = max(0.0, min(job_ms, s["self_ms"]))
        return self.spans

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans, "jobs": self.jobs,
                       "stream_batches": self.batches}, fh)


def _force_plan(tracer: Tracer, df, *a, **k) -> None:
    """Run analysis/optimization/physical planning in its own span; the
    following execution reuses the same QueryExecution."""
    with tracer.span("optimize", "catalyst"):
        df._jdf.queryExecution().executedPlan()


def _artifact_outcome(tracer: Tracer, spark, kind, sf_dir, sources, build,
                      layout=None, version="", meta_build=None) -> None:
    import os

    from duckdb_wasm_spark import artifacts

    memo = spark.__dict__.get("_dws_disk_artifacts", {})
    if (kind, sf_dir) in memo:
        tracer._stack[-1]["outcome"] = "memo_hit"
        return
    fp = artifacts._fingerprint(sf_dir, sources, version)
    marker = os.path.join(artifacts._ROOT, kind, artifacts._source_key(sf_dir), fp,
                          artifacts._DONE)
    tracer._stack[-1]["outcome"] = "reload" if os.path.exists(marker) else "build"


def _listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Batches(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = dict(p.durationMs)
            tracer.batches.append({
                "end": time.time(), "batch": p.batchId, "rows": p.numInputRows,
                "ms": d.get("triggerExecution", 0),
                "commit_ms": d.get("commitOffsets", 0) + d.get("walCommit", 0),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Batches()
