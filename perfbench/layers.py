"""Per-layer metrics of a traced run (`--trace 1`).

A traced run makes its cold pass traced, then alternates untraced and
traced warm passes. Layer metrics are per traced warm pass (the mean
over them) unless the name says otherwise; `artifacts.builds`,
`artifacts.build_ms`, `artifacts.reloads` and `artifacts.reload_ms`
cover the whole run, whose store starts empty.
"""

from __future__ import annotations

import os
import statistics

from spans import union_ms

NAMES = (
    ("dialect.translate_ms", "ms"), ("dialect.statements", "count"),
    ("session.overhead_ms", "ms"), ("session.checkpoint_jobs", "count"),
    ("session.checkpoint_ms", "ms"), ("session.stream_batches", "count"),
    ("session.stream_bytes", "bytes"),
    ("sources.ingest_ms", "ms"), ("sources.ingest_rows", "count"),
    ("writers.copy_ms", "ms"), ("writers.bytes_written", "bytes"),
    ("catalyst.analyze_ms", "ms"), ("catalyst.optimize_ms", "ms"),
    ("operators.build_ms", "ms"), ("operators.eager_jobs", "count"),
    ("operators.eager_job_ms", "ms"), ("operators.plan_construct_ms", "ms"),
    ("artifacts.builds", "count"), ("artifacts.reloads", "count"),
    ("artifacts.memo_hits", "count"), ("artifacts.build_ms", "ms"),
    ("artifacts.reload_ms", "ms"), ("artifacts.store_bytes", "bytes"),
    ("streaming.batches", "count"), ("streaming.batch_ms_p50", "ms"),
    ("streaming.commit_ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.wall_ms", "ms"), ("exec.run_ms", "ms"), ("exec.cpu_ms", "ms"),
    ("exec.gc_ms", "ms"), ("exec.input_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.core_utilization", "ratio"),
    ("egress.ms", "ms"), ("egress.result_rows", "count"),
    ("egress.result_bytes", "bytes"),
    ("bench.trace_overhead_pct", "%"), ("bench.attributed_pct", "%"),
    ("bench.harness_ms", "ms"),
)


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def per_layer(run) -> dict:
    tr = run.tracer
    tr.attribute()
    traced = [p for p in run.passes[1:] if p["traced"]]
    nt = max(1, len(traced))
    warm_nos = {p["pass"] for p in traced}
    spans = [s for s in tr.spans if s.get("pass_no") in warm_nos or _pass_of(tr, s) in warm_nos]
    roots = [s for s in spans if s["parent"] is None]
    windows = [(s["start"], s["end"]) for s in roots]
    jobs = [j for j in tr.jobs if any(lo <= j["start"] <= hi for lo, hi in windows)]

    m: dict[str, float] = {name: 0.0 for name, _ in NAMES}
    layer_self: dict[str, float] = {}
    for s in spans:
        own = s["self_ms"] - s["exec_ms"]
        layer_self[s["layer"]] = layer_self.get(s["layer"], 0.0) + own
        layer_self["exec"] = layer_self.get("exec", 0.0) + s["exec_ms"]
        name = s["name"]
        if name == "translate":
            m["dialect.translate_ms"] += own
        elif name == "analyze":
            m["catalyst.analyze_ms"] += own
        elif name == "optimize":
            m["catalyst.optimize_ms"] += own
        elif name == "checkpoint" and s["layer"] == "session":
            m["session.checkpoint_ms"] += s["wall_ms"]
            m["session.checkpoint_jobs"] += _jobs_in(jobs, s)
        elif s["layer"] == "session":
            m["session.overhead_ms"] += own
        elif s["layer"] == "sources":
            m["sources.ingest_ms"] += s["wall_ms"]
        elif name == "copy_to":
            m["writers.copy_ms"] += s["wall_ms"]
        elif name == "build":
            m["operators.build_ms"] += s["wall_ms"]
            m["operators.eager_jobs"] += _jobs_in(jobs, s)
            m["operators.eager_job_ms"] += union_ms(
                [(j["start"], j["end"]) for j in jobs], s["start"], s["end"])
        elif name == "persisted_frames" and s.get("outcome") == "memo_hit":
            m["artifacts.memo_hits"] += 1
        elif s["layer"] == "egress":
            m["egress.ms"] += own
        elif s["layer"] == "bench":
            m["bench.harness_ms"] += own
    m["dialect.statements"] = sum(1 for s in spans if s["name"] == "translate")
    m["operators.plan_construct_ms"] = m["operators.build_ms"] - m["operators.eager_job_ms"]

    batches = [b for b in tr.batches if any(lo <= b["end"] <= hi for lo, hi in windows)]
    m["streaming.batches"] = len(batches)
    m["streaming.commit_ms"] = sum(b["commit_ms"] for b in batches)

    stage_ids = {sid for j in jobs for sid in j["stages"]}
    stages = [tr.stages[i] for i in stage_ids
              if i in tr.stages and tr.stages[i].get("status") == "COMPLETE"]
    m["exec.jobs"] = len(jobs)
    m["exec.stages"] = len(stages)
    for key, field, scale in (
        ("exec.tasks", "numTasks", 1), ("exec.run_ms", "executorRunTime", 1),
        ("exec.cpu_ms", "executorCpuTime", 1e-6), ("exec.gc_ms", "jvmGcTime", 1),
        ("exec.input_bytes", "inputBytes", 1),
        ("exec.shuffle_read_bytes", "shuffleReadBytes", 1),
        ("exec.shuffle_write_bytes", "shuffleWriteBytes", 1),
        ("exec.spill_bytes", "memoryBytesSpilled", 1),
        ("exec.spill_bytes", "diskBytesSpilled", 1),
    ):
        m[key] += sum(s.get(field, 0) for s in stages) * scale
    m["exec.wall_ms"] = layer_self.get("exec", 0.0)

    ops = [o for p in traced for o in p["ops"]]
    m["egress.result_rows"] = sum(o["rows"] for o in ops)
    m["egress.result_bytes"] = sum(o["bytes"] for o in ops)
    stream_ops = [o for o in ops if o["kind"] == "stream"]
    m["session.stream_batches"] = sum(o["stats"].get("batches", 0) for o in stream_ops)
    m["session.stream_bytes"] = sum(o["stats"].get("bytes", 0) for o in stream_ops)
    m["sources.ingest_rows"] = sum(o["stats"].get("ingest_rows", 0) for o in ops)
    m["writers.bytes_written"] = sum(o["stats"].get("bytes_written", 0) for o in ops)
    out = {k: v / nt for k, v in m.items()}

    # ratios and whole-run figures
    wall_ms = sum(o["ms"] for o in ops)
    named = sum(v for k, v in layer_self.items() if k != "bench")
    out["bench.attributed_pct"] = 100.0 * named / wall_ms if wall_ms else 0.0
    if m["exec.wall_ms"]:
        out["exec.core_utilization"] = m["exec.run_ms"] / (m["exec.wall_ms"] * tr.cores)
    if batches:
        out["streaming.batch_ms_p50"] = statistics.median(b["ms"] for b in batches)
    for s in tr.spans:
        if s["name"] == "persisted_frames" and s.get("outcome") in ("build", "reload"):
            out[f"artifacts.{s['outcome']}s"] += 1
            out[f"artifacts.{s['outcome']}_ms"] += s["wall_ms"]
    out["artifacts.store_bytes"] = _dir_bytes(os.path.dirname(_artifact_root()))

    # traced against untraced warm passes, both as the median pass
    plain = [p["wall_s"] for p in run.passes[1:] if not p["traced"]]
    if traced and plain:
        t_wall = statistics.median(p["wall_s"] for p in traced)
        u_wall = statistics.median(plain)
        out["bench.trace_overhead_pct"] = 100.0 * (t_wall - u_wall) / u_wall
    units = dict(NAMES)
    return {k: (out[k], units[k]) for k, _ in NAMES}


def _artifact_root() -> str:
    from duckdb_wasm_spark import artifacts

    return artifacts._ROOT


def _jobs_in(jobs, span) -> int:
    return sum(1 for j in jobs if span["start"] <= j["start"] <= span["end"])


def _pass_of(tr, span):
    while span["parent"] is not None:
        span = tr.spans[span["parent"]]
    return span.get("pass_no")
