"""Self-tests of the benchmark: span bookkeeping, metric names and the
correctness count. Run from the checkout root:

    python3 -m pytest perfbench -q -p no:cacheprovider

They start no Spark session and take a few seconds.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import layers  # noqa: E402
import run  # noqa: E402
from spans import Tracer, union_ms  # noqa: E402
from workloads import WORKLOADS, Op  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _self_sums(spans):
    """{op root id: (wall_ms, sum of self_ms over the op's spans)}."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        root = s
        while root["parent"] is not None:
            root = by_id[root["parent"]]
        wall, total = out.get(root["id"], (root["wall_ms"], 0.0))
        out[root["id"]] = (wall, total + s["self_ms"])
    return out


def _fake_tracer():
    tr = Tracer(spark=None, cores=4)
    with tr.span("op", "session", pass_no=1):
        time.sleep(0.01)
        with tr.span("translate", "dialect"):
            time.sleep(0.01)
        with tr.span("to_arrow", "egress"):
            t0 = time.time()
            time.sleep(0.03)
            tr.jobs.append({"job": 0, "group": "g", "start": t0, "end": time.time(),
                            "stages": []})
    return tr


def test_union_ms_merges_overlaps():
    assert union_ms([(0, 1), (0.5, 2), (3, 4)], 0, 10) == pytest.approx(3000.0)
    assert union_ms([(0, 1)], 0.5, 10) == pytest.approx(500.0)


def test_span_self_times_sum_to_operation_wall():
    tr = _fake_tracer()
    tr.attribute()
    for wall, total in _self_sums(tr.spans).values():
        assert abs(total - wall) <= 0.10 * wall
    arrow = next(s for s in tr.spans if s["name"] == "to_arrow")
    assert 0 < arrow["exec_ms"] <= arrow["self_ms"]


def test_recorded_traces_account_for_operation_wall():
    """Every trace a traced run left behind obeys the same 10% rule."""
    files = glob.glob(os.path.join(os.path.dirname(HERE), ".perfbench", "traces", "*.json"))
    if not files:
        pytest.skip("no traced run recorded yet")
    for path in files:
        with open(path) as fh:
            spans = json.load(fh)["spans"]
        for wall, total in _self_sums(spans).values():
            assert abs(total - wall) <= 0.10 * wall + 1.0, path


def _fake_run(workload, trace: int):
    r = run.Run.__new__(run.Run)
    r.args = types.SimpleNamespace(trace=trace, seconds=SPEC["run_seconds"])
    r.wl = workload
    r.attempted = r.failed = 0
    r.peak_rss = 0.0
    r.passes = []
    r.tracer = None
    return r


class _Answers:
    """A two-op workload; `wrong` makes the second op return a bad value."""

    checkpoint_layer = op_layer = "session"
    nominal_pass_s = 1.0

    def __init__(self, wrong: bool):
        self.wrong = wrong

    def ops(self):
        return [
            Op("right", "read", lambda tr: 42, lambda v: v == 42),
            Op("maybe", "write", lambda tr: 41 if self.wrong else 42, lambda v: v == 42),
        ]


@pytest.mark.parametrize("wrong", [False, True])
def test_corrupted_result_is_counted_failed(wrong):
    r = _fake_run(_Answers(wrong), trace=0)
    for no in range(3):
        r.passes.append(r.run_pass(no, traced=False))
    assert r.attempted == 6
    assert r.failed == (3 if wrong else 0)


def test_raising_operation_is_counted_failed():
    wl = _Answers(False)
    wl.ops = lambda: [Op("boom", "read", lambda tr: 1 / 0, lambda v: True)]
    r = _fake_run(wl, trace=0)
    r.passes.append(r.run_pass(0, traced=False))
    assert (r.attempted, r.failed) == (1, 1)


def test_printed_metric_names_match_benchmark_json():
    r = _fake_run(_Answers(False), trace=0)
    for no in range(3):
        r.passes.append(r.run_pass(no, traced=False))
    e2e, info = run.e2e_metrics(r, 1.0)
    assert [(k, u) for k, (_, u) in e2e.items()] == [
        (m["name"], m["unit"]) for m in SPEC["end_to_end"]]
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == list(layers.NAMES)
    assert set(info["figures"]) >= {"query_tail_ms", "failed_ops_ratio", "write_p50_ms"}


def test_benchmark_json_names_real_workloads():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in SPEC["end_to_end"])


def test_tail_has_ten_samples_beyond_it():
    for n in (11, 22, 100):
        xs = list(range(1, n + 1))
        p, v = run.tail(xs)
        assert p == int(100 * (1 - 10 / n))
        assert sum(1 for x in xs if x > v) >= 10
    assert run.tail([3, 1, 2]) == (100, 3)


def test_result_comparison():
    import pyarrow as pa

    import check

    def frame(**cols):
        return check.arrow_frame(pa.table(cols))

    t = frame(k=[1, 2, 3], v=[0.5, 1.5, 2.5])
    assert check.same(frame(k=[3, 1, 2], v=[2.5, 0.5, 1.5]), t)  # row order
    assert check.same(frame(k=[1, 2, 3], v=[0.5, 1.5, 2.5 + 1e-12]), t)  # last ulps
    assert not check.same(frame(k=[1, 2, 3], v=[0.5, 1.5, 2.6]), t)
    assert not check.same(frame(k=[1, 2, 4], v=[0.5, 1.5, 2.5]), t)
    assert not check.same(frame(k=[1.0, 2.0, 3.0], v=[0.5, 1.5, 2.5]), t)  # int vs float
    assert not check.same(frame(k=[1, 2], v=[0.5, 1.5]), t)
