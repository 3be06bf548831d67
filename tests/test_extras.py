"""Coverage corpus (windows / set ops / grouping sets / full outer /
recursive CTE / lateral / unpivot and the function corpora): oracle
parity for every registered query in `plans/extras.py`."""

import pytest

from duckdb_wasm_spark.plans import extras
from duckdb_wasm_spark.testing import assert_parity


@pytest.mark.parametrize("name", sorted(extras.QUERIES))
def test_extras_parity(name, spark, sf_dir, oracle):
    assert_parity(
        extras.QUERIES[name](spark, sf_dir),
        extras.ORACLE[name],
        oracle,
        name,
    )


def test_radix_quantile_adversarial_shapes(spark):
    """Direct unit pins for _radix_quantile (extra_stats' price path):
    the floor/ceil ranks straddling a radix-bucket boundary (cents
    4095 | 4096) is the shape a bucket-local off-by-one would corrupt;
    plus all-equal, integer-rank, and duplicate-heavy groups, checked
    against numpy's linear-interpolation quantile (the quantile_cont
    definition)."""
    import numpy as np

    cases = [
        # rank 2 is the last value of bucket 0, rank 3 the first of
        # bucket 1 — interpolation crosses the bucket boundary
        ([1.00, 40.95, 40.96, 50.0, 60.0, 70.0], 0.25),
        ([5.0] * 9, 0.5),
        ([1.0, 2.0, 3.0, 4.0, 5.0], 0.5),
        ([10.0, 10.0, 10.01, 99.99], 0.25),
        ([0.01, 40.96, 81.92, 122.88], 0.5),  # one value per bucket
    ]
    for vals, p in cases:
        df = spark.createDataFrame(
            [("A", v) for v in vals] + [("B", 7.0)],
            "k string, v double",
        )
        rows = {
            r["k"]: r["q"]
            for r in extras._radix_quantile(df, ["k"], p, "q").collect()
        }
        want = float(np.quantile(np.array(vals), p))
        assert abs(rows["A"] - want) < 1e-9, (vals, p, rows["A"], want)
        assert rows["B"] == 7.0


def test_extra_stats_plan_windows_are_domain_bounded(spark, sf_dir):
    """No window in extra_stats' executed plan may order a corpus-
    derived frame: every windowspecdefinition must partition by either
    the qty value-domain histogram key set or a radix bucket column
    (round-10 verdict #1 — the old plan hid a corpus-scale frame
    behind a 6-value (flag, which) partition key)."""
    import re

    df = extras.QUERIES["extra_stats"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pat = re.compile(
        r"windowspecdefinition\((?P<spec>[^)]*?)(?: ASC| DESC) NULLS"
    )
    specs = set(pat.findall(plan))
    assert specs, plan[:800]
    for spec in specs:
        cols = [c.strip().split("#")[0] for c in spec.split(",")]
        # ordered windows allowed: the qty histogram (partition flag,
        # order v — <= 50 distinct l_quantity values), the radix
        # bucket cumsum (partition flag, order hi — <= max_cents/2^12
        # buckets), and the in-bucket pick (partition flag+hi, order
        # v — <= 2^12 distinct low bits)
        assert cols in (
            ["l_returnflag", "v"],
            ["l_returnflag", "hi"],
            ["l_returnflag", "hi", "v"],
        ), f"unexpected window spec {cols}:\n{plan[:1500]}"
