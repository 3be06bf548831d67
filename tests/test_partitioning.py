"""Partition pruning: a table written with hive partitioning must be
scanned with partition filters so a selective query touches only its
partition's files — the layout that turns a 100 TB scan into a
per-partition read (SURVEY §4.2: 'partition pruning — built-in if we
partition the data')."""

import pytest
from pyspark.sql import functions as F

from duckdb_wasm_spark.tables import load_table, scoped_confs


@pytest.fixture(scope="module")
def partitioned_events(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("part") / "events_by_type")
    load_table(spark, sf_dir, "events").write.partitionBy(
        "event_type"
    ).mode("overwrite").parquet(out)
    return out


def test_partition_filter_reaches_scan(spark, partitioned_events):
    df = (
        spark.read.parquet(partitioned_events)
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters")[1].split("]")[0], (
        "partition filter not pushed:\n" + plan[:1500]
    )


def test_events_daily_pruned_query(spark, sf_dir, oracle):
    """The registered events_daily_pruned query must (a) prune its scan
    to the event_date partition and (b) hash-match the oracle."""
    from duckdb_wasm_spark.streaming import windows
    from duckdb_wasm_spark.testing import assert_parity

    df = windows.QUERIES["events_daily_pruned"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters")[1].split("]")[0], (
        "partition filter not pushed:\n" + plan[:1500]
    )
    assert_parity(
        df, windows.ORACLE["events_daily_pruned"], oracle, "events_daily_pruned"
    )


def test_pruned_read_matches_full_filter(spark, sf_dir, partitioned_events):
    pruned = (
        spark.read.parquet(partitioned_events)
        .where(F.col("event_type") == "purchase")
        .count()
    )
    full = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .count()
    )
    assert pruned == full > 0


def test_dpp_join_prunes_at_runtime(spark, sf_dir, oracle):
    """events_dpp_join's fact scan must carry a DYNAMIC pruning
    expression (the dim side is only known at runtime, so a static
    PartitionFilter is impossible) — the mechanism that keeps fact-dim
    joins over a date-partitioned lake from scanning history."""
    from duckdb_wasm_spark.streaming import windows
    from duckdb_wasm_spark.testing import assert_parity

    df = windows.QUERIES["events_dpp_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "DPP subquery missing from the fact scan:\n" + plan[:1500]
    )
    assert_parity(
        df, windows.ORACLE["events_dpp_join"], oracle, "events_dpp_join"
    )


def test_bloom_join_filters_at_runtime(spark, sf_dir, oracle):
    """orders_bloom_join's fact side must carry the RUNTIME bloom
    filter (bloom_filter_agg built over the selectively-filtered dim's
    join keys, might_contain probing the fact rows before they
    shuffle) — the join-pruning mechanism for dims too large to
    broadcast over facts not partitioned by the join key. Also pins
    that the filter never changes results: the same frame with
    runtime bloom filters disabled is row-identical."""
    from duckdb_wasm_spark.plans import micro
    from duckdb_wasm_spark.testing import assert_parity

    with scoped_confs(spark, micro._BLOOM_CONFS):
        df = micro._bloom_join_frame(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, (
            "bloom filter aggregate missing from the dim side:\n"
            + plan[:1500]
        )
        assert "might_contain" in plan, (
            "might_contain probe missing from the fact side:\n"
            + plan[:1500]
        )
        with_bloom = df.collect()
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
        )
        try:
            no_bloom = micro._bloom_join_frame(spark, sf_dir)
            plan_off = (
                no_bloom._jdf.queryExecution().executedPlan().toString()
            )
            assert "bloom_filter_agg" not in plan_off
            assert with_bloom == no_bloom.collect()
        finally:
            spark.conf.set(
                "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
            )
    # the registered gate (checkpointed, confs restored) matches the
    # oracle and leaves no conf leaked behind
    out = micro.QUERIES["orders_bloom_join"](spark, sf_dir)
    assert (
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"
    ), "orders_bloom_join leaked autoBroadcastJoinThreshold=-1"
    assert_parity(
        out, micro.ORACLE["orders_bloom_join"], oracle, "orders_bloom_join"
    )


def test_aqe_skew_join_splits_at_runtime(spark, sf_dir, oracle):
    """events_aqe_skew_join's executed plan must carry a skewed
    AQEShuffleRead (OptimizeSkewedJoin split the hot partition along
    map boundaries) and the split must be result-invisible: the same
    frame with skew-join handling disabled is row-identical."""
    from duckdb_wasm_spark.plans import micro
    from duckdb_wasm_spark.testing import assert_parity

    with scoped_confs(spark, micro._AQE_SKEW_CONFS):
        df = micro._aqe_skew_frame(spark, sf_dir)
        with_skew = df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skewed" in plan, (
            "no skewed AQEShuffleRead in the executed plan:\n"
            + plan[:2000]
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        try:
            off = micro._aqe_skew_frame(spark, sf_dir)
            rows_off = off.collect()
            plan_off = off._jdf.queryExecution().executedPlan().toString()
            assert "skewed" not in plan_off
            assert sorted(map(tuple, with_skew)) == sorted(
                map(tuple, rows_off)
            )
        finally:
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    out = micro.QUERIES["events_aqe_skew_join"](spark, sf_dir)
    assert (
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"
    ), "events_aqe_skew_join leaked autoBroadcastJoinThreshold=-1"
    assert_parity(
        out,
        micro.ORACLE["events_aqe_skew_join"],
        oracle,
        "events_aqe_skew_join",
    )
