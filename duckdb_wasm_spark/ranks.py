"""Two-phase distributed global rank.

A `row_number() OVER (ORDER BY ...)` with no partition spec funnels the
whole corpus through ONE task — fine in a single-node columnar engine
(the DuckDB oracles keep that form: it is the reference semantics, not
our plan), a non-starter on a 1000-executor cluster. The distributed
equivalent: range-repartition on the sort key so rank blocks are
contiguous, rank WITHIN partitions (a window partitioned by the
physical partition id — embarrassingly parallel), then add per-
partition offsets (a prefix sum over <= RANK_PARTS rows, broadcast
back).

Correctness notes:
  - The frame is localCheckpoint'd: spark_partition_id() depends on
    the sampled range boundaries, so the lineage must evaluate ONCE —
    the offsets and the local ranks must observe the same pids. The
    ranks themselves are boundary-independent (offset + local rank is
    exact for ANY contiguous split of the sorted order).
  - Ties in the sort key make row-level rank assignment
    nondeterministic ACROSS tied rows; the VALUE of the ordered
    columns at a given rank is still exact and deterministic. Callers
    therefore read only the ordered columns at a picked rank (the
    order-statistic use), never row identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Rank blocks per corpus. At 100 TB this would follow the executor
# count; the offsets window stays a <= RANK_PARTS-row frame either way.
RANK_PARTS = 32


def global_ranks(
    df: DataFrame, cols: list[str], keys: list[str] | tuple = ()
) -> DataFrame:
    """`df` (narrow: project to the sort columns first) plus a global
    1-based `rn` rank column under ORDER BY `cols`, with no
    partition-less corpus window in the executed plan.

    With `keys`, ranks restart per key group (`rn` is the 1-based rank
    of the row WITHIN its key group under ORDER BY `cols`) while the
    plan stays fully distributed: range-repartitioning on
    (keys + cols) makes each key group's sorted order contiguous
    across partition ids, the in-partition window partitions by
    (_pid, keys), and the offsets frame is <= RANK_PARTS rows PER KEY
    (a window partitioned only by a low-cardinality class key still
    funnels corpus-scale frames through single tasks — this is the
    distributed replacement)."""
    keys = list(keys)
    part = df.repartitionByRange(RANK_PARTS, *keys, *cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    loc = part.withColumn(
        "_rn_local",
        F.row_number().over(
            Window.partitionBy("_pid", *keys).orderBy(*cols)
        ),
    ).localCheckpoint()
    counts = loc.groupBy("_pid", *keys).agg(
        F.max("_rn_local").alias("_c")
    )
    # prefix sum over <= RANK_PARTS rows per key — bounded by
    # construction (keys=[] keeps the original global form)
    off_w = (
        Window.partitionBy(*keys).orderBy("_pid")
        if keys
        else Window.orderBy("_pid")
    )
    offs = counts.select(
        "_pid",
        *keys,
        F.coalesce(
            F.sum("_c").over(
                off_w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
    )
    return (
        loc.join(F.broadcast(offs), ["_pid", *keys])
        .withColumn("rn", F.col("_rn_local") + F.col("_off"))
        .drop("_pid", "_rn_local", "_off")
    )


def keyed_prefix_sum(
    df: DataFrame,
    cols: list[str],
    val: str,
    keys: list[str] | tuple = (),
) -> DataFrame:
    """`df` plus a `cum` column: the running sum of `val` under
    ORDER BY `cols` within each `keys` group (ROWS unbounded-preceding
    frame), with no per-key corpus-scale window in the executed plan —
    the distributed replacement for
    `sum(val) OVER (PARTITION BY key ORDER BY cols)` when `key` has a
    handful of values (such a window funnels each
    key's whole corpus share through one task).

    Same two-phase shape as global_ranks: range-repartition on
    (keys + cols) so each key group's order is contiguous across
    partition ids, run the running sum within (_pid, keys), then add
    per-(partition, key) totals prefix-summed over <= RANK_PARTS rows
    per key and broadcast back.  The localCheckpoint pins
    spark_partition_id() to one evaluation (see module docstring).

    Contract: `cols` must be a TOTAL order within each key group —
    with ties the ROWS-frame running sum would be split-dependent
    across tied rows (the same caveat as global_ranks rank identity).
    """
    keys = list(keys)
    part = df.repartitionByRange(RANK_PARTS, *keys, *cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    loc = part.withColumn(
        "_cs_local",
        F.sum(val).over(
            Window.partitionBy("_pid", *keys)
            .orderBy(*cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).localCheckpoint()
    totals = loc.groupBy("_pid", *keys).agg(F.sum(val).alias("_t"))
    off_w = (
        Window.partitionBy(*keys).orderBy("_pid")
        if keys
        else Window.orderBy("_pid")
    )
    offs = totals.select(
        "_pid",
        *keys,
        F.coalesce(
            F.sum("_t").over(
                off_w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
    )
    return (
        loc.join(F.broadcast(offs), ["_pid", *keys])
        .withColumn("cum", F.col("_cs_local") + F.col("_off"))
        .drop("_pid", "_cs_local", "_off")
    )
