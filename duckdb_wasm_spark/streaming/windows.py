"""Event-time window aggregations over `events` — batch DataFrames
using the exact operators Structured Streaming runs incrementally
(`F.window`, `F.session_window`), each with a DuckDB oracle so the
driver's correctness gate covers the semantics.

Determinism: window boundaries are pure integer epoch arithmetic in
both engines (Spark window() ≡ DuckDB time_bucket for epoch-aligned
tumbling buckets); value sums follow the decimal accumulation policy.

Scale notes (100 TB): tumbling/sliding aggs are partial+final hash
aggregates keyed on (window, type) — one shuffle; the sliding window
fans each row into window/slide copies (2× here) before the partial
agg, exactly like Spark's streaming expansion. Session windows shuffle
by user and sort within partitions (Spark's session_window does the
merge sort-side; the lag/cumsum-islands text is the same algorithm
spelled out).

events_tumbling, events_session, events_rolling and events_anomaly run
their DuckDB-dialect text through the dialect translator
(`plans/_util.register_texts`). events_sliding keeps its DataFrame plan
(its text measured slower); the pruning and streaming queries keep
theirs because the plan is the capability under test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_wasm_spark.plans._util import (
    dec,
    dsum,
    register_texts,
    sql_dec,
    sql_dsum,
)
from duckdb_wasm_spark.scratch import scratch_dir, session_dir
from duckdb_wasm_spark.streaming import live
from duckdb_wasm_spark.tables import load_table, write_events_daily

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


def _q(name):
    def reg(fn):
        QUERIES[name] = fn
        return fn

    return reg


# -------------------------------------------------------- events_tumbling
# 1-hour tumbling windows per event_type: count + exact value sum.
# events_stream_tumbling runs the same aggregate as a stream and is
# checked against this text.
ORACLE["events_tumbling"] = f"""
select time_bucket(interval 1 hour, ts) window_start,
       event_type,
       count(*) n,
       {sql_dsum(sql_dec('value'))} sum_value
from events
group by 1, 2
"""


# --------------------------------------------------------- events_sliding
@_q("events_sliding")
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event lands in 2
    windows) — Spark's window(ts, '1 hour', '30 minutes')."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


# the oracle expands the slide fan-out explicitly: an event at t belongs
# to windows starting at bucket(t) and bucket(t) - 30min (those whose
# [start, start+1h) contains t)
ORACLE["events_sliding"] = """
with fan as (
  select time_bucket(interval 30 minutes, ts)
           - k * (interval 30 minutes) window_start,
         ts
  from events, (select unnest([0, 1]) k))
select window_start, count(*) n
from fan
where ts >= window_start
  and ts < window_start + interval 1 hour
group by 1
"""


# --------------------------------------------------------- events_session
SESSION_GAP_MIN = 10

# Per-user sessions with a 10-minute inactivity gap: user, session
# start, event count. The islands form: a new session starts where the
# gap from the user's previous event is >= the gap; a running sum of
# those starts numbers the sessions. One exchange by user_id. The
# streaming gate events_stream_session runs Spark's session_window over
# the same events and is checked against this text.
ORACLE["events_session"] = f"""
with marked as (
  select user_id, ts,
         case when lag(ts) over (partition by user_id order by ts)
                   is null
               or ts - lag(ts) over (partition by user_id order by ts)
                   >= interval {SESSION_GAP_MIN} minutes
              then 1 else 0 end new_session
  from events),
numbered as (
  select user_id, ts,
         sum(new_session) over (partition by user_id order by ts
                                rows unbounded preceding) session_id
  from marked)
select user_id, min(ts) session_start, count(*) n
from numbered
group by user_id, session_id
"""


# ---------------------------------------------------- events_daily_pruned
def daily_layout(spark: SparkSession, sf_dir: str) -> str:
    """The date-partitioned events layout for this session, written once
    per (session, sf_dir) into a `scratch.session_dir` (see
    tables.write_events_daily)."""
    return session_dir(
        spark, "dws_events_daily_", sf_dir, lambda out: write_events_daily(spark, sf_dir, out)
    )


@_q("events_daily_pruned")
def events_daily_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-day rollup over the date-partitioned events layout: the
    scan must prune to ONE `event_date=` directory (PartitionFilters —
    asserted in tests/test_partitioning.py), the 100×-scale path for
    time-bounded event queries. The day is resolved driver-side to a
    literal first (one scalar job) because static partition pruning
    needs a compile-time constant."""
    first_day = (
        load_table(spark, sf_dir, "events")
        .agg(F.min(F.to_date("ts")))
        .first()[0]
    )
    df = spark.read.parquet(daily_layout(spark, sf_dir)).where(
        F.col("event_date") == F.lit(first_day)
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(dec("value")).alias("sum_value"),
    )


ORACLE["events_daily_pruned"] = f"""
select event_type, count(*) n, {sql_dsum(sql_dec('value'))} sum_value
from events
where cast(ts as date) = (select min(cast(ts as date)) from events)
group by 1
"""


# --------------------------------------------------------- events_dpp_join
DPP_TOP_DAYS = 3  # dim side: the top-N purchase days


@_q("events_dpp_join")
def events_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING gate — the runtime half of partition
    pruning: events_daily_pruned proves STATIC pruning (a literal day
    reaches PartitionFilters); here the days are only known after
    running a dim-side query (top-3 purchase days), so Catalyst must
    insert a DPP subquery — the broadcast of the dim side doubles as
    a runtime partition filter on the fact scan, and only those 3
    `event_date=` directories are read. This is THE mechanism that
    makes fact-dim joins over a date-partitioned 100 TB event lake
    touch days, not history; tests/test_partitioning.py asserts
    `dynamicpruning` appears in the fact scan's partition filters.

    Determinism: the dim's top-3 is totally ordered (count desc, day
    asc); `value` is floored to integer micros per event before the
    bigint sum (the repo's fixed-point law)."""
    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("event_date"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy(F.col("n_purchases").desc(), F.col("event_date"))
        .limit(DPP_TOP_DAYS)
    )
    fact = spark.read.parquet(daily_layout(spark, sf_dir))
    return (
        fact.join(F.broadcast(dim), "event_date")
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.expr("cast(floor(value * 1000000) as bigint)")
            ).alias("sum_value_micros"),
            F.max("n_purchases").alias("n_purchases"),  # dim attr
        )
        .orderBy("event_date")
    )


ORACLE["events_dpp_join"] = f"""
with dim as (
  select cast(ts as date) event_date, count(*) n_purchases
  from events where event_type = 'purchase'
  group by 1
  order by n_purchases desc, event_date
  limit {DPP_TOP_DAYS})
select d.event_date, count(*) n_events,
       cast(sum(cast(floor(e.value * 1000000) as bigint)) as bigint)
         sum_value_micros,
       max(d.n_purchases) n_purchases
from events e join dim d on cast(e.ts as date) = d.event_date
group by 1
order by 1
"""


# ------------------------------------------------------- events_rolling
ROLL_SECONDS = 600  # rolling 10-minute lookback

# Per-row rolling 10-minute lookback per user (RANGE frame over event
# time): how many events and how much value this user produced in the 10
# minutes up to and including each event — the per-event feature a rate
# limiter or fraud scorer computes. The RANGE frame holds every row
# within 600s, however many there are; ordering by integer epoch
# seconds keeps frame membership exact in both engines.
ORACLE["events_rolling"] = f"""
select user_id, event_id,
       count(*) over w n_10m,
       cast(sum({sql_dec('value')}) over w as double) sum_10m
from events
where user_id < 40
window w as (partition by user_id
             order by cast(floor(epoch(ts)) as bigint)
             range between {ROLL_SECONDS} preceding and current row)
"""
# floor(), not a bare ::bigint cast: DuckDB's double→bigint cast ROUNDS
# the fractional seconds while Spark's timestamp→long cast truncates —
# a half-second event would land in different epoch seconds and flip
# frame membership at exact 600s boundaries


# --------------------------------------------------------- events_anomaly
ANOM_TRAIL = 24  # trailing hourly buckets in the baseline
ANOM_MIN_BUCKETS = 12  # need at least this much history to score
ANOM_Z = 2.0

# Per-hour event-count anomaly flags per event type: z-score of each
# hour's count against the trailing ANOM_TRAIL hourly buckets (excluding
# the current hour), flagged at |z| > 2 — the monitoring query an event
# pipeline alerts on. Counts are integers, the window sums exact longs,
# and mean/variance/z use only correctly-rounded ops (+ - * / sqrt), so
# the doubles are bit-identical across engines. Hours with fewer than
# ANOM_MIN_BUCKETS of history or zero variance score NULL, and an
# unscored hour is not anomalous. One (hour, type) hash aggregate, then
# one window shuffled by event_type ordered by hour: the baseline state
# is 24 longs per type at any scale.
ORACLE["events_anomaly"] = f"""
with hourly as (
  select date_trunc('hour', ts) hour_start, event_type, count(*) n
  from events group by 1, 2),
d as (
  select hour_start, event_type, n,
         count(*) over w n_hist,
         sum(n) over w s1,
         sum(n * n) over w s2
  from hourly
  window w as (partition by event_type order by hour_start
               rows between {ANOM_TRAIL} preceding and 1 preceding)),
z as (
  select hour_start, event_type, n,
         case when n_hist >= {ANOM_MIN_BUCKETS}
               and (n_hist * cast(s2 as double)
                    - cast(s1 as double) * cast(s1 as double))
                   / (cast(n_hist as double) * n_hist) > 0
              then (cast(n as double) - cast(s1 as double) / n_hist)
                   / sqrt((n_hist * cast(s2 as double)
                           - cast(s1 as double) * cast(s1 as double))
                          / (cast(n_hist as double) * n_hist))
         end z
  from d)
select hour_start, event_type, n, z,
       coalesce(abs(z) > {ANOM_Z}, false) is_anomaly
from z
"""


# ------------------------------------------------- events_stream_tumbling
@_q("events_stream_tumbling")
def events_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events_tumbling aggregate run THROUGH the Structured
    Streaming engine: the staged events stream (2 micro-batches, each
    spanning the whole time range, so every window's state carries
    across the batch boundary), groupBy(window(ts, 1h), type) into a
    complete-mode memory sink, hash-checked against the same batch SQL
    oracle. This is the registered proof that the incremental operator
    graph computes the batch answer.

    Complete output mode deliberately: append mode only emits windows
    the watermark has closed, so the replay's LAST window would be
    withheld and the result could never equal the batch oracle;
    complete mode emits the full aggregation state after the final
    micro-batch, which for a finite source IS the batch result. No
    watermark: complete mode evicts no state, so one would change
    nothing.

    Scale (production): the same graph runs unbounded in update mode
    with a watermark bounding state; the memory sink is the gate
    harness, a deployment writes to a table sink.

    Determinism: window boundaries are epoch-integer arithmetic; sums
    follow the decimal policy and are associative, so the micro-batch
    split does not change the final state."""
    agg = (
        live.events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(dec("value")).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return live.drain(agg, "complete", "events_stream_tumbling_sink")


# the whole point is stream ≡ batch against the SAME oracle text —
# alias it so the two can never fork
ORACLE["events_stream_tumbling"] = ORACLE["events_tumbling"]


# -------------------------------------------------- events_stream_session
@_q("events_stream_session")
def events_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_session run THROUGH the Structured Streaming engine —
    session_window is the hardest stateful streaming shape (windows
    MERGE as events arrive: two open sessions fuse when a bridging
    event lands, so state is not a static key space like tumbling).
    The staged stream's 2 micro-batches each span the whole time
    range, so sessions opened in batch 0 merge with batch 1's events,
    and the gate checks that incremental merge against the batch
    islands answer.

    Same harness as events_stream_tumbling: complete-mode memory sink,
    no watermark. Complete mode both emits the full final state for a
    finite source (≡ batch) and is the mode where streaming session
    aggregation needs no watermark — nothing is evicted, so arrival
    order within the replay cannot change the final merge.

    Scale (production): unbounded deployments run this graph in
    append/update mode with a watermark bounding session state
    (live.stream_late_data_drop pins the watermark-drop law); state is
    per-user and partition-local, so the merge cost follows per-user
    event density, not corpus size.

    Determinism: session boundaries are exact timestamp arithmetic
    (gap >= 10 min starts a new island in the oracle; session_window
    merges on gap < 10 min — the same partition of the event
    sequence); counts are integers."""
    agg = (
        live.events_stream(spark, sf_dir)
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n",
        )
    )
    return live.drain(agg, "complete", "events_stream_session_sink")


ORACLE["events_stream_session"] = ORACLE["events_session"]


# ------------------------------------------------- events_stream_stateful
@_q("events_stream_stateful")
def events_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState CUSTOM stateful operator, driver-
    gated: live.run_stateful_counts streams the events table as 2
    micro-batches through a per-event-type GroupState running total
    (update-mode memory sink keeps every per-batch emission). The
    running totals are MONOTONE, so max(total) per key is the final
    state — and the final state of a running count IS the batch
    count(*), which makes the custom operator's result SQL-expressible
    and hash-checkable against the oracle even though the operator
    itself (arbitrary Python state transitions) is beyond SQL.

    Scale / determinism: state is per-key and partition-local
    (per-type longs, constant size); totals are integers and the
    final max is batch-order-independent, so the gate does not depend
    on micro-batch boundaries.

    Cost note: the wall is almost entirely the micro-batch rounds'
    fixed cost (streaming-query start + per-batch Python state
    workers). The batch oracle is a near-zero count(*): the comparison
    buys the gate, not a like-for-like speed race — unbounded
    deployments amortize exactly this machinery across the stream."""
    got = live.run_stateful_counts(spark, sf_dir)
    return got.groupBy("event_type").agg(F.max("total").alias("n"))


ORACLE["events_stream_stateful"] = """
select event_type, cast(count(*) as bigint) n
from events
group by event_type
"""


# --------------------------------------------------- events_stream_dedup
@_q("events_stream_dedup")
def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT DEDUP through the engine's
    ``dropDuplicatesWithinWatermark`` operator, driver-gated:
    live.stream_dedup_keys streams the events table micro-batch-wise
    and drops repeated (user_id, event_type) keys across batches in
    watermarked dedup state (append-mode memory sink = first
    occurrence of each key). The watermark delay exceeds the staged
    data's span, so no state is evicted mid-replay and the kept key
    set equals the batch DISTINCT exactly — the per-type count of
    deduped keys is then count(distinct user_id), which makes the
    streaming operator's result hash-checkable in SQL. (The final
    count over the sink is batch-side presentation; the DEDUP — the
    stateful operator under test — ran on the stream.)

    Scale (100 TB feed): the watermark delay is what bounds dedup
    state on an unbounded stream — keys older than the delay are
    evicted, so state follows the distinct-key arrival rate within
    the window, not stream length (the eviction law itself is pinned
    by tests/test_streaming.py's late-data cases)."""
    got = live.stream_dedup_keys(spark, sf_dir)
    return got.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users")
    )


ORACLE["events_stream_dedup"] = """
select event_type, count(distinct user_id) n_users
from events
group by event_type
"""


# ---------------------------------------------------- events_stream_join
@_q("events_stream_join")
def events_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join through the engine, driver-gated:
    live.stream_interval_join runs purchases ⨝ clicks (same user,
    click within the 30 minutes before the purchase) as two watermarked
    readStreams over the staged round-robin source — the last hard
    streaming operator class after windowed agg / session merge /
    custom state / dedup. The round-robin layout puts a user's clicks
    and purchases in both micro-batches, so matches flow through the
    join state across the batch boundary. Both sides must be
    watermarked: the watermark plus the time-range condition are what
    let the engine bound join state. Inner stream-stream joins emit
    matches as both sides buffer (no watermark withholding — that is
    outer-join behavior), and the 60-day delay exceeds the staged
    data's 30-day span so no buffered row is evicted mid-replay: the
    streamed match set equals the batch join exactly, hash-checked as
    per-purchase click counts (the count over the sink is batch-side
    presentation; the JOIN ran on the stream).

    Cost: stream-stream joins instantiate the source once PER SIDE, so
    each staged file is read by both branches and every micro-batch
    pays both sides' join state stores.

    Scale (100 TB feed): with a production delay, each side buffers
    arrival-rate × (delay + interval) rows — the watermark plus the
    time-range predicate are precisely what make an unbounded
    stream-stream join's state finite."""
    got = live.stream_interval_join(spark, sf_dir)
    return got.groupBy("p_id").agg(
        F.any_value("p_user").alias("user_id"),
        F.count(F.lit(1)).alias("n_clicks"),
        F.min("c_id").alias("first_click_id"),
    )


ORACLE["events_stream_join"] = """
with c as (select event_id c_id, user_id, ts c_ts from events
           where event_type = 'click'),
p as (select event_id p_id, user_id, ts p_ts from events
      where event_type = 'purchase')
select p_id, any_value(p.user_id) user_id, count(*) n_clicks,
       min(c_id) first_click_id
from p join c on p.user_id = c.user_id
 and c_ts >= p_ts - interval 30 minutes and c_ts <= p_ts
group by p_id
"""


# ---------------------------------------------------- events_stream_sink
@_q("events_stream_sink")
def events_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE FILE SINK gate, the sixth real streaming execution:
    a stateless watermark-free stream (filter + projection) is written
    micro-batch by micro-batch to a PARQUET DIRECTORY SINK with a
    checkpoint, then read back as a batch table and aggregated against
    the batch oracle. What this gates is the sink's transactional
    contract: FileStreamSink records each micro-batch's files in the
    _spark_metadata commit log, and the batch read consults that log —
    so a replayed/duplicated micro-batch, an orphan task file, or a
    torn commit shows up as a row-count/hash mismatch. This is the
    missing sink-side half of the stream≡batch law (the five existing
    gates all prove operator state through a memory sink; production
    pipelines land on files).

    A fresh `scratch.scratch_dir` sink per invocation: the sink's
    _spark_metadata log skips batch ids it already holds, so a second
    run into the same dir would write nothing. The sink dir stays until
    exit — it IS the gated output.

    Scale: the file sink is the standard lakehouse landing pattern —
    per-batch manifests commute with any executor parallelism, and the
    downstream batch read is an ordinary pruned parquet scan."""
    out = scratch_dir("events_sink_")
    stream = (
        live.events_stream(spark, sf_dir)
        .where(F.col("event_type").isin("click", "purchase"))
        .select("event_id", "user_id", "event_type", "value")
    )
    live.drain(stream, "append", lambda w: w.format("parquet").option("path", out))
    sunk = spark.read.parquet(out)  # reads via the _spark_metadata log
    return sunk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").cast("long").alias("sum_user"),
        dsum(dec("value")).alias("sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


ORACLE["events_stream_sink"] = f"""
select event_type, count(*) n,
       cast(sum(user_id) as bigint) sum_user,
       {sql_dsum(sql_dec('value'))} sum_value,
       min(event_id) min_id,
       max(event_id) max_id
from events
where event_type in ('click', 'purchase')
group by event_type
"""


# ---------------------------------------------- events_stream_outer_join
@_q("events_stream_outer_join")
def events_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER interval join gate, the ninth real
    streaming execution and the one class the inner-join gate cannot
    prove: WATERMARK-DRIVEN STATE EVICTION. An unmatched purchase is
    emitted with a NULL click only when the 1-day watermark certifies
    no qualifying click can still arrive — so every NULL row in the
    sink is an eviction event, and a watermark bug (dropping live
    rows, never evicting, double-emitting on eviction) breaks the
    hash. Runs over the TIME-ORDERED staged layout with trailing
    heartbeat sentinels (live._staged_stream_source_ordered): a
    production-scale delay only bounds state when arrival roughly
    follows event time (the round-robin layout would DROP rows under
    a 1-day watermark), and the sentinels push the final watermark
    past the data so end-of-replay state fully certifies — the
    finite-replay stand-in for a live feed's continuous arrivals.

    One data file, then the two sentinels: the matched multiplicities
    are in-batch either way, and the eviction semantics the gate exists
    for live in the sentinel batches' watermark trajectory (after the
    data batch the watermark is max_data - 1 d and certifies part of
    the purchases; past max_data it certifies the rest). Each side's
    watermark sits BEFORE its event-type filter, so the sentinel rows
    advance event time without entering the join.

    The streamed rows — matched multiplicities AND eviction nulls —
    must hash-equal the COMPLETE batch left join: per purchase,
    n_clicks counts non-null click ids, first_click_id is NULL
    exactly when the stream evicted.

    Scale (100 TB feed): state = arrival-rate × (1 day + 30 min) per
    side; the inner gate's replay-safe 60-day delay buffers the whole
    feed instead — THIS is the production configuration."""
    got = live.stream_outer_join(spark, sf_dir)
    # drop the user=-1 sentinel punctuation rows HERE, batch-side over
    # the sink: a streaming-plan predicate would be pushed below the
    # EventTimeWatermark operator and starve the watermark (see
    # live.stream_outer_join)
    return (
        got.where(F.col("p_user") >= 0)
        .groupBy("p_id")
        .agg(
            F.any_value("p_user").alias("user_id"),
            F.count("c_id").alias("n_clicks"),
            F.min("c_id").alias("first_click_id"),
        )
    )


ORACLE["events_stream_outer_join"] = """
with c as (select event_id c_id, user_id, ts c_ts from events
           where event_type = 'click'),
p as (select event_id p_id, user_id, ts p_ts from events
      where event_type = 'purchase')
select p_id, any_value(p.user_id) user_id,
       cast(count(c_id) as bigint) n_clicks,
       min(c_id) first_click_id
from p left join c on p.user_id = c.user_id
 and c_ts >= p_ts - interval 30 minutes and c_ts <= p_ts
group by p_id
"""


# --------------------------------------------- events_stream_static_join
@_q("events_stream_static_join")
def events_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC broadcast enrichment gate, the eighth real
    streaming execution: live.stream_static_enrich joins the staged
    events stream to the STATIC customer dimension per micro-batch
    (broadcast hash join — the standard feed-enrichment pattern and
    the one streaming join class the existing gates did not cover:
    tumbling/session/window agg, custom state, dedup, stream-stream
    interval join, file sink, Python DataSource are all gated; the
    stream-STATIC join was not). Complete-mode segment totals over
    the full replay must equal the batch join+aggregate, hash-checked.

    The double `value` is floored to integer micros per event before
    summing, so the totals commute across micro-batch boundaries —
    the same fixed-point law every aggregate in this repo follows.

    Scale (100 TB feed): dim broadcasts; the only streaming state is
    |segments| aggregate rows. A dim too big to broadcast shuffles
    BOTH sides per micro-batch — that is the signal to pre-key the
    stream by the dim's bucketing instead. No watermark: a
    stream-static inner equi-join is stateless; only the downstream
    aggregate keeps state."""
    return live.stream_static_enrich(spark, sf_dir).orderBy("c_mktsegment")


ORACLE["events_stream_static_join"] = """
select c_mktsegment,
       count(*) n_events,
       cast(sum(cast(floor(value * 1000000) as bigint)) as bigint)
         sum_value_micros,
       min(event_id) min_event_id,
       max(event_id) max_event_id
from events e join customer c on e.user_id = c.c_custkey
group by c_mktsegment
order by c_mktsegment
"""


# -------------------------------------------------- events_stream_upsert
@_q("events_stream_upsert")
def events_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE-mode + foreachBatch idempotent upsert gate, the TENTH
    real streaming execution — the sink-semantics class the other nine
    do not cover: append (windows, joins, file sink) and complete
    (static join totals) modes are gated, but UPDATE mode — emit only
    keys whose state changed this micro-batch — plus the
    foreachBatch append/last-writer-wins upsert store is THE pattern
    production pipelines use against merge-less sinks (plain parquet
    lakes). live.stream_upsert runs the real micro-batches; the
    resolved store (latest batch per user) must hash-equal the batch
    per-user aggregate over the full table. Replay is IDEMPOTENT: a
    re-delivered batch re-appends identical rows under the same
    batch_id, and the latest-batch resolution collapses them
    (tests/test_streaming.py::test_upsert_store_replay_idempotent).
    No watermark: a running (unwindowed) aggregate's state is keyed by
    user only, and update mode emits deltas without one.

    Per-event fixed-point flooring keeps the running sums micro-batch-
    order-independent (the repo's law); update-mode output is bounded
    by keys touched per batch, not key cardinality — the property
    that makes this shape viable at 100 TB feeds."""
    return live.stream_upsert(spark, sf_dir).orderBy("user_id")


ORACLE["events_stream_upsert"] = """
select user_id,
       count(*) n_events,
       cast(sum(cast(floor(value * 1000000) as bigint)) as bigint)
         sum_value_micros
from events
group by user_id
order by user_id
"""


register_texts(QUERIES, ORACLE)
