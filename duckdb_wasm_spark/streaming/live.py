"""True Structured Streaming pipelines over the events data:

  stream_tumbling_counts  file-source readStream → watermark → windowed
                          aggregation → memory sink; processes all
                          available input and must equal the batch form
  run_stateful_counts     applyInPandasWithState custom stateful
                          operator: per-event-type running totals kept
                          in GroupState across micro-batches

Scale notes: the file source feeds micro-batches per file
(maxFilesPerTrigger); watermark bounds state for late data; the
stateful operator's state is per-group and partition-local — the same
code runs against a Kafka source on a cluster unchanged.

Family floor ledger (r11 verdict #5; sf0.1/local[32], warm, measured
from recentProgress.durationMs): a drained 2-batch stateful gate pays
~0.9s batch-0 (addBatch ~0.4s + incremental queryPlanning ~0.25s +
first commitOffsets ~0.15s) + ~0.5s batch-1 + ~0.2s start/stop — a
~1.1-1.7s floor per gate that is FIXED cost, flat in data volume
(production amortizes it over unbounded input; a finite replay cannot).
The r12 trims: RAM-backed checkpoints (scratch_checkpoint — offset/
commit/state-store I/O off disk), trailing no-data micro-batch
disabled wherever the sink's emission is not watermark-flushed
(stream_late_data_drop keeps it: append-mode session windows flush ON
the no-data batch), and the outer join's layout at one data file.
Family warm total 20.3s → 17.6s across the ten gates, every gate
hash-green; what remains is ten × the per-query floor above, with the
two stream-stream joins (2.4s, 3.4s — two sources per side, 4 state
stores per batch) and the Python-datasource gate (2.5s — ~1s/batch
driver-side Python read through the runner) the priced outliers.

r13 irreducibility sweep (the extra_stats discipline — measure the
candidate cuts, keep the floor if they lose):
  - UNIFYING the two join gates on the ordered_1 layout (r12 verdict
    #4) was implemented and MEASURED WORSE: the inner join went from
    2 heavy batches (3.0s) to 1 heavy + 2 sentinel batches (4.7s),
    because a sentinel batch against a stream-stream join is NOT
    cheap — its eviction pass SCANS the buffered state (measured
    1.0-1.1s for a 4-row input batch; addBatch dominates) — and the
    round-robin interleave is what makes the inner gate genuinely
    CROSS-batch (matches flow through state between batch 0 and 1);
    the ordered layout would put every match in batch 0. Reverted.
  - State-partition sweep (2/4/8/16 for the join gates): n=2 and n=4
    are within noise of each other (3.0-3.4s inner), n >= 8 regresses
    (per-partition state-store commit overhead × 4 stores). Kept 2.
  - Batch counts are at their semantic minimum: inner 2 (the minimum
    that proves cross-batch matching), outer 3 (data + watermark
    advance + eviction pass — eviction needs the watermark computed
    by the PREVIOUS batch, so 2 sentinels is the floor; one sentinel
    + a trailing no-data batch just renames the third batch), every
    windowed/stateful gate 2.
The family wall is therefore ~batch-count × the per-batch floor
(plan ~0.2s + addBatch incl. state scan/commit ~0.5-1.3s + offsets/
wal ~0.2s), a fixed cost that production amortizes over unbounded
input and a finite replay cannot.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from duckdb_wasm_spark.artifacts import _fingerprint, committed_dir
from duckdb_wasm_spark.tables import load_table


from contextlib import contextmanager


@contextmanager
def state_partitions(spark: SparkSession, n: int = 2):
    """Run a streaming query start/drain under a right-sized stateful
    shuffle-partition count. A streaming query pins
    spark.sql.shuffle.partitions as its STATE STORE count at first
    start; the batch default (32) means 32 store instances per
    stateful operator paying per-micro-batch commit overhead — pure
    fixed cost at toy volume, and a number production sizes to state
    volume anyway. Restores the previous value so batch plans are
    unaffected (events_stream_join: 7.3s -> 3.7s at sf0.1 going
    32 -> 8; r10 verdict #5 re-measured 8 -> 2:
    events_stream_outer_join 8.9s -> 5.8s, hash unchanged — the
    results are partition-count-invariant, only the per-micro-batch
    store-commit fixed cost moves)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@contextmanager
def scratch_checkpoint():
    """RAM-backed checkpoint directory for one finite replay drain
    (r11 verdict #5). Without an explicit location Spark creates a
    temporary checkpoint under java.io.tmpdir — DISK here — and every
    micro-batch pays offset-log, commit-log, and state-store file
    I/O against it; a production deployment puts checkpoints on the
    fastest durable store it has, and for a drain whose sink is an
    in-memory table the checkpoint has no post-query value at all.
    /dev/shm (tmpfs) is the single-node stand-in; falls back to the
    default temp dir when absent. Removed on exit — bounded memory."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    d = tempfile.mkdtemp(prefix="dws_ckpt_", dir=base)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


@contextmanager
def no_trailing_empty_batch(spark: SparkSession):
    """Disable the trailing NO-DATA micro-batch for a drain whose
    final state flush is driven by DATA (the heartbeat sentinels
    advance the watermark as real rows), so the extra empty batch is
    pure per-query fixed cost. NOT used by gates whose append-mode
    flush relies on the no-data batch (they keep the default)."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _layouts_dir(kind: str) -> str:
    """Directory of one staged stream layout kind, beside the index
    artifacts (resolved per call: a caller may redirect the store)."""
    from duckdb_wasm_spark import artifacts

    return os.path.join(os.path.dirname(artifacts._ROOT), "stream_layouts", kind)


def _staged_stream_source(
    spark: SparkSession, sf_dir: str, n_files: int = 2
) -> tuple[str, T.StructType]:
    """Stage the events table as N parquet files so the file stream
    source delivers several micro-batches. The layout is environment
    setup (the stand-in for the Kafka topic / landing directory a
    deployment already has), not operator cost — it persists across
    sessions through the artifact store's commit protocol
    (artifacts.committed_dir, fingerprinted on the events table and the
    package code), so
    cold sessions replay the existing landing dir instead of
    re-writing the table."""
    memo: dict = spark.__dict__.setdefault("_dws_stream_src", {})
    key = (sf_dir, n_files)
    if key not in memo:
        ev = load_table(spark, sf_dir, "events")
        # watermarks require TIMESTAMP (with zone): the naive-parquet ts
        # column arrives as TIMESTAMP_NTZ, which EventTimeWatermark
        # rejects. Cast at the staging boundary — session tz is UTC, so
        # the mapping is the identity a naive event log means.
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        out = committed_dir(
            _layouts_dir(f"roundrobin_{n_files}"),
            sf_dir,
            _fingerprint(sf_dir, ("events",)),
            lambda out: ev.repartition(n_files)
            .write.mode("overwrite")
            .parquet(out),
        )
        memo[key] = (out, ev.schema)
    return memo[key]


def _staged_stream_source_ordered(
    spark: SparkSession, sf_dir: str, n_files: int = 2
) -> tuple[str, T.StructType]:
    """Time-ORDERED staged layout + heartbeat sentinels: files are
    range-partitioned on ts and ascending in replay order, so the file
    stream source delivers micro-batches whose event times advance
    monotonically — the arrival pattern a real ingest feed has, and
    the one a PRODUCTION watermark (a day, not the replay-safe 60-day
    delay) needs: the round-robin staging of _staged_stream_source
    interleaves the full time span into every batch, so any watermark
    shorter than the span would DROP rows there.

    Two trailing sentinel files (ts = max+10d + i hours) replay
    AFTER the data and push the watermark PAST it — the finite-replay
    stand-in for a live feed's continuous arrivals, without which
    end-of-stream state is never certified and append-mode outer rows
    stay withheld forever (watermarks only advance on data). Each
    sentinel carries one 'click' and one 'purchase' row with
    user_id = -1: a neutral event_type would be PUSHED-DOWN-filtered
    below the EventTimeWatermark operator by consumers' event-type
    predicates and never advance event time (measured: the watermark
    froze at max_data - delay and the join withheld the tail), while
    typed rows pass the per-side filters, advance BOTH sides'
    watermarks, match nothing (user -1 never occurs in data), and are
    never themselves certified (the watermark never passes their own
    far-future ts), so they add zero output rows. Standard punctuation
    discipline, stated rather than hidden. Persists across sessions
    like the unordered variant."""
    memo: dict = spark.__dict__.setdefault("_dws_stream_src_ord", {})
    key = (sf_dir, n_files)
    if key not in memo:
        import calendar
        import glob as globmod

        import pyarrow as pa
        import pyarrow.parquet as pq

        ev = load_table(spark, sf_dir, "events")
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))

        def _write(out):
            staging = tempfile.mkdtemp(prefix="events_stream_ord_stage_")
            (
                ev.repartitionByRange(n_files, "ts")
                .sortWithinPartitions("ts")
                .write.mode("overwrite")
                .parquet(staging)
            )
            # sequential names carry the range order; _stamp_replay_order
            # turns them into the mtimes the stream source replays by
            parts = sorted(globmod.glob(f"{staging}/part-*.parquet"))
            for i, p in enumerate(parts):
                shutil.copyfile(p, f"{out}/{i:04d}-chunk.parquet")
            shutil.rmtree(staging, ignore_errors=True)
            max_ts = ev.agg(F.max("ts")).collect()[0][0]
            base_us = (
                calendar.timegm(max_ts.utctimetuple()) * 1_000_000
                + max_ts.microsecond
            )
        # TWO sentinels (r10 verdict #5 trimmed the third: the gate
        # hash over the REAL rows is unchanged — the extra sentinel
        # only ever matched the other sentinels): the watermark
        # computed from batch k's data drives eviction in batch k+1,
        # so sentinel 1 advances the watermark past the data and
        # sentinel 2's batch runs the final eviction pass under it
            proto = pq.read_table(f"{out}/0000-chunk.parquet").slice(0, 2)
            for i in range(2):
                us = base_us + (10 * 86_400 + i * 3_600) * 1_000_000
                cols = []
                fields = []
                for name in proto.schema.names:
                    col = proto.column(name)
                    if name == "ts":
                        # MUST be UTC-adjusted (isAdjustedToUTC=true): the
                        # Spark-written chunks carry INT96 timestamps the
                        # reader maps to TIMESTAMP, and an NTZ-annotated
                        # sentinel fails the stream's schema with
                        # PARQUET_COLUMN_DATA_TYPE_MISMATCH
                        ts_type = pa.timestamp("us", tz="UTC")
                        cols.append(
                            pa.array([us, us], type=pa.int64()).cast(ts_type)
                        )
                        fields.append(pa.field(name, ts_type))
                    elif name == "event_type":
                        cols.append(
                            pa.array(["click", "purchase"], type=col.type)
                        )
                        fields.append(proto.schema.field(name))
                    elif name == "user_id":
                        cols.append(pa.array([-1, -1], type=col.type))
                        fields.append(proto.schema.field(name))
                    else:
                        cols.append(col)
                        fields.append(proto.schema.field(name))
                # zz- prefix: sorts, so replays, strictly after the data
                dst = f"{out}/zz-sentinel-{i}.parquet"
                pq.write_table(pa.table(cols, schema=pa.schema(fields)), dst)
        out = committed_dir(
            _layouts_dir(f"ordered_{n_files}"),
            sf_dir,
            _fingerprint(sf_dir, ("events",)),
            _write,
        )
        memo[key] = (out, ev.schema)
    _stamp_replay_order(memo[key][0])
    return memo[key]


# a fixed base keeps the stamps idempotent across serves and processes
_REPLAY_BASE_MTIME = 1_600_000_000


def _stamp_replay_order(layout: str) -> None:
    """Stamp strictly ascending mtimes in file-name order. The file
    stream source replays by (mtime, then listing order), and Spark
    writes the parts in parallel with one mtime, so an early-time file
    replaying late gets its rows watermark-dropped. The order lives in
    the names; the mtimes are re-derived on every serve, so a copy that
    lost them (cp -r, a restore, a touch) still replays in order."""
    names = sorted(n for n in os.listdir(layout) if n.endswith(".parquet"))
    for i, n in enumerate(names):
        t = _REPLAY_BASE_MTIME + i
        os.utime(os.path.join(layout, n), (t, t))


def stream_outer_join(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, object]:
    """STREAM-STREAM LEFT OUTER interval join with a PRODUCTION-scale
    watermark — the state-EVICTION semantics the inner gate cannot
    exercise: a purchase with no click in its 30-minute lookback is
    emitted (click side NULL) only once the watermark certifies no
    match can still arrive, i.e. null-emission IS the eviction event.
    Both sides run a 1-day delay over the time-ordered staged layout
    (see _staged_stream_source_ordered — with the round-robin layout
    a 1-day watermark would drop rows and the hash gate would catch
    it), so join state stays bounded by arrival-rate × (delay +
    interval) instead of the replay-safe inner gate's
    buffer-everything 60 days.

    The staged layout's trailing heartbeat sentinels push the final
    watermark PAST the data (the finite-replay stand-in for a live
    feed's continuous arrivals), so EVERY purchase is certified —
    matched multiplicities and eviction nulls both — and the streamed
    set equals the complete batch left join. The watermark operator
    sits BEFORE the event-type filter on each side so the heartbeat
    rows advance event time without entering the join.

    Returns the streamed join rows."""
    # ONE data file (r11 verdict #5): the matched multiplicities are
    # in-batch either way, and the eviction semantics the gate exists
    # for live entirely in the sentinel batches' watermark trajectory
    # (WM = max_data - 1d after the data batch certifies part of the
    # purchases, then WM past max_data certifies the rest) — the
    # second data batch was one fixed micro-batch round buying
    # nothing (measured 4.5s -> 3.2s at sf0.1, hash unchanged)
    src_dir, schema = _staged_stream_source_ordered(spark, sf_dir, n_files=1)

    def side(event_type: str, prefix: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .withWatermark("ts", "1 day")
            .where(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
        )

    clicks, purchases = side("click", "c"), side("purchase", "p")
    # NO sentinel filter inside the streaming plan: ANY predicate that
    # excludes the user=-1 punctuation rows gets pushed below the
    # EventTimeWatermark operator (observed for both the event-type
    # and the post-join form), starving the watermark exactly like an
    # unpunctuated feed. The sentinels ride through to the sink (they
    # match only each other — same synthetic user, same far-future
    # instant) and the CONSUMER drops them batch-side, where pushdown
    # cannot reach the watermark.
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user and "
            "c_ts >= p_ts - interval 30 minutes and c_ts <= p_ts"
        ),
        "leftOuter",
    ).select("p_id", "p_user", "p_ts", "c_id")
    name = f"sojoin_{os.getpid()}_{abs(hash(src_dir)) % 10000}"
    with state_partitions(spark), no_trailing_empty_batch(
        spark
    ), scratch_checkpoint() as _ck:
        q = (
            joined.writeStream.option("checkpointLocation", _ck)
            .outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


def stream_tumbling_counts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Run the 1-hour tumbling count as a real stream (watermarked) into
    a memory sink; returns (streamed_result, batch_expected)."""
    src_dir, schema = _staged_stream_source(spark, sf_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    name = f"tumbling_{os.getpid()}_{abs(hash(src_dir)) % 10000}"
    with state_partitions(spark), no_trailing_empty_batch(
        spark
    ), scratch_checkpoint() as _ck:
        q = (
            stream.writeStream.option("checkpointLocation", _ck)
            .outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    got = spark.table(name)
    expected = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    return got, expected


_STATE_SCHEMA = T.StructType([T.StructField("total", T.LongType())])
_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("total", T.LongType()),
    ]
)


def _running_count(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """Custom stateful operator: accumulate a per-key event count in
    GroupState and emit the running total each micro-batch."""
    n = sum(len(pdf) for pdf in pdfs)
    (total,) = state.get if state.exists else (0,)
    total += n
    state.update((total,))
    yield pd.DataFrame({"event_type": [key[0]], "total": [total]})


def run_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState running per-type counts over the staged
    event stream; returns the final memory-sink table (last update per
    key = total count)."""
    src_dir, schema = _staged_stream_source(spark, sf_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .groupBy("event_type")
        .applyInPandasWithState(
            _running_count,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    name = f"stateful_{os.getpid()}_{abs(hash(src_dir)) % 10000}"
    with state_partitions(spark), no_trailing_empty_batch(
        spark
    ), scratch_checkpoint() as _ck:
        q = (
            stream.writeStream.option("checkpointLocation", _ck)
            .outputMode("update")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


def stream_dedup_keys(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Streaming exact dedup: watermarked
    ``dropDuplicatesWithinWatermark`` over the (user_id, event_type)
    key — the streaming form of the batch exact-dedup operator. The
    watermark delay bounds the dedup state (keys older than the delay
    are evicted — the property that makes streaming dedup viable on an
    unbounded 100 TB feed); the delay here exceeds the staged data's
    span, so the kept KEY SET equals the batch distinct exactly.
    Returns (streamed keys, batch expected keys)."""
    src_dir, schema = _staged_stream_source(spark, sf_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .select("user_id", "event_type", "ts")
        .withWatermark("ts", "60 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    name = f"dedup_{os.getpid()}_{abs(hash(src_dir)) % 10000}"
    with state_partitions(spark), no_trailing_empty_batch(
        spark
    ), scratch_checkpoint() as _ck:
        q = (
            stream.writeStream.option("checkpointLocation", _ck)
            .outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    got = spark.table(name)
    expected = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    return got, expected


def stream_session_counts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Run the 10-minute-gap session count as a real watermarked stream
    (session_window is the stateful streaming session operator; batch
    events_session runs the same operator in batch mode). The watermark
    delay exceeds the staged data's span so no session is dropped and
    the final memory sink equals the batch result exactly.
    Returns (streamed_result, batch_expected)."""
    src_dir, schema = _staged_stream_source(spark, sf_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .withWatermark("ts", "365 days")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n"
        )
    )
    name = f"session_{os.getpid()}_{abs(hash(src_dir)) % 10000}"
    with state_partitions(spark), no_trailing_empty_batch(
        spark
    ), scratch_checkpoint() as _ck:
        q = (
            stream.writeStream.option("checkpointLocation", _ck)
            .outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    got = spark.table(name)
    expected = (
        load_table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n"
        )
    )
    return got, expected


def stream_late_data_drop(
    spark: SparkSession,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Pin the WATERMARK SEMANTICS, not just the happy path (round-5
    verdict task #7): a controlled three-micro-batch source where batch
    0 advances the watermark past a session and batch 2 delivers a LATE
    row into it. The stream must DROP the late row; a batch query over
    the same rows reproduces the stream only after filtering rows that
    arrived behind the watermark — and differs without the filter.

    Timeline (session gap 10 min, watermark delay 1 hour):
      batch 0: user 1 at 10:00/10:03/10:06 (one session, ends 10:16),
               user 2 at 20:00 → watermark advances to 19:00
      batch 1: user 2 at 20:01 — filler. Spark applies a new watermark
               one micro-batch AFTER computing it (measured here:
               a late row in the very next batch is NOT dropped,
               numRowsDroppedByWatermark=0; one batch later it is),
               so the filler lets 19:00 take effect.
      batch 2: user 1 at 10:01 — LATE (10:01 < 19:00) → dropped
    Append mode then finalizes user 1's session with n=3 (4 would mean
    the late row leaked in); user 2's session stays open (its end is
    past the final watermark) and never emits.

    Returns (streamed, batch_with_filter, batch_naive)."""
    import datetime as dt
    import shutil

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )

    def t(h, m):
        return dt.datetime(2024, 1, 1, h, m)

    on_time = [(1, t(10, 0)), (1, t(10, 3)), (1, t(10, 6)), (2, t(20, 0))]
    filler = [(2, t(20, 1))]
    late = [(1, t(10, 1))]

    # flat single-file-per-micro-batch staging; the file source orders
    # micro-batches by modification time, so stamp strictly increasing
    # mtimes (a dir-per-batch layout put part files + markers in one
    # listing and broke the 1-file-per-trigger split)
    src = tempfile.mkdtemp(prefix="events_late_")
    now = dt.datetime.now().timestamp()
    for i, rows in enumerate((on_time, filler, late)):
        scratch = tempfile.mkdtemp()
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(scratch)
        part = next(f for f in os.listdir(scratch) if f.startswith("part-"))
        dst = os.path.join(src, f"{i:02d}.parquet")
        shutil.move(os.path.join(scratch, part), dst)
        base = now - 120 * (3 - i)
        os.utime(dst, (base, base))
        shutil.rmtree(scratch, ignore_errors=True)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("session_start"), "n")
    )
    name = f"late_{os.getpid()}_{abs(hash(src)) % 10000}"
    with state_partitions(spark), scratch_checkpoint() as _ck:
        q = (
            stream.writeStream.option("checkpointLocation", _ck)
            .outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    got = spark.table(name)

    all_rows = spark.createDataFrame(on_time + filler + late, schema)
    wm_at_late = t(19, 0)  # in effect when the late file arrived
    final_wm = t(19, 1)  # max ts (20:01) minus the 1h delay

    def batch(df):
        return (
            df.groupBy(
                F.session_window("ts", "10 minutes").alias("w"), "user_id"
            )
            .agg(F.count(F.lit(1)).alias("n"))
            # append mode emits only sessions finalized by the watermark
            .where(F.col("w.end") < F.lit(final_wm))
            .select("user_id", F.col("w.start").alias("session_start"), "n")
        )

    # the batch reproduction drops exactly the rows that arrived behind
    # the watermark in effect for THEIR micro-batch: on-time + filler
    # arrived before any watermark (kept), the late file saw 19:00
    batch_filtered = batch(
        spark.createDataFrame(on_time + filler, schema).union(
            spark.createDataFrame(late, schema).where(
                F.col("ts") >= F.lit(wm_at_late)
            )
        )
    )
    batch_naive = batch(all_rows)
    return got, batch_filtered, batch_naive


def stream_interval_join(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """STREAM-STREAM inner interval join — the remaining hard streaming
    class after windowed agg / session merge / custom state / dedup:
    purchases join clicks of the same user whose event time falls in
    the 30 minutes before the purchase. Both sides are watermarked
    (required: the watermark + the time-range condition are what let
    the engine bound join state on an unbounded feed); the delay here
    exceeds the staged data's 30-day span, so no buffered row is
    evicted mid-replay and the streamed match set equals the batch
    join exactly. Inner stream-stream joins emit matches as soon as
    both rows are buffered — nothing is withheld for watermark
    advance (that is the OUTER-join behavior) — so append mode
    delivers the complete result for a finite source.

    Scale (100 TB feed): with a production-sized delay, each side
    buffers only rows inside watermark + interval; state follows the
    arrival rate times the join window, not stream length.
    Returns (streamed pairs, batch expected pairs).

    Cost note: stream-stream joins instantiate the source once PER
    SIDE, so each staged file is read by both branches and every
    micro-batch pays both sides' join state stores; this harness
    stages 2 files (not the other gates' 4) — still a genuinely
    cross-batch join at half the fixed micro-batch rounds
    (11.2s -> ~6s at sf0.1, ORACLE_BENCH r7)."""
    src_dir, schema = _staged_stream_source(spark, sf_dir, n_files=2)

    def side(event_type: str, prefix: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .where(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "60 days")
        )

    clicks, purchases = side("click", "c"), side("purchase", "p")
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user and "
            "c_ts >= p_ts - interval 30 minutes and c_ts <= p_ts"
        ),
    ).select("p_id", "c_id", "p_user")
    name = f"sjoin_{os.getpid()}_{abs(hash(src_dir)) % 10000}"
    with state_partitions(spark), no_trailing_empty_batch(
        spark
    ), scratch_checkpoint() as _ck:
        q = (
            joined.writeStream.option("checkpointLocation", _ck)
            .outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    got = spark.table(name)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    c = ev.where("event_type = 'click'").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    p = ev.where("event_type = 'purchase'").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    expected = p.join(
        c,
        F.expr(
            "p_user = c_user and "
            "c_ts >= p_ts - interval 30 minutes and c_ts <= p_ts"
        ),
    ).select("p_id", "c_id", "p_user")
    return got, expected


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC broadcast enrichment — the canonical dimension
    join of a production feed: the events stream is joined per
    micro-batch to the STATIC customer dimension (broadcast hash join;
    Structured Streaming re-plans the batch side each micro-batch,
    which is exactly how slowly-changing dims are refreshed under the
    hood) and aggregated by market segment in complete mode. No
    watermark: a stream-static inner equi-join is stateless — only the
    downstream aggregate keeps state (|segments| rows).

    Determinism: the double `value` column is floored to integer
    micros PER EVENT before the bigint sum, so the segment totals are
    micro-batch-order-independent and hash-comparable to the batch
    oracle.

    Scale (100 TB feed): the dim side broadcasts (it is the small
    side by construction); the stream side never shuffles before the
    aggregate, and aggregate state is bounded by segment cardinality,
    not stream length."""
    src_dir, schema = _staged_stream_source(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .join(F.broadcast(dim), "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.expr("cast(floor(value * 1000000) as bigint)")
            ).alias("sum_value_micros"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )
    name = f"senrich_{os.getpid()}_{abs(hash(src_dir)) % 10000}"
    with state_partitions(spark), no_trailing_empty_batch(
        spark
    ), scratch_checkpoint() as _ck:
        q = (
            stream.writeStream.option("checkpointLocation", _ck)
            .outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


def stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE-MODE + foreachBatch IDEMPOTENT UPSERT — the standard
    production pattern for sinks with no native merge (plain parquet /
    object storage): a per-user running aggregate streams in UPDATE
    mode, so each micro-batch emits ONLY the keys whose state changed,
    and foreachBatch lands every emission as (key, state, batch_id)
    appends into a keyed store directory. The read-back resolves each
    key to its LATEST batch's row — an upsert materialized as
    append + last-writer-wins resolution, which is also what makes
    replay IDEMPOTENT: a re-delivered batch re-appends identical rows
    under the same batch_id, and the max-batch resolution collapses
    them (same contract the exactly-once file-sink gate checks via
    _spark_metadata; here the dedup key is explicit).

    The final resolved state per user must equal the batch aggregate
    over the full events table — checked by the gate's oracle hash.
    No watermark: a running (unwindowed) aggregate's state is keyed by
    user only; update mode emits deltas without one.

    Scale (100 TB feed): update mode's per-batch output is bounded by
    keys TOUCHED in the batch, not total key cardinality (complete
    mode would re-emit the world each batch); the store grows by one
    row per touched key per batch and compacts on read by the
    (key, max batch) window — production compacts the same way, just
    scheduled. State store count is right-sized by state_partitions."""
    src_dir, schema = _staged_stream_source(spark, sf_dir)
    store = tempfile.mkdtemp(prefix="events_upsert_store_")
    atexit.register(shutil.rmtree, store, ignore_errors=True)
    counts = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.expr("cast(floor(value * 1000000) as bigint)")
            ).alias("sum_value_micros"),
        )
    )

    def upsert_batch(df: DataFrame, batch_id: int) -> None:
        (
            df.withColumn("_batch", F.lit(batch_id))
            .write.mode("append")
            .parquet(store)
        )

    with state_partitions(spark), no_trailing_empty_batch(
        spark
    ), scratch_checkpoint() as _ck:
        q = (
            counts.writeStream.option("checkpointLocation", _ck)
            .outputMode("update")
            .foreachBatch(upsert_batch)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return _resolve_upsert_store(spark, store)


def _resolve_upsert_store(spark: SparkSession, store: str) -> DataFrame:
    """Last-writer-wins resolution of the upsert store: one row per
    user from its LATEST batch. Row content is unique per
    (user, batch), so a replayed (re-appended) batch collapses to the
    identical result — the idempotency contract, pinned directly by
    tests/test_streaming.py::test_upsert_store_replay_idempotent."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("_batch").desc())
    return (
        spark.read.parquet(store)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", "n_events", "sum_value_micros")
    )
