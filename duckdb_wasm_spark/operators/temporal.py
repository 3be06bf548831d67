"""As-of and range joins — the temporal/banded join operators a
time-series or attribution workload needs, absent from Spark's built-in
join set but native SQL in the DuckDB engine family (ASOF JOIN, IEJoin
inequality joins), so the reference's users have them today.

  asof_click_attribution  for each purchase event, the same user's most
                          recent click at-or-before it (ASOF JOIN
                          semantics: `p ASOF LEFT JOIN c ON p.user_id =
                          c.user_id AND p.ts >= c.ts`)
  range_join_price_bands  non-equi join of orders into fixed price
                          bands (the banded form of a range join)

Scale notes (100 TB framing):
  - The as-of join is NOT a join in Spark: the naive per-key
    join-then-filter explodes on active users (every purchase × every
    prior click). The scale-correct formulation is the union+window
    merge: tag both sides, union, and take a running `max(click ts)`
    per user over one (ts, side, id)-ordered window — exactly one
    shuffle by user_id, cost linear in events per user, no candidate
    explosion regardless of key skew.
  - The band join broadcasts the tiny derived band table (12 rows) as
    a BroadcastNestedLoopJoin on the range predicate — the right plan
    for a small-side non-equi join (audited in the plan-guard BNLJ
    allowlist); the aggregate after it is a partial+final hash agg.

Determinism: the window order (ts, is_p, event_id) is total (event_id
unique), so frames are identical in both engines; band sums accumulate
as decimal before the final double cast (plans/_util.py policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_wasm_spark.plans._util import dec, dsum, sql_dec, sql_dsum, sql_query
from duckdb_wasm_spark.tables import load_table

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


def _q(name):
    def reg(fn):
        QUERIES[name] = fn
        return fn

    return reg


# ---------------------------------------------- asof_click_attribution
# Purchase→click as-of attribution: each purchase is matched to the
# latest click by the same user at or before its timestamp, plus the
# running count of prior clicks. LEFT semantics: purchases with no prior
# click keep NULL click_ts. The window order (ts, is_p, event_id) is
# total; clicks sort before purchases at the same instant, so
# ts >= click_ts is inclusive.
_SQL_ASOF_W = (
    "(partition by user_id order by ts, is_p, event_id rows unbounded preceding)"
)

ORACLE["asof_click_attribution"] = f"""
with tagged as (
  select event_id, user_id, ts,
         case when event_type = 'purchase' then 1 else 0 end is_p
  from events
  where event_type in ('click', 'purchase')),
merged as (
  select event_id, user_id, ts, is_p,
         max(case when is_p = 0 then ts end) over {_SQL_ASOF_W} click_ts,
         count(case when is_p = 0 then 1 end) over {_SQL_ASOF_W} n_prior_clicks
  from tagged)
select event_id, user_id, ts, click_ts, n_prior_clicks
from merged
where is_p = 1
"""
QUERIES["asof_click_attribution"] = sql_query(
    "asof_click_attribution", ORACLE["asof_click_attribution"]
)


# ---------------------------------------------- range_join_price_bands
N_BANDS = 12
BAND_WIDTH = 50_000.0  # covers o_totalprice's full domain at any SF


@_q("range_join_price_bands")
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: orders fall into [lo, hi) price bands derived
    from a generated series; per-band order count and exact price sum."""
    bands = spark.range(N_BANDS).select(
        F.col("id").alias("band_id"),
        (F.col("id") * F.lit(BAND_WIDTH)).alias("lo"),
        ((F.col("id") + 1) * F.lit(BAND_WIDTH)).alias("hi"),
    )
    orders = load_table(spark, sf_dir, "orders")
    joined = orders.join(
        F.broadcast(bands),
        (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
    )
    return (
        joined.groupBy("band_id", "lo")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(dec("o_totalprice")).alias("sum_price"),
        )
        .select("band_id", "lo", "n_orders", "sum_price")
    )


ORACLE["range_join_price_bands"] = f"""
select band_id, lo, count(*) n_orders,
       {sql_dsum(sql_dec('o_totalprice'))} sum_price
from orders
join (
  select i band_id, i * {BAND_WIDTH} lo, (i + 1) * {BAND_WIDTH} hi
  from generate_series(0, {N_BANDS - 1}) t(i)) bands
  on o_totalprice >= lo and o_totalprice < hi
group by band_id, lo
"""


# --------------------------------------------------- generic asof_join
def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    tie_break: list[str] | None = None,
) -> DataFrame:
    """Reusable backward as-of join: every `left` row gains the
    `right_cols` values of the latest `right` row with
    ``right_ts <= left_ts`` within the `on` key (NULLs when no such
    row — LEFT semantics). The same union+window merge as the
    registered attribution query: ONE shuffle by `on`, cost linear per
    key, no candidate explosion however skewed the key.

    tie_break: extra `right` columns making the right-side order total
    when several right rows share a timestamp (without it, which of
    the tied rows wins is partition-order-dependent). Ties between a
    left and right row at the same instant match (inclusive bound).
    `right_cols` must not collide with `left` column names."""
    right_cols = right_cols or []
    tie_break = tie_break or []
    l_tag = left.withColumn("_ats", F.col(left_ts)).withColumn(
        "_side", F.lit(1)
    )
    r_tag = right.select(
        *on,
        F.col(right_ts).alias("_ats"),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_tb_{c}") for c in tie_break],
        F.struct(*[F.col(c) for c in right_cols]).alias("_rv"),
    )
    merged = l_tag.unionByName(r_tag, allowMissingColumns=True)
    w = (
        Window.partitionBy(*on)
        .orderBy("_ats", "_side", *[f"_tb_{c}" for c in tie_break])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = merged.withColumn(
        "_m", F.last("_rv", ignorenulls=True).over(w)
    ).where(F.col("_side") == 1)
    return matched.select(
        *left.columns,
        *[F.col(f"_m.{c}").alias(c) for c in right_cols],
    )


# -------------------------------------------------- generic range_join
def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    extra_on: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Reusable point-in-interval join: each `points` row matches the
    `intervals` rows with ``lo <= point < hi`` (optionally also equal
    on `extra_on` keys). The interval side is broadcast — the right
    plan when intervals are few (bands, calendars, config ranges): the
    big side streams with zero shuffle. For two LARGE sides, pre-bucket
    both on coarse range buckets and equi-join the bucket id instead —
    a broadcast non-equi join does not scale past a small right side,
    so this helper insists on broadcasting it."""
    if how not in ("inner", "left"):
        raise ValueError(f"range_join supports inner/left, got {how!r}")
    cond = (F.col(point_col) >= F.col(lo_col)) & (
        F.col(point_col) < F.col(hi_col)
    )
    for k in extra_on or []:
        cond = cond & (points[k] == intervals[k])
    return points.join(F.broadcast(intervals), cond, how)


# ------------------------------------------------------- events_retention
@_q("events_retention")
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users cohorted by first-activity day,
    counted on each later active day offset — the standard engagement
    rollup every analytics stack ships (and the canonical input to a
    retention curve).

    Scale: first-day and distinct-active-day both shuffle once on
    user_id (high cardinality, no skew hazard); the join is
    co-partitioned on the same key, and the final rollup is a
    partial+final hash agg on the tiny (cohort_date, offset) key. All
    outputs are dates and counts — nothing float, nothing
    order-dependent."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_date")
    )
    active = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    return (
        active.join(firsts, "user_id")
        .groupBy(
            "cohort_date",
            F.datediff("d", F.col("cohort_date")).alias("offset_days"),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


ORACLE["events_retention"] = """
with firsts as (
  select user_id, min(cast(ts as date)) cohort_date
  from events group by user_id),
active as (
  select distinct user_id, cast(ts as date) d from events)
select cohort_date,
       cast(date_diff('day', cohort_date, d) as int) offset_days,
       count(*) n_active_users
from active join firsts using (user_id)
group by cohort_date, offset_days
"""


# ---------------------------------------------------------- events_funnel
# Strict sequential funnel: users who signed up, then viewed AFTER the
# signup, then purchased AFTER that view — per-step user counts plus
# conversion from step 1. "Strict" means each step's timestamp must
# exceed the previous step's FIRST occurrence (the standard
# ordered-funnel definition; unordered co-occurrence would overcount).
# Three filtered min-aggregates chained by user_id equi-joins: every
# shuffle is on the same high-cardinality user key, no window over the
# raw stream, counts only.
_FUNNEL = ("signup", "view", "purchase")  # strictly ordered steps

ORACLE["events_funnel"] = f"""
with s1 as (
  select user_id, min(ts) t1 from events
  where event_type = '{_FUNNEL[0]}' group by user_id),
s2 as (
  select e.user_id, min(ts) t2 from events e join s1 using (user_id)
  where event_type = '{_FUNNEL[1]}' and ts > t1 group by e.user_id),
s3 as (
  select e.user_id, min(ts) t3 from events e join s2 using (user_id)
  where event_type = '{_FUNNEL[2]}' and ts > t2 group by e.user_id),
counts as (
  select 1 step, '{_FUNNEL[0]}' event_type, (select count(*) from s1) n_users
  union all
  select 2, '{_FUNNEL[1]}', (select count(*) from s2)
  union all
  select 3, '{_FUNNEL[2]}', (select count(*) from s3))
select step, event_type, n_users,
       cast(n_users as double)
         / (select n_users from counts where step = 1) conv_from_first
from counts
"""
QUERIES["events_funnel"] = sql_query("events_funnel", ORACLE["events_funnel"])


# --------------------------------------------------- events_key_skew
SKEW_TOPK = 10  # heavy hitters in the concentration numerator


@_q("events_key_skew")
def events_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact join-key skew audit over events.user_id — the measurement
    that DECIDES the mitigation: whether a key needs `skew.salted_join`
    salting (and with how many salts), whether AQE's skew-join split
    will trigger, or whether the key is safe to shuffle raw. One row:
    key cardinality, total events, the max/p50/p99 per-key frequency,
    and the share of all events held by the SKEW_TOPK heaviest keys.

    Scale (100 TB): per-key counts are ONE map-side-combining hash
    aggregate; the quantiles run over the counts-OF-counts histogram
    (≤ O(√total) distinct frequency values by pigeonhole, so the
    ordered window is over a provably tiny frame — never the keys);
    the heavy hitters are a distributed top-k (TakeOrderedAndProject),
    not a global sort. Nothing in the plan is proportional to key
    cardinality except the initial hash agg.

    Determinism: integer counts end-to-end; percentile_disc ranks are
    integer-fraction comparisons (2·cum ≥ N, 100·cum ≥ 99·N — no float
    literal); the top-k tie order is (n desc, user_id asc), total; the
    single share division is one IEEE op rounded to 12 decimals."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    hist = counts.groupBy("n").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("n").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "n",
        "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("tot"),
    )
    stats = cum.groupBy().agg(
        F.sum("c").alias("n_keys"),
        F.sum(F.col("n") * F.col("c")).alias("n_events"),
        F.max("n").alias("max_per_key"),
        F.min(
            F.when(F.lit(2) * F.col("cum") >= F.col("tot"), F.col("n"))
        ).alias("p50_per_key"),
        F.min(
            F.when(
                F.lit(100) * F.col("cum") >= F.lit(99) * F.col("tot"),
                F.col("n"),
            )
        ).alias("p99_per_key"),
    )
    top = (
        counts.orderBy(F.col("n").desc(), F.col("user_id").asc())
        .limit(SKEW_TOPK)
        .groupBy()
        .agg(F.sum("n").alias("topk_events"))
    )
    return stats.crossJoin(F.broadcast(top)).select(
        "n_keys",
        "n_events",
        "max_per_key",
        "p50_per_key",
        "p99_per_key",
        "topk_events",
        F.round(
            F.col("topk_events").cast("double")
            / F.col("n_events").cast("double"),
            12,
        ).alias("topk_share"),
    )


ORACLE["events_key_skew"] = f"""
with counts as (select user_id, count(*) n from events group by user_id),
hist as (select n, count(*) c from counts group by n),
cum as (
  select n, c,
         sum(c) over (order by n rows unbounded preceding) cum,
         sum(c) over () tot
  from hist),
stats as (
  select cast(sum(c) as bigint) n_keys,
         cast(sum(n * c) as bigint) n_events,
         max(n) max_per_key,
         min(case when 2 * cum >= tot then n end) p50_per_key,
         min(case when 100 * cum >= 99 * tot then n end) p99_per_key
  from cum),
top as (
  select cast(sum(n) as bigint) topk_events
  from (select n from counts
        order by n desc, user_id asc limit {SKEW_TOPK}))
select s.n_keys, s.n_events, s.max_per_key, s.p50_per_key, s.p99_per_key,
       t.topk_events,
       round(cast(t.topk_events as double) / cast(s.n_events as double), 12)
         topk_share
from stats s, top t
"""


# ------------------------------------------------- events_salted_join
SALT_BUCKETS = 16  # spread each hot key over this many sub-partitions


@_q("events_salted_join")
def events_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXECUTION side of the skew story events_key_skew audits:
    join the events fact to its per-user activity dimension through
    skew.salted_join — every fact row gets a pseudo-random salt in
    [0, SALT_BUCKETS); the dimension is replicated once per salt; the
    join runs on (user_id, salt), so a pathological hot user spreads
    over SALT_BUCKETS shuffle partitions instead of landing on one
    executor. The oracle states the PLAIN join — salting must be
    result-invisible, and the hash gate proves it on every row-derived
    aggregate (integer counts/sums, no float path).

    The dim side carries a merge (sort-merge) hint: at gate scale
    Catalyst would broadcast the tiny dim and the salt would never
    route a shuffle — the hint forces the shuffle-join shape the
    mitigation exists for, so the gated plan is the 100 TB plan.

    Scale (100 TB): replication cost is |dim| x SALT_BUCKETS rows —
    salting always replicates the SMALLER side; AQE's skew-join split
    (on in this repo's sessions) handles moderate skew at runtime, and
    explicit salting is the deterministic fallback for the
    single-key-overwhelms-an-executor regime events_key_skew's
    max_per_key/topk_share columns detect."""
    from duckdb_wasm_spark.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_events"))
        .hint("merge")
    )
    joined = salted_join(
        ev.select("event_id", "user_id", "event_type"),
        dim,
        "user_id",
        "user_id",
        n_salts=SALT_BUCKETS,
    ).drop(dim["user_id"])
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_events").alias("sum_user_events"),
        F.max("user_events").alias("max_user_events"),
    )


ORACLE["events_salted_join"] = """
with dim as (
  select user_id, count(*) user_events from events group by 1)
select event_type,
       count(*) n,
       cast(sum(user_events) as bigint) sum_user_events,
       max(user_events) max_user_events
from events e join dim using (user_id)
group by event_type
"""


# ----------------------------------------------------- events_sessionize
SESS_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap, in micros


@_q("events_sessionize")
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based SESSIONIZATION with stable per-event session ids —
    the batch form of the session window that emits the session KEY
    (user_id, session_seq) rather than only the merged aggregate, so
    downstream joins can attribute any event back to its session (the
    classic gaps-and-islands cumulative-flag construction).

    Construction: per user, events ordered by (ts, event_id); a row
    opens a new session iff it is the user's first event or the gap
    to the previous event exceeds 30 minutes; session_seq is the
    running sum of open flags. One window partition per user — a
    single hash shuffle by user_id, state linear in the user's events,
    no self-join (the join-based alternative is quadratic per user).
    This keyed-session shape is exactly what the streaming session
    window (events_stream_session) maintains incrementally; here the
    driver gates the batch law it must agree with.

    Determinism: gaps compare MICROSECOND integers (unix_micros /
    epoch_us) — no float time arithmetic, no seconds truncation
    disagreement; the order (ts, event_id) is total."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > SESS_GAP_US),
            1,
        ).otherwise(0),
    ).withColumn(
        "session_seq",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        flagged.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("us").alias("start_us"),
            F.max("us").alias("end_us"),
        )
        .select(
            "user_id",
            "session_seq",
            "n_events",
            (F.col("end_us") - F.col("start_us")).alias("duration_us"),
        )
        .orderBy("user_id", "session_seq")
    )


ORACLE["events_sessionize"] = f"""
with ev as (
  select event_id, user_id, ts, epoch_us(ts) us from events),
flagged as (
  select user_id, ts, event_id, us,
         case when lag(us) over w is null
                   or us - lag(us) over w > {SESS_GAP_US}
              then 1 else 0 end new_sess
  from ev
  window w as (partition by user_id order by ts, event_id)),
numbered as (
  select user_id, us,
         cast(sum(new_sess) over (partition by user_id
                                  order by ts, event_id
                                  rows unbounded preceding)
              as bigint) session_seq
  from flagged)
select user_id, session_seq, count(*) n_events,
       max(us) - min(us) duration_us
from numbered
group by user_id, session_seq
order by user_id, session_seq
"""


# --------------------------------------------------------- events_scd2
@_q("events_scd2")
def events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-log -> SCD TYPE-2 dimension build: collapse each
    user's event stream into state-validity intervals (state =
    event_type), one row per RUN of equal consecutive states, with
    half-open [valid_from, valid_to) micros, a per-user version
    counter, and is_current on the last run — the standard upsert
    compaction that turns an append-only change feed into a
    point-in-time-joinable dimension (the lakehouse MERGE/SCD2
    pattern; the reference engine's users express it as window SQL,
    which is exactly what this is).

    Construction: per user, events ordered by the total order
    (ts, event_id); a row opens a new version iff it is the user's
    first event or its state differs from the previous event's
    (lag); version = running sum of open flags (gaps-and-islands, the
    same construction as events_sessionize but keyed on state CHANGE
    rather than time gap); one hash aggregate by (user, version)
    computes the interval and the run length, and valid_to is the
    NEXT version's valid_from (lead over the per-user version order —
    half-open intervals tile the user's timeline exactly).

    Scale (100 TB feed): one shuffle by user_id, then windows and the
    aggregate all reuse that partitioning — state is linear in each
    user's events, no self-join (the join-on-next-change alternative
    is quadratic per user), and the output is the COMPRESSED dimension
    (runs, not events), so downstream as-of joins against it touch
    versions, not raw log rows. Determinism: micros integers, total
    tie-break, bigint version counters."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("event_type").alias("state"),
        "ts",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versioned = ev.withColumn(
        "open",
        F.when(
            F.lag("state").over(w).isNull()
            | (F.lag("state").over(w) != F.col("state")),
            1,
        ).otherwise(0),
    ).withColumn(
        "version",
        F.sum("open").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    runs = versioned.groupBy("user_id", "version").agg(
        F.min("state").alias("state"),  # constant within a run
        F.min("us").alias("valid_from_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    return runs.select(
        "user_id",
        "version",
        "state",
        "valid_from_us",
        F.lead("valid_from_us").over(wv).alias("valid_to_us"),
        F.lead("valid_from_us").over(wv).isNull().alias("is_current"),
        "n_events",
    )


ORACLE["events_scd2"] = """
with ev as (
  select event_id, user_id, event_type state, ts, epoch_us(ts) us
  from events),
flagged as (
  select user_id, state, ts, event_id, us,
         case when lag(state) over w is null
                   or lag(state) over w <> state
              then 1 else 0 end open
  from ev
  window w as (partition by user_id order by ts, event_id)),
versioned as (
  select user_id, state, us,
         cast(sum(open) over (partition by user_id
                              order by ts, event_id
                              rows unbounded preceding)
              as bigint) "version"
  from flagged),
runs as (
  select user_id, "version", min(state) state,
         min(us) valid_from_us, count(*) n_events
  from versioned
  group by user_id, "version")
select user_id, "version", state, valid_from_us,
       lead(valid_from_us) over wv valid_to_us,
       lead(valid_from_us) over wv is null is_current,
       n_events
from runs
window wv as (partition by user_id order by "version")
"""
