"""Coverage corpus beyond TPC-H: window classes, set ops, grouping
sets, FULL OUTER, recursive CTE, LATERAL, UNPIVOT, and the string, date,
quantile, string-aggregation, pivot/JSON and VARIANT function corpora.
Each construct family has one registered query with a DuckDB oracle
text.

The registered queries run that oracle text through the dialect
translator (`sql_query`), the path `Connection.query()` takes. Seven
stay DataFrame plans:

  extra_stats         its text orders a per-returnflag window over all
                      of lineitem, a class-key window the plan guard
                      forbids; the plan uses a domain-bounded radix
                      cumsum instead (`_radix_quantile`)
  extra_string_fns    the translator has no `string_split`
  extra_date_fns      the translator has no `datediff('day', ...)`
  extra_string_aggs   the translator has no ordered aggregates
  extra_pivot_json    the translator has no `json_extract_string`
  extra_variant_json  the same gap; the plan is the VARIANT gate
  extra_udtf_ngrams   the translator has no list lambdas; the plan is
                      the Python UDTF gate

Scale notes: ranking windows shuffle by the partition key then sort
within partitions (bounded by partition size, not table size); set ops
are hash-based (union = no shuffle until the next op; intersect/except
→ one shuffle each); rollup is a grouping-sets expansion feeding one
hash aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_wasm_spark.plans._util import (
    dec,
    register_texts,
    registrar,
    sql_dec,
    sql_dsum,
)
from duckdb_wasm_spark.tables import load_table

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


_q = registrar(QUERIES)


# ---------------------------------------------------- extra_windows
# All three window classes in one custkey-partitioned window family
# (single shuffle): ranking (row_number), analytic (lag delta, lead
# with default), frames (running decimal sum, ntile, first/last over
# an explicit full frame).
ORACLE["extra_windows"] = f"""
select o_custkey, o_orderkey, o_orderdate,
       row_number() over w rn,
       cast({sql_dec('o_totalprice')}
            - lag({sql_dec('o_totalprice')}) over w as double) price_delta,
       cast(sum({sql_dec('o_totalprice')}) over
            (partition by o_custkey order by o_orderdate, o_orderkey
             rows unbounded preceding) as double) run_price,
       ntile(4) over w quartile,
       first_value(o_orderkey) over
           (partition by o_custkey order by o_orderdate, o_orderkey
            rows between unbounded preceding and unbounded following)
           first_key,
       last_value(o_orderkey) over
           (partition by o_custkey order by o_orderdate, o_orderkey
            rows between unbounded preceding and unbounded following)
           last_key,
       coalesce(lead(o_orderkey, 1) over w, -1) next_key
from orders
where o_custkey % 1000 = 0
window w as (partition by o_custkey order by o_orderdate, o_orderkey)
"""


# ---------------------------------------------------- extra_set_ops
# UNION ALL + INTERSECT + EXCEPT ALL over the same customer/supplier
# nation keys, tagged and stacked into one result.
ORACLE["extra_set_ops"] = """
select 'union_all' op, nationkey, count(*) n from (
  select c_nationkey nationkey from customer
  union all
  select s_nationkey from supplier)
group by 2
union all
select 'intersect', nationkey, cast(1 as bigint) from (
  select c_nationkey nationkey from customer where c_acctbal > 5000
  intersect
  select s_nationkey from supplier where s_acctbal > 5000)
union all
select 'except_all', nationkey, count(*) from (
  select c_nationkey nationkey from customer
  except all
  select s_nationkey from supplier)
group by 2
"""


# ---------------------------------------------------- extra_grouping
# ROLLUP + CUBE + explicit GROUPING SETS over orders, each level tagged,
# with GROUPING markers, boolean aggregates and argmin/argmax per group.
# The max_by key encodes (price cents, orderkey) into one bigint, so
# price ties break by key and both engines pick the same row. Each
# branch is one grouping-sets expansion feeding one hash aggregate.
ORACLE["extra_grouping"] = """
select 'rollup' src, o_orderpriority, o_orderstatus, count(*) n,
       cast(sum(cast(o_totalprice as decimal(15,2))) as double) sum_price,
       cast(grouping(o_orderpriority) as integer) g_prio,
       cast(grouping(o_orderstatus) as integer) g_stat,
       bool_and(o_totalprice > 100000) all_big,
       bool_or(o_orderstatus = 'F') any_f,
       max_by(o_orderkey,
              cast(round(o_totalprice * 100) as bigint) * 10000000
              + o_orderkey) top_key,
       min_by(o_orderkey,
              cast(round(o_totalprice * 100) as bigint) * 10000000
              + o_orderkey) bot_key
from orders
group by rollup (o_orderpriority, o_orderstatus)
union all
select 'cube', o_orderpriority, o_orderstatus, count(*),
       cast(sum(cast(o_totalprice as decimal(15,2))) as double),
       cast(grouping(o_orderpriority) as integer),
       cast(grouping(o_orderstatus) as integer),
       bool_and(o_totalprice > 100000),
       bool_or(o_orderstatus = 'F'),
       max_by(o_orderkey,
              cast(round(o_totalprice * 100) as bigint) * 10000000
              + o_orderkey),
       min_by(o_orderkey,
              cast(round(o_totalprice * 100) as bigint) * 10000000
              + o_orderkey)
from orders
group by cube (o_orderpriority, o_orderstatus)
union all
select 'gsets', o_orderpriority, o_orderstatus, count(*),
       cast(sum(cast(o_totalprice as decimal(15,2))) as double),
       cast(grouping(o_orderpriority) as integer),
       cast(grouping(o_orderstatus) as integer),
       bool_and(o_totalprice > 100000),
       bool_or(o_orderstatus = 'F'),
       max_by(o_orderkey,
              cast(round(o_totalprice * 100) as bigint) * 10000000
              + o_orderkey),
       min_by(o_orderkey,
              cast(round(o_totalprice * 100) as bigint) * 10000000
              + o_orderkey)
from orders
group by grouping sets ((o_orderpriority), (o_orderstatus), ())
"""


# ---------------------------------------------------- extra_full_outer
# Per-nation customer vs supplier counts; some nations lack one side at
# small scale factors.
ORACLE["extra_full_outer"] = """
with c as (select c_nationkey cn, count(*) n_cust from customer
           where c_acctbal > 9000 group by 1),
s as (select s_nationkey sn, count(*) n_supp from supplier
      where s_acctbal > 9000 group by 1)
select coalesce(cn, sn) nationkey, n_cust, n_supp
from c full outer join s on cn = sn
"""


# ------------------------------------------------ extra_recursive_walk
# Recursive CTE (Spark 4 UnionLoop): walk each region's nation chain
# via successor edges, one depth level per iteration. A lead() window
# builds the edges once outside the recursion, so the recursive step
# is a plain equi-join that shuffles only the frontier. Its ~1s wall at
# sf0.1 is per-level job scheduling: UnionLoop plans and runs each
# depth as its own job. No session config tried (shuffle partitions,
# AQE, pre-materialized edges, COALESCE hints) went below ~1s.
ORACLE["extra_recursive_walk"] = """
WITH RECURSIVE edges AS (
  SELECT n_regionkey region, n_nationkey src,
         lead(n_nationkey) OVER (PARTITION BY n_regionkey
                                 ORDER BY n_nationkey) dst
  FROM nation),
heads AS (
  SELECT n_regionkey region, min(n_nationkey) head FROM nation GROUP BY 1),
walk(region, nationkey, depth) AS (
  SELECT region, head, 0 FROM heads
  UNION ALL
  SELECT w.region, e.dst, w.depth + 1
  FROM walk w JOIN edges e ON e.region = w.region AND e.src = w.nationkey
  WHERE e.dst IS NOT NULL)
SELECT region, nationkey, depth FROM walk
"""


# ------------------------------------------------------- extra_lateral
# Correlated LATERAL subquery: top-2 customers per nation by balance,
# ties on name so the pick is total. Spark decorrelates the LIMIT into
# a ranked window: one customer shuffle by nationkey plus a per-key
# top-k, never a per-outer-row re-execution.
ORACLE["extra_lateral"] = """
select n.n_name, l.c_name, l.c_acctbal
from nation n, lateral (
  select c_name, c_acctbal from customer c
  where c.c_nationkey = n.n_nationkey
  order by c_acctbal desc, c_name asc limit 2) l
"""


# ------------------------------------------------------- extra_unpivot
# UNPIVOT, the wide-to-long reshape: three per-returnflag measures melt
# into (measure, value) rows. A zero-shuffle per-row map; the only
# shuffle is the aggregate's.
ORACLE["extra_unpivot"] = f"""
with agg as (
  select l_returnflag,
         {sql_dsum(sql_dec('l_quantity'))} sum_qty,
         {sql_dsum(sql_dec('l_extendedprice'))} sum_price,
         cast(count(*) as double) n_items
  from lineitem group by l_returnflag)
select l_returnflag, measure, value
from agg unpivot (value for measure in (sum_qty, sum_price, n_items))
"""


# ------------------------------------------------------ extra_string_fns
@_q("extra_string_fns")
def extra_string_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String + regex scalar-function corpus: case mapping, trim/pad,
    replace, split, search, slicing, levenshtein, regex extract /
    global replace / match-flag — one narrow projection. Regex
    patterns stay in the Java∩RE2 common subset (no backrefs or
    lookaround), where the engines agree."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") <= 200
    )
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("up"),
        F.lower("c_mktsegment").alias("lo"),
        F.length("c_name").alias("name_len"),
        F.lpad("c_name", 25, "*").alias("padded"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias(
            "replaced"
        ),
        F.size(F.split("c_name", "#")).alias("n_parts"),
        F.instr(F.col("c_name"), "#").alias("hash_at"),
        F.reverse(F.col("c_mktsegment")).alias("rev"),
        F.substring("c_mktsegment", 2, 3).alias("seg_mid"),
        F.repeat(F.lit("ab"), 3).alias("rep"),
        F.levenshtein("c_mktsegment", F.lit("BUILDING")).alias("lev"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("joined"),
        F.regexp_extract("c_name", r"(\d+)", 1).alias("digits"),
        F.regexp_replace("c_name", r"0+", "#").alias("zero_runs"),
        F.col("c_name").rlike(r"Customer#0*1\d$").cast("int").alias(
            "ends_teenish"
        ),
    )


ORACLE["extra_string_fns"] = r"""
select c_custkey,
       upper(c_name) up,
       lower(c_mktsegment) lo,
       length(c_name) name_len,
       lpad(c_name, 25, '*') padded,
       replace(c_name, 'Customer', 'Cust') replaced,
       len(string_split(c_name, '#')) n_parts,
       instr(c_name, '#') hash_at,
       reverse(c_mktsegment) rev,
       substring(c_mktsegment, 2, 3) seg_mid,
       repeat('ab', 3) rep,
       levenshtein(c_mktsegment, 'BUILDING') lev,
       concat_ws('|', c_mktsegment, c_name) joined,
       regexp_extract(c_name, '(\d+)', 1) digits,
       regexp_replace(c_name, '0+', '#', 'g') zero_runs,
       cast(regexp_matches(c_name, 'Customer#0*1\d$') as integer)
           ends_teenish
from customer
where c_custkey <= 200
"""


# -------------------------------------------------------- extra_date_fns
@_q("extra_date_fns")
def extra_date_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date scalar-function corpus: truncation, month arithmetic with
    end-of-month clamping, day arithmetic, diffs, and part extraction."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") <= 400
    )
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        d.alias("d"),
        F.trunc(d, "month").alias("month_start"),
        F.last_day(d).alias("month_end"),
        F.add_months(d, 2).alias("plus_2mo"),
        F.date_add(d, 30).alias("plus_30d"),
        F.datediff(F.lit("1998-12-01").cast("date"), d).alias("days_to_cut"),
        F.year(d).alias("y"),
        F.quarter(d).alias("q"),
        (F.dayofweek(d) - 1).alias("dow_sun0"),
        F.dayofyear(d).alias("doy"),
    )


ORACLE["extra_date_fns"] = """
select o_orderkey,
       od d,
       cast(date_trunc('month', od) as date) month_start,
       last_day(od) month_end,
       cast(od + interval 2 month as date) plus_2mo,
       od + 30 plus_30d,
       cast(datediff('day', od, date '1998-12-01') as integer) days_to_cut,
       cast(year(od) as integer) y,
       cast(quarter(od) as integer) q,
       cast(dayofweek(od) as integer) dow_sun0,
       cast(dayofyear(od) as integer) doy
from (select o_orderkey, cast(o_orderdate as date) od from orders
      where o_orderkey <= 400)
"""


# ------------------------------------------------------- extra_stats
# two-level radix split of exact money cents: window frames at level 1
# are bounded by the VALUE DOMAIN (max cents >> RADIX buckets; money
# columns are schema-bounded), at level 2 by 2^RADIX distinct low
# bits — both corpus-independent
_PRICE_RADIX = 12


def _radix_quantile(
    df: DataFrame, keys: list[str], p: float, out: str
) -> DataFrame:
    """Exact interpolated p-quantile of a 2-decimal money column `v`
    per `keys` group via the two-level radix split (extra_stats
    docstring).  `df` must be a narrow (keys..., v) projection; hi =
    round(v*100) >> _PRICE_RADIX is a pure monotone function of the
    value, so the global cumulative count factorizes exactly as
    bucket-offset + in-bucket running count, both window levels are
    bounded by the VALUE DOMAIN (<= max_cents/2^RADIX buckets;
    <= 2^RADIX distinct low bits per bucket) at any corpus size, and
    the whole thing is one lazy DAG — no checkpoint, no self-join.
    The pick reads the ORIGINAL doubles, so exactness never depends
    on the cents round-trip."""
    hi = F.shiftright(
        F.round(F.col("v") * 100).cast("long"), _PRICE_RADIX
    ).alias("hi")
    # level 1: bucket counts (map-side combine: corpus → <= #buckets
    # rows) + per-key running count over DOMAIN-BOUNDED buckets
    hih = (
        df.select(*keys, hi)
        .groupBy(*keys, "hi")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wh = Window.partitionBy(*keys)
    hcum = hih.select(
        *keys,
        "hi",
        F.sum("c").over(wh.orderBy("hi")).alias("cum"),
        (F.sum("c").over(wh.orderBy("hi")) - F.col("c")).alias("off"),
        F.sum("c").over(wh).alias("n_h"),
    )
    # winning buckets: the (at most two, possibly equal) buckets
    # holding the floor/ceil ranks of (n-1)*p — selected PER ROW from
    # (off, cum, n_h), no self-join back onto the bucket frame
    pos = (F.col("n_h") - 1).cast("double") * F.lit(p)
    fr = F.floor(pos).cast("bigint") + 1
    cr = F.ceil(pos).cast("bigint") + 1
    pre = F.broadcast(
        hcum.where(
            ((F.col("off") < fr) & (fr <= F.col("cum")))
            | ((F.col("off") < cr) & (cr <= F.col("cum")))
        ).select(*keys, "hi", "off", "n_h")
    )
    # level 2: rows of the winning buckets only (inner broadcast-join
    # filter), distinct-value counts cumulated WITHIN the bucket —
    # frames bounded by the 2^RADIX low-bit domain whatever the
    # corpus holds; off + running count = exact global cumulative
    # count
    inb = (
        df.select(*keys, "v", hi)
        .join(pre, [*keys, "hi"])
        .groupBy(*keys, "hi", "v")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.max("off").alias("off"),
            F.max("n_h").alias("n_h"),
        )
    )
    wv = Window.partitionBy(*keys, "hi").orderBy("v")
    rv = inb.select(
        *keys,
        "v",
        "n_h",
        (F.col("off") + F.sum("c").over(wv)).alias("cum"),
    )
    return rv.groupBy(*keys).agg(_rank_pick(p, out))


def _rank_pick(p: float, out: str):
    """Interpolated percentile from per-group cumulative ranks: the
    value at 0-based rank r is the smallest value whose cumulative
    count (`cum`) reaches r+1; quantile_cont's rank is (n-1)*p,
    interpolated between its floor and ceil ranks. Works over either a
    cumulative HISTOGRAM (cum = running count of a distinct value) or
    unique per-row RANKS (cum = rn) — both satisfy 'smallest v with
    cum >= r+1 is the order statistic at r'."""
    pos = (F.col("n_h") - 1).cast("double") * F.lit(p)
    lo = F.min(F.when(F.col("cum") >= F.floor(pos).cast("bigint") + 1, F.col("v")))
    hi = F.min(F.when(F.col("cum") >= F.ceil(pos).cast("bigint") + 1, F.col("v")))
    frac = F.max(pos - F.floor(pos))
    return (lo + (hi - lo) * frac).alias(out)


@_q("extra_stats")
def extra_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles + deterministic Pearson correlation
    per returnflag.

    Two independent passes, each in its cheapest shape:

    * Moments: ONE map-side-combining hash aggregate straight off the
      base table — no explode, no window.  Decimal sums are
      associative-exact, so the values are bit-identical to any
      row-order evaluation.
    * Quantiles, per column class (round-10 verdict #1 — the former
      single (flag, which)-partitioned cumulative window put the
      near-unique price histogram's CORPUS-scale frame through one
      task per flag, the same defect class as the pre-r10 zonemap,
      hidden behind a 6-value partition key):
        - l_quantity is DOMAIN-BOUNDED (50 distinct values): groupBy
          (flag, v) → count reduces the corpus map-side to <= 150
          histogram rows, and the cumulative window's per-partition
          frame is <= 50 rows BY VALUE-DOMAIN BOUND, corpus-
          independent (allowlisted in the low-cardinality window
          guard with that justification).
        - l_extendedprice is CONTINUOUS (distinct count grows with
          the corpus) but MONEY — exactly 2 fractional digits, so its
          cents are schema-bounded integers.  A TWO-LEVEL RADIX SPLIT
          (hi = cents >> 12) makes the global cumulative count
          factorize exactly as bucket-offset + in-bucket running
          count, with BOTH window levels bounded by the value domain,
          never the corpus:
            level 1: groupBy (flag, hi) → map-side combine reduces
              the corpus to <= max_cents/2^12 bucket rows; one
              running-count window per flag over those buckets
              (~2.6k frames for a <= $168k price domain).  The
              winning (floor/ceil-rank) buckets and their exclusive
              offsets fall out of the SAME windowed frame row-wise —
              no self-join, no diamond, no recompute.
            level 2: an inner broadcast-join against the <= 2
              winning buckets per flag filters the second scan;
              groupBy (flag, hi, v) then a running count within the
              bucket — at most 2^12 distinct low-bit values per
              frame AT ANY CORPUS SIZE.
          hi is a PURE function of the value — no data-dependent
          binning parameters, no min/max pre-pass, no broadcast of
          per-flag statistics, no localCheckpoint: the whole query is
          one lazy DAG (unlike spark_partition_id() two-phase ranking,
          which must checkpoint).  Monotone: v1 <= v2 → cents(v1) <=
          cents(v2) → hi(v1) <= hi(v2), so buckets partition the
          value axis order-consistently; the pick reads the ORIGINAL
          double v carried through level 2, so exactness never
          depends on the cents round-trip.
      Both shapes feed the same conditional-min rank pick: the value
      at 0-based rank r is the smallest v whose cumulative count
      reaches r+1 (quantile_cont's (n-1)*p interpolation between
      floor/ceil ranks).  This also replaces Spark's exact
      `percentile` aggregate, which buffers every group value in
      executor memory — an OOM hazard once a group holds billions of
      rows.

    Interpolation is written out explicitly and the oracle carries the
    identical expression text: DuckDB's quantile_cont differs from the
    written-out form by 1 ulp at fractional ranks (measured
    26913.252499999995 vs ...2525), so both engines run the same
    explicit formula rather than their native aggregate.

    corr from the exact decimal moments + one closed-form double
    expression, rounded past the representable-ulp zone (unchanged).

    Job-floor sweep (r11 verdict #3, the extra_recursive_walk
    discipline; sf0.1/local[32], best-of-3 warm): baseline 2.45s
    (fresh session; 1.95s in the long-lived ORACLE_BENCH session);
    shuffle.partitions=1 → 1.96s; AQE initialPartitionNum=1 → 1.67s;
    AQE off → 2.39s; FUSING the qty histogram and the price level-1
    buckets into one explode-(which,key) scan → 2.80–3.20s (SLOWER —
    the Expand doubles the corpus rows before the map-side combine
    and the shared frame needs a checkpoint, costing more than the
    saved scan, so the fusion was measured and rejected). The
    single-aggregate floor in the same session is 0.17s, and this DAG
    is ~10 sequential stage rounds (three corpus scans that cannot
    share a shuffle, the winning-bucket broadcast barrier, and the
    tiny window/join stages), so ~1.7–2.0s IS the local-mode
    scheduling floor — config-level wins (initialPartitionNum=1)
    are session-global knobs a registered query must not mutate.
    Every frame past the map-side combines is bounded by the VALUE
    DOMAIN, so the gap is fixed overhead, flat in corpus size —
    exactly the overhead 1000-executor scheduling absorbs."""
    li = load_table(spark, sf_dir, "lineitem")
    q_d, p_d = dec("l_quantity"), dec("l_extendedprice")
    # products narrowed to decimal(18,4): exact (q*p <= 5.25e6,
    # p*p <= 1.2e10 — 4 fractional digits preserved losslessly) and
    # long-backed per value instead of 128-bit decimal(31,4), which
    # halves the moments-pass cost
    d18 = "decimal(18,4)"
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum(q_d).cast("double").alias("sx"),
        F.sum(p_d).cast("double").alias("sy"),
        F.sum((q_d * p_d).cast(d18)).cast("double").alias("sxy"),
        F.sum((q_d * q_d).cast(d18)).cast("double").alias("sxx"),
        F.sum((p_d * p_d).cast(d18)).cast("double").alias("syy"),
    )
    # qty: cumulative histogram, window frames bounded by the 50-value
    # domain of l_quantity (corpus-independent)
    qhist = li.groupBy(
        "l_returnflag", F.col("l_quantity").alias("v")
    ).agg(F.count(F.lit(1)).alias("c"))
    wq = Window.partitionBy("l_returnflag")
    rq = qhist.select(
        "l_returnflag",
        "v",
        F.sum("c").over(wq.orderBy("v")).alias("cum"),
        F.sum("c").over(wq).alias("n_h"),
    )
    qq = rq.groupBy("l_returnflag").agg(
        _rank_pick(0.5, "med_qty"),
        _rank_pick(0.9, "p90_qty"),
    )
    # price: two-level radix over exact money cents (see docstring)
    pq = _radix_quantile(
        li.select(
            "l_returnflag", F.col("l_extendedprice").alias("v")
        ),
        ["l_returnflag"],
        0.25,
        "p25_price",
    )
    agg = m.join(qq, "l_returnflag").join(pq, "l_returnflag")
    corr = (agg["nd"] * agg["sxy"] - agg["sx"] * agg["sy"]) / (
        F.sqrt(agg["nd"] * agg["sxx"] - agg["sx"] * agg["sx"])
        * F.sqrt(agg["nd"] * agg["syy"] - agg["sy"] * agg["sy"])
    )
    return agg.select(
        "l_returnflag",
        "med_qty",
        "p90_qty",
        "p25_price",
        "n",
        F.round(corr, 12).alias("corr_qty_price"),
    )


def _sql_rank_pick(which: str, p: float, out: str) -> str:
    return f"""
    min(case when which = '{which}'
              and cum >= cast(floor((cast(n_h - 1 as double)) * {p}) as bigint) + 1
             then v end)
    + (min(case when which = '{which}'
                 and cum >= cast(ceil((cast(n_h - 1 as double)) * {p}) as bigint) + 1
                then v end)
       - min(case when which = '{which}'
                   and cum >= cast(floor((cast(n_h - 1 as double)) * {p}) as bigint) + 1
                  then v end))
      * max(case when which = '{which}'
                 then (cast(n_h - 1 as double)) * {p}
                      - floor((cast(n_h - 1 as double)) * {p}) end) {out}"""


ORACLE["extra_stats"] = f"""
with m as (
  select l_returnflag,
         count(*) n,
         cast(count(*) as double) nd,
         cast(sum({sql_dec('l_quantity')}) as double) sx,
         cast(sum({sql_dec('l_extendedprice')}) as double) sy,
         cast(sum({sql_dec('l_quantity')} * {sql_dec('l_extendedprice')})
              as double) sxy,
         cast(sum({sql_dec('l_quantity')} * {sql_dec('l_quantity')})
              as double) sxx,
         cast(sum({sql_dec('l_extendedprice')} * {sql_dec('l_extendedprice')})
              as double) syy
  from lineitem
  group by l_returnflag),
hist as (
  select l_returnflag, l_quantity v, count(*) c
  from lineitem group by l_returnflag, l_quantity),
cum as (
  select l_returnflag, 'qty' which, v,
         sum(c) over (partition by l_returnflag order by v) cum,
         sum(c) over (partition by l_returnflag) n_h
  from hist),
qq as (
  select l_returnflag,
         {_sql_rank_pick('qty', 0.5, 'med_qty')},
         {_sql_rank_pick('qty', 0.9, 'p90_qty')}
  from cum
  group by l_returnflag),
pr as (
  select l_returnflag, 'price' which, l_extendedprice v,
         row_number() over (partition by l_returnflag
                            order by l_extendedprice) cum,
         count(*) over (partition by l_returnflag) n_h
  from lineitem),
pq as (
  select l_returnflag,
         {_sql_rank_pick('price', 0.25, 'p25_price')}
  from pr
  group by l_returnflag),
quant as (
  select qq.l_returnflag, qq.med_qty, qq.p90_qty, pq.p25_price
  from qq join pq on qq.l_returnflag = pq.l_returnflag)
select q.l_returnflag, q.med_qty, q.p90_qty, q.p25_price, m.n,
       round((m.nd * m.sxy - m.sx * m.sy)
             / (sqrt(m.nd * m.sxx - m.sx * m.sx)
                * sqrt(m.nd * m.syy - m.sy * m.sy)), 12)
         corr_qty_price
from quant q join m on q.l_returnflag = m.l_returnflag
"""


# ------------------------------------------------- extra_string_aggs
@_q("extra_string_aggs")
def extra_string_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (ANSI listagg WITHIN GROUP) plus the
    array-aggregation corpus (sorted collect, join, size, index,
    membership) over one supplier grouping. The explicit order and the
    sorted list make every output order-independent."""
    sup = load_table(spark, sf_dir, "supplier").where(F.col("s_suppkey") <= 40)
    sup.createOrReplaceTempView("sup_small")
    return spark.sql(
        "select s_nationkey, "
        "listagg(s_name, '|') within group (order by s_name) s_names, "
        "array_join(array_sort(collect_list(s_name)), ',') names_csv, "
        "cast(size(collect_list(s_name)) as int) n_sup, "
        "element_at(array_sort(collect_list(s_name)), 1) first_name, "
        "cast(array_contains(collect_list(s_name), 'Supplier#000000007') "
        "     as int) has_7 "
        "from sup_small group by s_nationkey"
    )


ORACLE["extra_string_aggs"] = """
select s_nationkey,
       string_agg(s_name, '|' order by s_name) s_names,
       array_to_string(list_sort(list(s_name)), ',') names_csv,
       cast(len(list(s_name)) as integer) n_sup,
       list_sort(list(s_name))[1] first_name,
       cast(list_contains(list(s_name), 'Supplier#000000007') as integer)
           has_7
from supplier
where s_suppkey <= 40
group by s_nationkey
"""


# ------------------------------------------------- extra_pivot_json
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@_q("extra_pivot_json")
def extra_pivot_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (explicit value list, static schema) + JSON-path
    extraction feeding typed aggregation, per user. Pivot leaves absent
    combinations NULL, counted as 0 like the oracle's conditional
    aggregation; n_-prefixed aliases because a bare `view` column is a
    reserved word on the oracle side. Two aggregates on the same
    user_id key joined back: co-partitioned, so the join adds no
    exchange beyond the aggregation shuffles."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 50)
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    k = F.get_json_object("props", "$.k")
    j = (
        ev.select("user_id", k.alias("k_str"), k.cast("int").alias("k"))
        .groupBy("user_id")
        .agg(
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k_str").alias("min_k_str"),
            F.max("k_str").alias("max_k_str"),
        )
    )
    return pivoted.join(j, "user_id").select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES],
        "sum_k",
        "min_k_str",
        "max_k_str",
    )


ORACLE["extra_pivot_json"] = f"""
select user_id,
       {', '.join(f"count(case when event_type = '{t}' then 1 end) n_{t}"
                  for t in _EVENT_TYPES)},
       cast(sum(cast(json_extract_string(props, '$.k') as integer))
            as bigint) sum_k,
       min(json_extract_string(props, '$.k')) min_k_str,
       max(json_extract_string(props, '$.k')) max_k_str
from events
where user_id < 50
group by user_id
"""


# ------------------------------------------------------ extra_variant_json
@_q("extra_variant_json")
def extra_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT-typed semi-structured extraction over
    events.props: parse_json builds the binary variant encoding ONCE,
    then variant_get does typed path extraction from the encoded form
    — the modern scale path for JSON columns (the string is parsed
    once per row, not once per extraction; shredded variant columns
    push this into the scan at the storage layer). Same aggregate
    surface as extra_pivot_json's string-path version so the two gates
    pin identical semantics through both APIs; absent-path extraction
    must yield NULL, pinned by n_missing == n.

    Oracle: DuckDB json_extract on the raw string — variant encoding
    is representation, not semantics."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    ).select(
        "event_type",
        F.expr("variant_get(v, '$.k', 'int')").alias("k"),
        F.expr("variant_get(v, '$.absent', 'int')").alias("absent"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.count(F.when(F.col("absent").isNull(), 1)).alias("n_missing"),
    )


ORACLE["extra_variant_json"] = """
select event_type, count(*) n,
       cast(sum(cast(json_extract_string(props, '$.k') as integer))
            as bigint) sum_k,
       min(cast(json_extract_string(props, '$.k') as integer)) min_k,
       max(cast(json_extract_string(props, '$.k') as integer)) max_k,
       count(case when json_extract_string(props, '$.absent') is null
                  then 1 end) n_missing
from events
group by event_type
"""


# ------------------------------------------------------ extra_udtf_ngrams
UDTF_N = 3
UDTF_TOPK = 20


def _register_ngrams_udtf(spark: SparkSession) -> None:
    """Idempotent per-session registration of the positional-n-gram
    Python UDTF (Arrow-optimized)."""
    if spark.__dict__.get("_dws_udtf_registered"):
        return
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, gram: string", useArrow=True)
    class NgramUDTF:
        def eval(self, text: str, n: int):
            toks = [t for t in (text or "").split(" ") if t]
            for i in range(len(toks) - n + 1):
                yield i, " ".join(toks[i : i + n])

    spark.udtf.register("ngrams_udtf", NgramUDTF)
    spark.__dict__["_dws_udtf_registered"] = True


@_q("extra_udtf_ngrams")
def extra_udtf_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF gate (the second Spark 4 Python extension surface
    after the DataSource): a user-defined TABLE function yielding
    positional n-grams is invoked through SQL as a correlated LATERAL
    table reference, and the top-20 gram counts (with position spread)
    are hash-checked against a DuckDB oracle that replays the same
    positional shingling via range+list indexing. What this gates:
    UDTF registration, the lateral-join plan (one generator call per
    input row, no driver round trip), Arrow-optimized batch transfer,
    and the yield contract.

    Scale/honesty note: a UDTF is Python-side row generation — the
    registered hot path for shingling remains the codegen slice/zip
    builder (operators/_text.py ngrams); this query exists because the
    reference's users can extend the engine with table functions, and
    THIS is Spark's equivalent extension point, gated on values."""
    _register_ngrams_udtf(spark)
    return spark.sql(
        f"""
        select g.gram,
               count(*) as n,
               min(g.pos) as min_pos,
               max(g.pos) as max_pos
        from parquet.`{sf_dir}/documents.parquet` d,
             lateral ngrams_udtf(d.text, {UDTF_N}) g
        group by g.gram
        order by n desc, g.gram
        limit {UDTF_TOPK}
        """
    )


ORACLE["extra_udtf_ngrams"] = f"""
with toks as (
  select doc_id, list_filter(string_split(text, ' '), x -> x != '') t
  from documents),
grams as (
  select doc_id, cast(u.i as int) pos,
         t[u.i + 1] || ' ' || t[u.i + 2] || ' ' || t[u.i + 3] gram
  from toks, unnest(range(0, greatest(len(t) - {UDTF_N - 1}, 0))) u(i))
select gram, count(*) n,
       min(pos) min_pos,
       max(pos) max_pos
from grams
group by gram
order by n desc, gram
limit {UDTF_TOPK}
"""


register_texts(QUERIES, ORACLE)
