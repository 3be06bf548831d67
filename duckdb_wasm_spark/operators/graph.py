"""Graph analytics over the order graph — the iterative-algorithm
family where a distributed engine earns its keep (the same argument as
the pointer-jumping connected components in operators/dedup.py: SQL
engines express these as recursive/unrolled CTE chains, Spark runs the
per-iteration joins as bounded shuffles).

  graph_pagerank          fixed-point PageRank (5 synchronous
                          iterations, damping 0.85) over the
                          customer<->supplier trade graph derived from
                          orders x lineitem; top-20 nodes by rank
  graph_common_neighbors  supplier pairs ranked by shared-customer
                          count (co-occurrence / common-neighbor
                          similarity), with a per-customer degree cap
                          so hub customers cannot go quadratic
  graph_degree_distribution  log2-binned degree histogram per side —
                          the skew diagnostic that sizes CN_CAP and
                          the partitioning strategy

Graph: an undirected bipartite trade graph. Node ids share one bigint
space: customer c -> 2c, supplier s -> 2s+1; an edge (2c, 2s+1) exists
iff customer c has a lineitem supplied by s. Both directions are
materialized so every node has out-degree >= 1 (no dangling-mass term
in the PageRank update).

Determinism (the oracle-hash discipline of operators/sketches.py): all
PageRank arithmetic is BIGINT fixed-point at scale S = 10^12 —
init rank = S div N; contribution = rank div outdeg (floor division,
identical in Spark `div` and DuckDB `//` for non-negative operands);
update = (15*S) div (100*N) + (85 * sum(contrib)) div 100. No float
enters until never: ranks stay bigint end-to-end, so the 5-iteration
fixed point is bit-identical across engines and across partitionings
(bigint sums are order-independent). DuckDB's sum() widens to HUGEINT;
the oracle casts every sum back to bigint (values are bounded by the
total mass ~S, far inside int64).

Scale notes (100 TB framing):
  - Each PageRank iteration is ONE shuffle: edges join ranks on src
    (SHUFFLE_HASH — the edge side is already hash-partitioned on the
    key, so only the <=N-row rank frame moves), then a partial+final
    sum by dst. State is 2 small frames (ranks, static degrees) + the edge
    list — the textbook Pregel decomposition expressed as DataFrame
    ops. The edge list is a DISK-PERSISTED artifact (the _edges
    frames, built once ever as parquet via artifacts.py) so no query in
    the family re-derives the distinct edge list from the base scans,
    and COLD sessions reload it instead of rebuilding (and iterative
    plans' lineage stays iterations deep, not iterations * the
    edge-derivation subtree).
  - The iteration count is fixed (5) and unrolled in BOTH engines —
    the oracle is a 5-deep chained-CTE pipeline generated from the
    same Python constants, so the texts cannot drift.
  - Cold floor (scripts/graph_cold_sweep.py splits a fresh session's
    cold wall into reload + first run): both parts are per-session
    constants, flat in data size. `reload` is the session's first
    respread+checkpoint job, not a scan (the artifact dirs read as
    per-file union relations in parallel); `first − warm` is the
    whole-stage-codegen JIT of the unrolled iteration DAG. Both
    amortize over every family query in a session. A codegen pre-warm
    on a LIMIT-sampled edge view does not help: the limit operators
    change the whole-stage units, so the codegen cache misses. The
    steady-state walls are the price of synchronous fixed-point
    iteration, linear in rounds, not corpus.
  - common-neighbors pairs expand per-customer degree d as d*(d-1)/2;
    the CAP=64 guard bounds the expansion exactly like
    dedup_ngram_jaccard_capped's max_df posting-list cap (dedup.py):
    hot keys are DROPPED by a stated rule the oracle text shares, not
    silently exploded, and graph_degree_distribution is the audit
    that shows what the cap excludes (its top bins are the hubs).

Reference parity: the reference engine's users run iterative analytics
as recursive CTEs (duckdb-wasm ships full recursive-CTE support —
exercised by plans/extras.py extra_recursive_walk); this module is the
Spark-native form of that capability class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_wasm_spark.plans._util import registrar
from duckdb_wasm_spark.tables import load_table

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


_q = registrar(QUERIES)


# ---------------------------------------------------------- graph_pagerank
PR_SCALE = 10**12  # fixed-point unit: 1.0 == 10^12
PR_ITERS = 5
PR_DAMP_NUM = 85  # damping 0.85 as integers: 85/100
PR_TOPK = 20


def _trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (customer-node, supplier-node) pairs from orders x
    lineitem — the bipartite edge set before symmetrization."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )


_SQL_TRADE_PAIRS = """
  select distinct o_custkey * 2 a, l_suppkey * 2 + 1 b
  from lineitem join orders on l_orderkey = o_orderkey
"""


def _edges(spark: SparkSession, sf_dir: str, shape: str) -> DataFrame:
    """DISK-PERSISTED edge frames shared by the whole graph family (a
    session-scoped memo would make every cold session re-pay the
    orders x lineitem distinct build that a production graph pipeline
    materializes once next to the source tables). One artifact kind
    holds every shape, built together on first touch ever and reloaded
    flat-parquet by all later sessions; the `layout` spec brings each
    frame back HASH-partitioned by its consumers' key (cs by cust,
    sym/symw by src — the per-iteration join key), so no consumer
    gains a shuffle from the reload. Shapes:

    - "cs":   bipartite (cust, supp) pairs — the base shape.
    - "sym":  symmetrized (src, dst) directed edges.
    - "symw": WEIGHTED symmetric edges + weight-1 self-loops (the LPA
      vote graph): weight = lineitem multiplicity, which the distinct
      "cs" shape cannot supply.
    - "deg_sym": per-node outdegree of "sym" — the PageRank degree
      frame, persisted so its aggregate is build-once too.

    Stale-safe via the (lineitem, orders) fingerprints; reload ≡
    rebuild parity is tested in tests/test_artifacts.py."""
    return _edges_artifact(spark, sf_dir)[shape]


def _edges_build(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """One-time builder for every graph edge shape (see _edges)."""
    cs = _trade_pairs(spark, sf_dir).select(
        F.col("a").alias("cust"), F.col("b").alias("supp")
    )
    # the builder frames are consumed 2-3x inside this closure;
    # checkpoint them so the parquet writes don't re-derive the
    # orders x lineitem join per shape
    cs = cs.repartition("cust").localCheckpoint()
    sym = cs.select(
        F.col("cust").alias("src"), F.col("supp").alias("dst")
    ).unionByName(
        cs.select(
            F.col("supp").alias("src"), F.col("cust").alias("dst")
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint()
    )
    wsym = pairs.selectExpr("a src", "b dst", "w").unionByName(
        pairs.selectExpr("b src", "a dst", "w")
    )
    symw = wsym.unionByName(
        wsym.select("src")
        .distinct()
        .selectExpr("src", "src dst", "cast(1 as bigint) w")
    )
    sym = sym.repartition("src").localCheckpoint()
    deg = (
        sym.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .select(F.col("src").alias("node"), "outdeg")
    )
    return {"cs": cs, "sym": sym, "symw": symw, "deg_sym": deg}



def _edges_artifact(spark: SparkSession, sf_dir: str):
    from duckdb_wasm_spark.artifacts import persisted_frames

    def _build() -> dict[str, DataFrame]:
        return _edges_build(spark, sf_dir)

    return persisted_frames(
        spark,
        "graph_edges",
        sf_dir,
        ("lineitem", "orders"),
        _build,
        # cs/sym/symw come back hash-partitioned + checkpointed (one
        # bounded job per frame per session): their consumers
        # reference them 2-11 times each (unrolled iterations,
        # self-joins), and a raw scan re-pays the read per reference
        # (measured: common_neighbors 2.7s -> 5.1s warm on a raw cs).
        # deg_sym is RAW: 16k rows whose consumers shuffle it anyway,
        # so any materialization job costs more than the re-scans.
        layout={"cs": ["cust"], "sym": ["src"], "symw": ["src"],
                "deg_sym": "raw"},
        # n_nodes rides in the artifact's _META.json so PageRank's
        # per-session deg.count() job disappears: the count is a
        # property of the persisted degree frame, so it persists WITH
        # the frame
        meta_build=lambda built: {"n_nodes": built["deg_sym"].count()},
    )


@_q("graph_pagerank")
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PageRank nodes of the customer<->supplier trade graph
    (bigint fixed-point, 5 synchronous iterations — see module
    docstring for the determinism and per-iteration shuffle story).

    Output: node (bigint; odd = supplier), is_supplier, rank (bigint,
    fixed-point at 10^12). Suppliers aggregate the rank of every
    customer they serve, so the top of the list is the high-degree
    supplier side — the same mass concentration a web graph shows.

    Build-cost note: the 5 iterations are ONE
    generated Spark-SQL text over temp views of the memoized,
    checkpointed edge list and the (checkpointed) degree frame — the
    same chained-CTE generator shape as the oracle, so the two texts
    cannot drift and the ~5 rounds of py4j DataFrame construction
    collapse into a single spark.sql parse.  deg MUST be a
    materialized view, not a CTE: each unrolled level references it,
    and as a CTE Spark re-aggregates the corpus-scale edge list per
    reference (measured 5.6s exec vs 2.0s at sf0.1).  n_nodes rides in
    as a driver literal served from the edge artifact's persisted
    metadata (the count is a property of the
    persisted degree frame, so it persists with it; no per-session
    count job).  The node-sized rank/contrib sides carry SHUFFLE_HASH
    hints: the edge list is already hash-partitioned on src, so each
    iteration shuffles only the ≤N-row rank frame and probes the
    co-partitioned edges in place — the strategy that survives N
    beyond broadcast at cluster scale, and measured faster than the
    broadcast form even at sf0.1 (2.4s vs 3.5s warm, 4.9s vs 6.1s
    first-run: no per-iteration broadcast-build jobs)."""
    art = _edges_artifact(spark, sf_dir)
    ev, dv = "dws_graph_edges_sym", "dws_graph_deg"
    art["sym"].createOrReplaceTempView(ev)
    # the degree frame is the persisted "deg_sym" artifact shape —
    # cold sessions reload it instead of re-aggregating the edge list
    art["deg_sym"].createOrReplaceTempView(dv)
    # _META.json can go missing while the parts marker survives (dir
    # copied without the sidecar, sidecar deleted) — self-heal from
    # the degree frame instead of a KeyError; same value by
    # tests/test_artifacts.py::test_graph_edges_meta_n_nodes
    n_nodes = art.meta.get("n_nodes")
    if n_nodes is None:
        n_nodes = art["deg_sym"].count()
    return spark.sql(
        _pagerank_sql(ev, spark_dialect=True, deg_view=dv, n_nodes=n_nodes)
    )


def _pagerank_sql(
    edges_rel: str | None = None,
    spark_dialect: bool = False,
    deg_view: str | None = None,
    n_nodes: int | None = None,
) -> str:
    """The same 5 fixed-point iterations as chained CTEs — ONE
    generator emits both engines' texts from the same constants so
    they cannot drift.  DuckDB dialect (`//` integer division) derives
    everything inline (deg as a CTE, n as a scalar CTE); Spark dialect
    (`div`) reads the memoized edge checkpoint and the CHECKPOINTED
    degree frame from temp views and takes n_nodes as a literal —
    as CTEs, Spark would re-aggregate the corpus-scale edge list at
    every one of the ~11 deg/n references in the unrolled chain.  The
    arithmetic is identical either way: teleport and r0 use the same
    integer floor division in both dialects."""
    d = "div" if spark_dialect else "//"
    if spark_dialect:
        cte = [
            f"with edges as (select src, dst from {edges_rel}),",
            f"deg as (select node, outdeg from {deg_view}),",
        ]
        r0_rank = str(PR_SCALE // n_nodes)
        teleport = str((15 * PR_SCALE) // (100 * n_nodes))
        r0_from = "deg"
        ri_from = "deg d"
        hint = "/*+ SHUFFLE_HASH(r) */ "
        ri_hint = "/*+ SHUFFLE_HASH(c) */ "
    else:
        cte = [
            f"with pairs as ({_SQL_TRADE_PAIRS}),",
            "edges as (select a src, b dst from pairs"
            " union all select b src, a dst from pairs),",
            "deg as (select src node, count(*) outdeg"
            " from edges group by 1),",
            "n as (select count(*) n_nodes from deg),",
        ]
        r0_rank = f"{PR_SCALE} {d} n_nodes"
        teleport = f"{15 * PR_SCALE} {d} (100 * n_nodes)"
        r0_from = "deg, n"
        ri_from = "deg d cross join n"
        hint = ""
        ri_hint = ""
    cte.append(f"r0 as (select node, outdeg, {r0_rank} rank from {r0_from}),")
    for i in range(1, PR_ITERS + 1):
        cte.append(
            f"c{i} as (select {hint}e.dst node,"
            f" cast(sum(r.rank {d} r.outdeg) as bigint) inc"
            f" from r{i - 1} r join edges e on r.node = e.src"
            " group by 1),"
        )
        cte.append(
            f"r{i} as (select {ri_hint}d.node, d.outdeg, cast("
            f"{teleport}"
            f" + ({PR_DAMP_NUM} * coalesce(inc, 0)) {d} 100"
            " as bigint) rank"
            f" from {ri_from} left join c{i} c on d.node = c.node),"
        )
    body = "\n".join(cte).rstrip(",")
    return (
        f"{body}\n"
        f"select node, node % 2 = 1 is_supplier, rank\n"
        f"from r{PR_ITERS}\n"
        f"order by rank desc, node limit {PR_TOPK}"
    )


ORACLE["graph_pagerank"] = _pagerank_sql()


# -------------------------------------------------- graph_common_neighbors
CN_CAP = 64  # max suppliers per customer admitted to pair expansion
CN_TOPK = 20


@_q("graph_common_neighbors")
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 supplier pairs by shared-customer count — the
    common-neighbor similarity of the bipartite trade graph, the
    building block of co-occurrence recommenders and graph features.

    Pair expansion is the self-join of the (customer, supplier) edge
    list on customer with s1 < s2 — co-partitioned on the customer
    key, so the shuffle is one exchange of the (deduplicated) edge
    list and pairs are generated joint-locally. A customer linked to d
    suppliers emits d*(d-1)/2 pairs; customers above CAP=64 suppliers
    are excluded by a stated rule (the df-cap discipline of
    dedup_ngram_jaccard_capped), so the expansion is bounded by
    CAP^2/2 per customer no matter how hot a hub key gets at 100 TB.
    At the gated scales no customer reaches the cap, so the capped
    result equals the uncapped one and the oracle states the same
    filter."""
    # the deduplicated edge list is checkpointed ONCE PER SESSION via
    # the family memo (_edges): Catalyst does not dedupe common
    # subtrees, so each self-join side (and the degree frame) reads
    # the shared materialization instead of re-deriving the
    # orders x lineitem distinct
    cs = _edges(spark, sf_dir, "cs")
    deg = cs.groupBy("cust").agg(F.count(F.lit(1)).alias("n_supp"))
    kept = cs.join(deg.where(F.col("n_supp") <= CN_CAP), "cust")
    left = kept.select("cust", F.col("supp").alias("s1"))
    right = kept.select("cust", F.col("supp").alias("s2"))
    return (
        left.join(right, "cust")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy(
            F.col("n_shared").desc(), F.col("s1").asc(), F.col("s2").asc()
        )
        .limit(CN_TOPK)
    )


ORACLE["graph_common_neighbors"] = f"""
with cs as (select a cust, b supp from ({_SQL_TRADE_PAIRS})),
deg as (select cust, count(*) n_supp from cs group by 1),
kept as (select cs.cust, cs.supp from cs
         join deg using (cust) where n_supp <= {CN_CAP})
select l.supp s1, r.supp s2, count(*) n_shared
from kept l join kept r on l.cust = r.cust and l.supp < r.supp
group by 1, 2
order by n_shared desc, s1, s2 limit {CN_TOPK}
"""


# ----------------------------------------------- graph_degree_distribution
@_q("graph_degree_distribution")
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned degree histogram of each bipartite side — the first
    diagnostic a graph pipeline runs (skew detection for partitioning
    and the cap settings of the pair-expansion operators: the top bin
    IS the hub population graph_common_neighbors' CN_CAP must bound).

    Two aggregates over the deduplicated edge list (degree per node,
    then nodes per (side, bin)); bins via integer bit-length
    (length(bin(d)) - 1 = floor(log2 d)) — no float log, so bin edges
    are engine-exact. Output is |sides| x |bins| rows, corpus-free."""
    pairs = _edges(spark, sf_dir, "cs")
    deg = (
        pairs.select(
            F.col("cust").alias("node"), F.lit("customer").alias("side")
        )
        .unionByName(
            pairs.select(
                F.col("supp").alias("node"), F.lit("supplier").alias("side")
            )
        )
        .groupBy("side", "node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return (
        deg.select(
            "side", F.expr("length(bin(d)) - 1").alias("bin"), "d"
        )
        .groupBy("side", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("d").cast("long").alias("sum_deg"),
            F.min("d").alias("min_deg"),
            F.max("d").alias("max_deg"),
        )
        .orderBy("side", "bin")
    )


ORACLE["graph_degree_distribution"] = f"""
with pairs as ({_SQL_TRADE_PAIRS}),
deg as (
  select side, node, count(*) d from (
    select a node, 'customer' side from pairs
    union all
    select b node, 'supplier' side from pairs)
  group by 1, 2)
select side, length(to_base(d, 2)) - 1 bin,
       count(*) n_nodes,
       cast(sum(d) as bigint) sum_deg,
       min(d) min_deg,
       max(d) max_deg
from deg
group by 1, 2
order by side, bin
"""


# --------------------------------------------------- graph_triangle_count
TRI_EDGES = 1000  # projection budget: strongest co-occurrence edges kept


@_q("graph_triangle_count")
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the supplier co-occurrence projection — the
    clustering-structure probe (global transitivity) every graph
    feature pipeline computes after degree stats.

    The bipartite trade graph is DENSE in projection (at the gated
    scales every supplier pair shares customers), so a fixed
    shared-count threshold degenerates to the complete graph. The
    projection is therefore budgeted: keep the TRI_EDGES strongest
    edges by (shared-customer count desc, s1, s2) — a total order, so
    the kept edge set is deterministic and the downstream cost is a
    CONSTANT of the budget, not the corpus (the same cap discipline as
    CN_CAP / max_df: the rule is stated, not silently exploded).

    Plan: the capped pair expansion of graph_common_neighbors (one
    co-partitioned self-join), a TakeOrdered top-K for the projection,
    then the oriented 3-way edge self-join — edges stored s1<s2, the
    wedge join matches b as the middle node (a<b<c) and the closing
    join checks (a,c), so each triangle is counted exactly once.  The
    edge list is localCheckpoint'd ONCE: four consumers (two wedge
    sides, the closer, the degree frame) would otherwise each re-derive
    the full expansion.  At 100 TB the triangle join runs on the
    TRI_EDGES-row frame — broadcastable by construction.

    Output: one row — n_nodes, n_edges, n_wedges (sum d*(d-1)/2 over
    the projection), n_triangles, and global transitivity
    3*triangles/wedges (integers end-to-end, one final division)."""
    cs = _edges(spark, sf_dir, "cs")
    deg_c = cs.groupBy("cust").agg(F.count(F.lit(1)).alias("n_supp"))
    kept = cs.join(deg_c.where(F.col("n_supp") <= CN_CAP), "cust")
    left = kept.select("cust", F.col("supp").alias("s1"))
    right = kept.select("cust", F.col("supp").alias("s2"))
    edges = (
        left.join(right, "cust")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy(F.col("n_shared").desc(), F.col("s1"), F.col("s2"))
        .limit(TRI_EDGES)
        .select("s1", "s2")
        .localCheckpoint()
    )
    # oriented wedge + close: (a<b) x (b<c) closed by (a,c)
    e_ab = edges.select(F.col("s1").alias("a"), F.col("s2").alias("b"))
    e_bc = edges.select(F.col("s1").alias("b"), F.col("s2").alias("c"))
    e_ac = edges.select(F.col("s1").alias("a"), F.col("s2").alias("c"))
    tri = (
        e_ab.join(e_bc, "b")
        .join(e_ac, ["a", "c"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    deg = (
        edges.select(F.col("s1").alias("node"))
        .unionByName(edges.select(F.col("s2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    node_stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges"),
    )
    edge_stats = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    # three 1-row aggregate frames — scalar cross, BNLJ-allowlisted
    return (
        node_stats.crossJoin(edge_stats)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            (
                F.lit(3.0)
                * F.col("n_triangles").cast("double")
                / F.col("n_wedges")
            ).alias("transitivity"),
        )
    )


ORACLE["graph_triangle_count"] = f"""
with cs as (select a cust, b supp from ({_SQL_TRADE_PAIRS})),
deg_c as (select cust, count(*) n_supp from cs group by 1),
kept as (select cs.cust, cs.supp from cs
         join deg_c using (cust) where n_supp <= {CN_CAP}),
shared as (
  select l.supp s1, r.supp s2, count(*) n_shared
  from kept l join kept r on l.cust = r.cust and l.supp < r.supp
  group by 1, 2),
edges as (
  select s1, s2 from shared
  order by n_shared desc, s1, s2 limit {TRI_EDGES}),
tri as (
  select cast(count(*) as bigint) n_triangles
  from edges ab
  join edges bc on ab.s2 = bc.s1
  join edges ac on ac.s1 = ab.s1 and ac.s2 = bc.s2),
deg as (
  select node, count(*) d from (
    select s1 node from edges union all select s2 node from edges)
  group by 1),
node_stats as (
  select cast(count(*) as bigint) n_nodes,
         cast(sum(d * (d - 1) // 2) as bigint) n_wedges
  from deg),
edge_stats as (select cast(count(*) as bigint) n_edges from edges)
select n_nodes, n_edges, n_wedges, n_triangles,
       3.0 * cast(n_triangles as double) / n_wedges transitivity
from node_stats, edge_stats, tri
"""


# --------------------------------------------------------- graph_kcore
KCORE_K = 10  # core order: every surviving node keeps >= K neighbors
KCORE_ROUNDS = 4  # synchronous peels, unrolled in both engines


@_q("graph_kcore")
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE decomposition of the trade graph by synchronous peeling —
    the degeneracy probe (Seidman 1983) run before sampling dense
    subgraphs or sizing message-passing features: repeatedly delete
    every node of degree < K until a fixpoint; what survives is the
    maximal subgraph of minimum degree K.

    Algorithm class: the third distributed fixpoint family in the repo
    next to pointer-jumping CC (dedup_clusters) and fixed-point
    PageRank — but DELETION-monotone: each round is one degree
    aggregate over the current edge frame plus two semi-joins that
    drop edges touching peeled nodes. KCORE_ROUNDS synchronous rounds
    are unrolled in BOTH engines (generated from the same constants);
    extra rounds past the fixpoint are no-ops, and the Spark side
    ASSERTS the fixpoint was reached (any node under K after the last
    round raises — same non-convergence discipline as the CC loop:
    never return a partial core silently). On this near-regular trade
    graph the peel converges in one round; on the power-law graphs a
    real corpus yields, the cascade is exactly what the rounds absorb.

    Plan: edges hash-partitioned by src once and localCheckpoint'd per
    EXECUTED round (lineage stays one round deep, the partitioning is
    reused by every degree aggregate); each peel is one partial+final
    count and two LeftSemi joins on the (shrinking) survivor frame —
    at the gated scale AQE broadcasts the survivor side, at cluster
    scale the join co-partitions. Nothing collects; the per-round
    driver scalar is the under-K count — the CC loop's convergence-
    test discipline: when a round finds NO node under K the
    remaining peels are provably identity filters (keep = every src,
    both semi-joins no-ops), so the loop exits instead of running
    them — running all KCORE_ROUNDS unconditionally on this
    near-regular graph (converged after one peel) would pay three
    no-op rounds of semi-join + checkpoint wall per call. A graph
    still peeling after KCORE_ROUNDS rounds raises exactly as before
    (the final under-K count IS the old fixpoint assertion).

    Output: one row per side — is_supplier, n_nodes, n_edges (directed
    out-edges inside the core), min_deg / max_deg within the core."""
    edges = _edges(spark, sf_dir, "sym")
    # deg is LAZILY localCheckpoint'd per round: the
    # convergence count AND the keep filter both consume it —
    # uncached, each round ran the SAME degree aggregate twice over
    # the checkpointed edges (once under the count action, once under
    # the semi-joins). Lazy, not eager, so the materialization rides
    # the count action that already runs every round (no extra job):
    # the count computes the aggregate once into the checkpoint, and
    # keep / the final per-side aggregate read the tiny materialized
    # node frame instead of re-aggregating the edge frame.
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)
    )
    converged = False
    for _ in range(KCORE_ROUNDS):
        if deg.where(F.col("d") < KCORE_K).count() == 0:
            converged = True  # fixpoint: remaining peels are no-ops
            break
        keep = deg.where(F.col("d") >= KCORE_K).select("src")
        edges = (
            edges.join(keep, "src", "left_semi")
            .join(
                keep.select(F.col("src").alias("dst")), "dst", "left_semi"
            )
            .localCheckpoint()
        )
        deg = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .localCheckpoint(eager=False)
        )
    final_deg = deg
    # fixpoint assertion: one driver scalar (CC-loop discipline) — a
    # node still under K after KCORE_ROUNDS peels means the cascade
    # outran the unroll budget; raise rather than emit a non-core.
    if not converged:
        not_core = final_deg.where(F.col("d") < KCORE_K).count()
        if not_core:
            raise RuntimeError(
                f"k-core peel did not converge in {KCORE_ROUNDS} rounds: "
                f"{not_core} nodes below K={KCORE_K}"
            )
    return (
        final_deg.groupBy((F.col("src") % 2 == 1).alias("is_supplier"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("n_edges"),
            F.min("d").cast("long").alias("min_deg"),
            F.max("d").cast("long").alias("max_deg"),
        )
        .select("is_supplier", "n_nodes", "n_edges", "min_deg", "max_deg")
    )


def _kcore_oracle() -> str:
    """The same KCORE_ROUNDS synchronous peels as chained CTEs,
    generated from the same constants so the texts cannot drift."""
    cte = [
        f"with pairs as ({_SQL_TRADE_PAIRS}),",
        "e0 as (select a src, b dst from pairs"
        " union all select b src, a dst from pairs),",
    ]
    for i in range(1, KCORE_ROUNDS + 1):
        cte.append(
            f"k{i} as (select src from e{i - 1}"
            f" group by 1 having count(*) >= {KCORE_K}),"
        )
        cte.append(
            f"e{i} as (select e.src, e.dst from e{i - 1} e"
            f" join k{i} a on e.src = a.src"
            f" join k{i} b on e.dst = b.src),"
        )
    cte.append(
        f"fdeg as (select src, count(*) d from e{KCORE_ROUNDS}"
        " group by 1)"
    )
    body = "\n".join(cte)
    return (
        f"{body}\n"
        "select src % 2 = 1 is_supplier,\n"
        "       cast(count(*) as bigint) n_nodes,\n"
        "       cast(sum(d) as bigint) n_edges,\n"
        "       cast(min(d) as bigint) min_deg,\n"
        "       cast(max(d) as bigint) max_deg\n"
        "from fdeg group by 1"
    )


ORACLE["graph_kcore"] = _kcore_oracle()


# ------------------------------------------- graph_label_propagation
LPA_ITERS = 2
LPA_TOPK = 20


@_q("graph_label_propagation")
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by WEIGHTED synchronous label propagation
    (Raghavan et al. 2007) over the trade graph: every node starts as
    its own label; each round a node adopts the label with the largest
    incident edge-weight sum among its neighbors and itself (edge
    weight = lineitem multiplicity between the customer and supplier —
    weighting is what gives the dense trade graph real structure:
    uniform votes tie everywhere and the min-label tie-break floods
    the graph into one giant community, the documented LPA "monster"
    mode, which at LPA_ITERS=2 the weighted form avoids — measured 86/
    85/71/54-member top communities at sf0.01 vs a 1500-member flood
    unweighted; by round 3 even weighted votes flood ~3/4 of the
    graph, so the fixed round count IS the operating point, exactly
    as a production LPA caps rounds before the giant emerges). Ties
    to the smallest label; self-vote weight 1 damps the synchronous
    bipartite oscillation.

    Determinism: votes are integer weight sums; the winner pick is
    total ((cnt desc, lbl asc)); synchronous rounds with a fixed count
    make the trajectory a pure function of the weighted edge list,
    which the oracle replays as the identical unrolled CTE chain (the
    PageRank/k-core fixed-point discipline — self-votes are explicit
    weight-1 self-loops so each round is ONE aggregate).

    Plan (100 TB): per round = one equi-join of the node-sized label
    frame (SHUFFLE_HASH-hinted, the PageRank contrib discipline —
    the label frame co-partitions on the edges' src hash, the
    strategy that survives node counts beyond broadcast) against the src-partitioned weighted edge
    list, one (dst, lbl) map-side-combining sum, and one per-NODE
    max_by hash-aggregate argmax over the total (cnt, −lbl) key — a
    hash agg, not a per-node sort (measured 2.4s → 2.1s warm at sf0.1
    and identical results; the oracle keeps the row_number form, the
    reference semantics). State between rounds is one (node, lbl)
    frame; nothing grows with iterations. The iteration count is the
    honest scale cost, exactly as PageRank's. The weighted self-looped
    edge list is the disk-persisted "symw" _edges artifact shape —
    built once ever, reloaded flat-parquet by cold sessions."""
    edges = _edges(spark, sf_dir, "symw")
    ev = "dws_graph_edges_lpa"
    edges.createOrReplaceTempView(ev)
    return spark.sql(_lpa_sql(edges_rel=ev, spark_dialect=True))


def _lpa_sql(
    edges_rel: str | None = None, spark_dialect: bool = False
) -> str:
    """LPA_ITERS weighted synchronous rounds as chained CTEs — one
    generator emits both engines' texts from the same constants (the
    _pagerank_sql discipline). DuckDB derives the self-looped weighted
    edge list inline; Spark reads the checkpointed temp view."""
    if spark_dialect:
        cte = [f"with edges as (select src, dst, w from {edges_rel}),"]
    else:
        cte = [
            "with pairs as (",
            "  select o_custkey * 2 a, l_suppkey * 2 + 1 b, count(*) w",
            "  from lineitem join orders on l_orderkey = o_orderkey",
            "  group by 1, 2),",
            "sym as (select a src, b dst, w from pairs"
            " union all select b src, a dst, w from pairs),",
            "edges as (select src, dst, w from sym"
            " union all select distinct src, src, 1 from sym),",
        ]
    hint = "/*+ SHUFFLE_HASH(l) */ " if spark_dialect else ""
    cte.append("l0 as (select distinct src node, src lbl from edges),")
    for i in range(1, LPA_ITERS + 1):
        cte.append(
            f"a{i} as (select {hint}e.dst node, l.lbl,"
            " cast(sum(e.w) as bigint) cnt"
            f" from l{i - 1} l join edges e on l.node = e.src"
            " group by 1, 2),"
        )
        if spark_dialect:
            # hash-agg argmax: total key (cnt desc, lbl asc) as the
            # struct (cnt, -lbl) — same winner as the oracle's
            # row_number pick, no per-node sort
            cte.append(
                f"l{i} as (select node, max_by(lbl,"
                " named_struct('c', cnt, 'nl', -lbl)) lbl"
                f" from a{i} group by node),"
            )
        else:
            cte.append(
                f"l{i} as (select node, lbl from ("
                "select node, lbl, row_number() over ("
                "partition by node order by cnt desc, lbl asc) rn"
                f" from a{i}) r where rn = 1),"
            )
    body = "\n".join(cte).rstrip(",")
    return (
        f"{body}\n"
        f"select lbl community, cast(count(*) as bigint) n_members\n"
        f"from l{LPA_ITERS} group by 1\n"
        f"order by n_members desc, community limit {LPA_TOPK}"
    )


ORACLE["graph_label_propagation"] = _lpa_sql()
