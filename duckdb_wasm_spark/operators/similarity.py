"""Similarity search over the `embeddings` table (vec_id, embedding
list<float>[64], label): the ANN family, each variant checked against
exact cosine top-k.

  sim_topk_brute           exact cosine top-k for the 50-vector query
                           panel, the baseline every variant is judged by
  sim_topk_ivf             IVF: one nearest seed cell per vector, each
                           query searches its own cell
  sim_topk_ivf_probe       multi-probe IVF (N_PROBE cells per query)
  ivf_centroid_refine      one exact Lloyd step of the seed centroids
  sim_topk_ivf_trained     multi-probe IVF over a Lloyd-trained codebook
  sim_topk_pq              product quantization, ADC scan
  sim_topk_pq_rerank       PQ shortlist + exact cosine rerank
  sim_topk_ivfpq           trained IVF cells + PQ shortlist + rerank
  sim_topk_ivfpq_residual  the same over per-cell residual codes
  ivf_incremental_ingest   a new batch assigned to a codebook trained
                           without it, with the drift audit
  ivf_kmeanspp_init        k-means|| seeding
  sim_topk_mmr             maximal-marginal-relevance re-ranking
plus the embedding audits (outliers, int8, random projection, PCA,
ABTT, covariance, cluster purity, quantization and truncation recall).

Every variant builds from the same four steps, one helper each:
  _normed          (vec_id, embedding, nrm), nrm the fold-dot L2 norm
  _seed_centroids  the deterministic seeds vec_id < N_CENTROIDS, and
  _assign_cells    the nearest-centroid rank per vector
  _lloyd_means     the exact fixed-point per-(cell, pos) member mean
  _topk            per-query top-k: row_number over the query, score
                   descending (ascending for ADC distances), ties on
                   the neighbor id
and the oracle texts build from their SQL twins (_sql_normed,
_sql_seeds, _SQL_ARN, _sql_refine_iter, _sql_rerank), which generate
text identical to the per-query copies they replaced.

Determinism: cosine is the shared left-fold double dot product
(bit-identical to the DuckDB oracle's list_reduce, see dedup.dot_fold);
rank ties break on neighbor id, so top-k is total and hash-stable;
every mean and every summed distance is 2^20 fixed point first.

Scale notes (100 TB):
  - sim_topk_brute is O(|Q|·N) by construction; it exists to pin
    correctness for a small query panel, not as the scale path. The
    queries side is broadcast; the big side streams — no shuffle of the
    vector corpus.
  - the IVF variants are the scale path: centroids broadcast,
    assignment is a narrow map over the corpus, search joins only
    within a cell (equi-join on cell id ⇒ partition-local after one
    shuffle by cell). Centroid training is an offline batch job; its
    results persist as index artifacts (artifacts.py).
  - dedup.dedup_embedding_lsh is the hyperplane-LSH ANN family,
    registered with the dedup operators.

Reference parity note: no similarity surface exists in the reference;
this family extends it (SURVEY.md §7 phase 5).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_wasm_spark.operators._text import sql_tok_hash60, tok_hash60
from duckdb_wasm_spark.operators.dedup import (
    _cosine,
    _sql_cos,
    dot_fold,
    sql_dot,
)
from duckdb_wasm_spark.plans._util import registrar
from duckdb_wasm_spark.tables import load_table

QUERIES: dict = {}
ORACLE: dict[str, str] = {}

N_QUERIES = 50  # query panel: vec_id < 50
TOP_K = 5
N_CENTROIDS = 8  # IVF coarse cells: centroids = vec_id < 8


_q = registrar(QUERIES)


# ------------------------------------------------- the shared steps
_FP_SCALE = 1 << 20  # fixed-point accumulation unit (2^-20 resolution)


def _normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, nrm): the corpus with its L2 norm as the
    shared fold dot — the first step of every cosine variant."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.sqrt(dot_fold("embedding", "embedding")).alias("nrm"),
    )


def _queries(frame: DataFrame, *extra) -> DataFrame:
    """The panel side (query_id, eq, nq, *extra) of a normed frame."""
    return frame.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("eq"),
        F.col("nrm").alias("nq"), *extra,
    )


def _neighbors(frame: DataFrame, *extra) -> DataFrame:
    """The corpus side (neighbor_id, en, nn, *extra) of a normed frame."""
    return frame.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("en"),
        F.col("nrm").alias("nn"), *extra,
    )


def _rank_over(
    by: str = "sim",
    asc: bool = False,
    query: str = "query_id",
    neighbor: str = "neighbor_id",
):
    """row_number per `query`, `by` descending (ascending for
    distances), ties on the smaller `neighbor` — a total order."""
    order = F.col(by).asc() if asc else F.col(by).desc()
    return F.row_number().over(
        Window.partitionBy(query).orderBy(order, F.col(neighbor).asc())
    )


def _topk(pairs: DataFrame, k: int, rank: str = "rank", **order) -> DataFrame:
    """Per-query top-`k` of scored pairs: `rank` = _rank_over(**order),
    rows with rank <= k kept."""
    return pairs.withColumn(rank, _rank_over(**order)).where(
        F.col(rank) <= k
    )


def _seed_centroids(normed: DataFrame, where=None) -> DataFrame:
    """(c_id, ec, nc) seed centroids: the vectors with vec_id <
    N_CENTROIDS, or those matching `where`."""
    if where is None:
        where = F.col("vec_id") < N_CENTROIDS
    return normed.where(where).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("ec"),
        F.col("nrm").alias("nc"),
    )


def _assign_cells(normed: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment (cosine, tie → smaller centroid id):
    broadcast the C-row centroid frame, rank the C-way fan-out per
    vector. Returns (vec_id, embedding, nrm, c_id, c_sim, arn) — callers
    keep arn=1 (hard assignment) or arn<=nprobe (query probing)."""
    aw = Window.partitionBy("vec_id").orderBy(
        F.col("c_sim").desc(), F.col("c_id").asc()
    )
    return (
        normed.join(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "nrm",
            "c_id",
            _cosine("embedding", "ec", "nrm", "nc").alias("c_sim"),
        )
        .withColumn("arn", F.row_number().over(aw))
    )


def _lloyd_means(
    assigned: DataFrame,
    *aggs,
    keys: tuple = ("cell",),
    vec: str = "embedding",
    mean: str = "c",
) -> DataFrame:
    """One Lloyd step's new centroids as (*keys, pos, *aggs, mean): the
    member mean of every `vec` component per (*keys, pos), accumulated
    in 2^20-scaled bigint fixed point — integer sums are associative, so
    the mean is the same on any partitioning and in the oracle — then
    s/n/2^20, two correctly-rounded divisions."""
    comp = assigned.select(
        *keys, F.posexplode(vec).alias("pos", "v")
    ).select(
        *keys,
        "pos",
        F.floor(F.col("v").cast("double") * _FP_SCALE).alias("sv"),
    )
    return comp.groupBy(*keys, "pos").agg(
        *aggs,
        (
            F.sum("sv").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(float(_FP_SCALE))
        ).alias(mean),
    )


def _sql_normed(name: str = "normed", where: str = "") -> str:
    """Oracle twin of _normed, as one CTE."""
    return f"""{name} as (
  select vec_id, embedding,
         sqrt({sql_dot('embedding', 'embedding')}) nrm
  from embeddings{where})"""


def _sql_seeds(name: str, bound: int, src: str = "normed") -> str:
    """Oracle twin of _seed_centroids, as one CTE."""
    return f"""{name} as (select vec_id c_id, embedding ec, nrm nc from {src}
         where vec_id < {bound})"""


# Oracle twin of _assign_cells' rank over (normed e, centroids c).
_SQL_CSIM = f"{sql_dot('e.embedding', 'c.ec')} / (e.nrm * c.nc)"
_SQL_ARN = f"""row_number() over (
             partition by e.vec_id
             order by {_SQL_CSIM} desc,
                      c.c_id asc) arn"""


def _sql_rank(by: str = "sim desc") -> str:
    """Oracle twin of _rank_over."""
    return f"""row_number() over (partition by query_id
                               order by {by}, neighbor_id asc) rank"""


def _sql_topk(cols: str = "query_id, neighbor_id") -> str:
    """Oracle twin of _topk over the `sims` CTE, as the query's tail."""
    return f"""ranked as (
  select *, {_sql_rank()}
  from sims)
select {cols}, rank, sim from ranked
where rank <= {TOP_K}
"""


def _sql_rerank(r: int, vecs: str = "fullvec") -> str:
    """Oracle twin of _exact_rerank over the top-`r` rows of
    `adcranked`, as the query's tail; `vecs` names the normed CTE the
    full-precision vectors come from (defined here when "fullvec")."""
    full = f"\n{_sql_normed(vecs)}," if vecs == "fullvec" else ""
    return f"""
shortlist as (
  select query_id, neighbor_id from adcranked where rank <= {r}),{full}
rer as (
  select s.query_id, s.neighbor_id,
         {_sql_cos("q", "n")} sim
  from shortlist s
  join {vecs} n on n.vec_id = s.neighbor_id
  join {vecs} q on q.vec_id = s.query_id),
reranked as (
  select query_id, neighbor_id, sim,
         {_sql_rank()}
  from rer)
select query_id, neighbor_id, rank, sim from reranked
where rank <= {TOP_K}
"""


# -------------------------------------------------------- sim_topk_brute
def _panel_brute_topk(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Exact cosine top-`k` for the query panel (vec_id < N_QUERIES),
    self excluded, ties on neighbor id — the one brute-force pass both
    panel consumers (sim_topk_brute, dedup.knn_graph_recall) share."""
    normed = _normed(spark, sf_dir)
    q = _queries(normed.where(F.col("vec_id") < N_QUERIES))
    pairs = (
        F.broadcast(q)
        .join(_neighbors(normed), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine("eq", "en", "nq", "nn").alias("sim"),
        )
    )
    return _topk(pairs, k).select("query_id", "neighbor_id", "rank", "sim")


def panel_truth_memo(spark: SparkSession, sf_dir: str):
    """DISK-PERSISTED exact panel ground truth: the
    O(|Q|·N) brute-force top-k over the 50-vector audit panel is SHARED
    derived state — sim_topk_brute serves it as its result and
    knn_graph_recall re-derived the identical frame per call as its
    recall denominator (3.9s of its wall at sf0.1). One `panel_truth`
    artifact (query_id, neighbor_id, rank, sim — top-PANEL_K so every
    consumer's k filters down) built once per corpus snapshot; the
    recall audit becomes its witness join + filters only. `"raw"`
    layout: ≤ N_QUERIES × PANEL_K rows, every consumer broadcasts or
    aggregates it. Per-k truth-row counts ride the `_META.json` sidecar
    so the recall denominator costs no count() job on reload (the
    graph n_nodes pattern). Returns the _LazyFrames ({"truth": frame},
    .meta) — consumers take .meta and ["truth"].

    Determinism: the sim fold is the shared IEEE left fold
    (dedup.dot_fold ≡ the oracle's list_reduce), ranks total via the
    neighbor-id tie-break, so reload ≡ rebuild value-for-value
    (parity test in tests/test_artifacts.py)."""
    # KNN_K lives in dedup (the consumer); import here is cycle-free
    # (dedup imports nothing from similarity at module level)
    from duckdb_wasm_spark.artifacts import persisted_frames
    from duckdb_wasm_spark.operators.dedup import KNN_K

    panel_k = max(TOP_K, KNN_K)

    def _build() -> dict[str, DataFrame]:
        return {"truth": _panel_brute_topk(spark, sf_dir, panel_k)}

    def _meta(built: dict[str, DataFrame]) -> dict:
        t = built["truth"]
        return {
            f"n_top{k}": t.where(F.col("rank") <= k).count()
            for k in sorted({TOP_K, KNN_K})
        }

    return persisted_frames(
        spark,
        "panel_truth",
        sf_dir,
        ("embeddings",),
        _build,
        layout={"truth": "raw"},
        meta_build=_meta,
    )


@_q("sim_topk_brute")
def sim_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k neighbors by cosine for the query panel (vec_id <
    N_QUERIES), self excluded. Ties break on neighbor id. Served from
    the shared `panel_truth` artifact — the brute pass runs once per
    corpus snapshot, not once per call."""
    return (
        panel_truth_memo(spark, sf_dir)["truth"]
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


ORACLE["sim_topk_brute"] = f"""
with {_sql_normed()},
q as (select vec_id query_id, embedding eq, nrm nq from normed
      where vec_id < {N_QUERIES}),
n as (select vec_id neighbor_id, embedding en, nrm nn from normed),
sims as (
  select query_id, neighbor_id, {sql_dot('eq', 'en')} / (nq * nn) sim
  from q join n on query_id <> neighbor_id),
{_sql_topk()}"""


# ---------------------------------------------------------- sim_topk_ivf
@_q("sim_topk_ivf")
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: assign every vector to its nearest centroid (cosine,
    tie → smaller centroid id), then answer each panel query from its own
    cell only. Returns the per-cell top-k (approximate vs
    sim_topk_brute — that recall gap IS the IVF trade)."""
    normed = _normed(spark, sf_dir)
    assigned = (
        _assign_cells(normed, _seed_centroids(normed))
        .where(F.col("arn") == 1)
        .select("vec_id", "embedding", "nrm", F.col("c_id").alias("cell"))
    )
    q = _queries(assigned.where(F.col("vec_id") < N_QUERIES), "cell")
    pairs = (
        q.join(_neighbors(assigned, "cell"), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "cell",
            "neighbor_id",
            _cosine("eq", "en", "nq", "nn").alias("sim"),
        )
    )
    return _topk(pairs, TOP_K).select(
        "query_id", "cell", "neighbor_id", "rank", "sim"
    )


# ------------------------------------------------- embed_centroid_outliers
OUTLIER_TOP_K = 10  # furthest vectors reported per label


@_q("embed_centroid_outliers")
def embed_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection: per-label centroid, then the
    OUTLIER_TOP_K vectors furthest (euclidean) from their own centroid —
    the standard label-noise / anomaly sweep over a training corpus.

    Determinism (the interesting part): a distributed double mean is
    partition-order-dependent, so the centroid is accumulated in EXACT
    fixed point — each float component is scaled by 2^20 (exponent
    shift, exact in double) and floored to a bigint; integer sums are
    associative, so the mean is bit-identical on any cluster and in the
    DuckDB oracle. The per-vector distance is then the usual
    order-preserving left fold.

    Scale: one posexplode + hash aggregate on (label, pos) — 640 output
    rows regardless of corpus size; centroid arrays broadcast back; the
    distance pass is a narrow map; top-k is one window per label."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = (
        _lloyd_means(emb, keys=("label",))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda x: x["c"],
            ).alias("cent")
        )
    )
    sq = lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)  # noqa: E731
    dists = emb.join(F.broadcast(cent), "label").select(
        "label",
        "vec_id",
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("embedding"), F.col("cent"), sq),
                F.lit(0.0),
                lambda a, v: a + v,
            )
        ).alias("dist"),
    )
    return _topk(
        dists, OUTLIER_TOP_K, by="dist", query="label", neighbor="vec_id"
    ).select("label", "vec_id", "rank", "dist")


ORACLE["embed_centroid_outliers"] = f"""
with comp as (
  select label, pos - 1 pos,
         cast(floor(cast(v as double) * {_FP_SCALE}) as bigint) sv
  from (select label, unnest(embedding) v,
               generate_subscripts(embedding, 1) pos
        from embeddings)),
cmean as (
  select label, pos,
         cast(sum(sv) as double) / cast(count(*) as double)
           / {float(_FP_SCALE)} c
  from comp group by label, pos),
cent as (
  select label, list(c order by pos) cent from cmean group by label),
dists as (
  select e.label, e.vec_id,
         sqrt(list_reduce(list_transform(list_zip(e.embedding, cent.cent),
              p -> (cast(p[1] as double) - p[2])
                   * (cast(p[1] as double) - p[2])),
              (a, v) -> a + v)) dist
  from embeddings e join cent using (label)),
ranked as (
  select *, row_number() over (partition by label
                               order by dist desc, vec_id asc) rank
  from dists)
select label, vec_id, rank, dist from ranked where rank <= {OUTLIER_TOP_K}
"""


ORACLE["sim_topk_ivf"] = f"""
with {_sql_normed()},
{_sql_seeds('cent', N_CENTROIDS)},
assigned as (
  select vec_id, embedding, nrm, cell from (
    select e.vec_id, e.embedding, e.nrm, c.c_id cell,
           {_SQL_ARN}
    from normed e, cent c)
  where arn = 1),
q as (select vec_id query_id, embedding eq, nrm nq, cell from assigned
      where vec_id < {N_QUERIES}),
n as (select vec_id neighbor_id, embedding en, nrm nn, cell from assigned),
sims as (
  select query_id, q.cell, neighbor_id, {sql_dot('eq', 'en')} / (nq * nn) sim
  from q join n using (cell)
  where query_id <> neighbor_id),
{_sql_topk('query_id, cell, neighbor_id')}"""


# ---------------------------------------------------- sim_topk_ivf_probe
N_PROBE = 2  # cells each query probes (neighbors stay in their 1 cell)


def _probe_topk(normed: DataFrame, cent: DataFrame, nprobe: int) -> DataFrame:
    """Multi-probe IVF search: every vector lives in its nearest cell of
    `cent`, each panel query probes its `nprobe` nearest cells, and the
    cosine top-TOP_K is taken within the probed cells."""
    ranked = _assign_cells(normed, cent)
    cell = F.col("c_id").alias("cell")
    n = _neighbors(ranked.where(F.col("arn") == 1), cell)
    q = _queries(
        ranked.where(
            (F.col("arn") <= nprobe) & (F.col("vec_id") < N_QUERIES)
        ),
        cell,
    )
    pairs = (
        q.join(n, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine("eq", "en", "nq", "nn").alias("sim"),
        )
    )
    return _topk(pairs, TOP_K).select("query_id", "neighbor_id", "rank", "sim")


@_q("sim_topk_ivf_probe")
def sim_topk_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN: database vectors live in their single
    nearest cell exactly as sim_topk_ivf, but each panel query searches
    its N_PROBE nearest cells — the standard nprobe recall/cost knob
    (recall approaches brute force as nprobe → C while scan cost stays
    nprobe/C of the corpus). A (query, neighbor) pair cannot duplicate
    across probes: the neighbor occupies exactly one cell.

    Scale: identical shape to sim_topk_ivf — broadcast centroids, one
    row_number window over the C-way assignment fan-out, cell-local
    equi-join; the only delta is the q side carrying nprobe rows per
    query."""
    normed = _normed(spark, sf_dir)
    return _probe_topk(normed, _seed_centroids(normed), N_PROBE)


ORACLE["sim_topk_ivf_probe"] = f"""
with {_sql_normed()},
{_sql_seeds('cent', N_CENTROIDS)},
ranked_cells as (
  select e.vec_id, e.embedding, e.nrm, c.c_id cell,
         {_SQL_ARN}
  from normed e, cent c),
n as (select vec_id neighbor_id, embedding en, nrm nn, cell
      from ranked_cells where arn = 1),
q as (select vec_id query_id, embedding eq, nrm nq, cell
      from ranked_cells where arn <= {N_PROBE} and vec_id < {N_QUERIES}),
sims as (
  select query_id, neighbor_id, {sql_dot('eq', 'en')} / (nq * nn) sim
  from q join n using (cell)
  where query_id <> neighbor_id),
{_sql_topk()}"""


# --------------------------------------------------- ivf_centroid_refine
@_q("ivf_centroid_refine")
def ivf_centroid_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration for the IVF coarse quantizer: assign
    every vector to its nearest seed centroid (identical rule to
    sim_topk_ivf), then recompute each cell's centroid as the exact
    member mean — the k-means training step real IVF deployments run
    offline (here one deterministic, oracle-checkable iteration).
    Output is the refined per-(cell, component) mean plus member count.

    Determinism: the embed_centroid_outliers trick — a distributed
    double mean is partition-order-dependent, so components accumulate
    in 2^20-scaled bigint fixed point (exact, associative); the final
    s/n/2^20 is two correctly-rounded IEEE divisions.

    Scale: broadcast seed centroids → narrow assignment map →
    posexplode → ONE (cell, pos) hash aggregate (map-side combining;
    C×64 output rows regardless of corpus size). Iterating = re-running
    with the 512-row refined frame broadcast back: no shuffle grows
    with iterations."""
    normed = _normed(spark, sf_dir)
    assigned = (
        _assign_cells(normed, _seed_centroids(normed))
        .where(F.col("arn") == 1)
        .select("vec_id", "embedding", F.col("c_id").alias("cell"))
    )
    return _lloyd_means(
        assigned, F.count(F.lit(1)).alias("n_members"), mean="c_refined"
    )


ORACLE["ivf_centroid_refine"] = f"""
with {_sql_normed()},
{_sql_seeds('cent', N_CENTROIDS)},
assigned as (
  select vec_id, embedding, cell from (
    select e.vec_id, e.embedding, c.c_id cell,
           {_SQL_ARN}
    from normed e, cent c)
  where arn = 1),
comp as (
  select cell, pos - 1 pos,
         cast(floor(cast(v as double) * {_FP_SCALE}) as bigint) sv
  from (select cell, unnest(embedding) v,
               generate_subscripts(embedding, 1) pos
        from assigned))
select cell, pos, count(*) n_members,
       cast(sum(sv) as double) / cast(count(*) as double)
         / {float(_FP_SCALE)} c_refined
from comp
group by cell, pos
"""


# -------------------------------------------------- sim_topk_ivf_trained
TRAIN_ITERS = 2  # Lloyd refinement iterations folded into the plan
TRAINED_NPROBE = 3  # cells probed by the trained variant (sweep below)


def _trained_centroids(
    normed: DataFrame,
    iters: int = TRAIN_ITERS,
    seed_where=None,
) -> DataFrame:
    """`iters` exact Lloyd iterations from the deterministic seeds
    (default vec_id < N_CENTROIDS; seed_where overrides — the
    incremental-ingest gate trains on an index subset whose first
    N_CENTROIDS ids differ): assign → exact fixed-point per-cell mean →
    rebuild the centroid array. Identical arithmetic to
    ivf_centroid_refine, so the oracle reproduces every iteration.

    Scale: each iteration is one broadcast-assign map + ONE (cell, pos)
    map-side-combining hash aggregate (C×64 output rows); the refined
    frame re-broadcasts — no shuffle grows with iterations or corpus.
    The C×64-row refined frame is localCheckpoint-ed each iteration:
    without it the next iteration's lazy plan re-embeds (and re-runs)
    every prior pass — measured 2.21s → 1.71s at sf0.1. A narrow
    argmin (array_max over a collected centroid-struct array, zero
    assignment shuffle) measured SLOWER (2.51s): nested higher-order
    functions run interpreted. The remaining ~1.3s over DuckDB's
    in-process CTE chain is stage-scheduling floor (≈15 sequential
    stage rounds for train×2 + assign + search), flat in corpus size."""
    cent = _seed_centroids(normed, seed_where)
    for _ in range(iters):
        # NOTE: a max_by hash-agg argmax (the PQ nearest() trick) was
        # measured here and REGRESSED (ivfpq 5.1s → 6.4s at sf0.1):
        # unlike PQ's 4-float subvectors, the full 64-float embedding
        # rides the aggregation buffer as any_value, which costs more
        # than the window sort saves — the ranking window stays
        assigned = (
            _assign_cells(normed, cent)
            .where(F.col("arn") == 1)
            .select("embedding", F.col("c_id").alias("cell"))
        )
        cent = (
            _lloyd_means(assigned)
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "c"))),
                    lambda x: x["c"],
                ).alias("ec")
            )
            .select(
                F.col("cell").alias("c_id"),
                "ec",
                F.sqrt(dot_fold("ec", "ec")).alias("nc"),
            )
            .localCheckpoint()
        )
    return cent


def _trained_centroids_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISK-PERSISTED trained coarse codebook (artifacts.py): THREE
    consumers (sim_topk_ivf_trained, sim_topk_ivfpq,
    embed_cluster_purity) replay the identical TRAIN_ITERS Lloyd chain
    from the identical deterministic seeds, so the C-row centroid frame
    trains ONCE — ever, not once per session — and every later session
    (bench.py's cold run-1 included) reloads the flat parquet artifact,
    matching the production index lifecycle (train once, serve always).
    Stale-safe: the artifact fingerprint hashes the embeddings table's
    (mtime, size), so regenerated testdata rebuilds."""

    def _build() -> dict[str, DataFrame]:
        return {"cent": _trained_centroids(_normed(spark, sf_dir))}

    from duckdb_wasm_spark.artifacts import persisted_frames

    return persisted_frames(
        spark, "ivf_centroids", sf_dir, ("embeddings",), _build
    )["cent"]


@_q("sim_topk_ivf_trained")
def sim_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN over a TRAINED codebook: TRAIN_ITERS exact
    Lloyd iterations refine the naive first-N seeds into data-shaped
    centroids. Search shape is identical to
    sim_topk_ivf_probe: database vectors live in their single nearest
    trained cell, each panel query probes its TRAINED_NPROBE nearest.

    Measured recall@5 vs sim_topk_brute, sf0.01 (500 vecs, 50 queries):

        codebook        nprobe=2  nprobe=3  nprobe=4
        naive (T=0)       0.520     0.664     0.772   (C=8)
        trained (T=2)     0.568     0.704     0.796   (C=8)
        naive (T=0)       0.524     0.608     0.664   (C=16)
        trained (T=2)     0.532     0.628     0.696   (C=16)

    Training lifts recall in every cell, but nprobe=2 of C=8 cells
    plateaus at ~0.57 regardless of codebook — the synthetic embeddings
    have weak cluster structure, so recall tracks the scan fraction.
    The committed config is therefore C=8/T=2/nprobe=3 (recall 0.704,
    ≥0.6 gate + beats-naive gate pinned by tests/test_operators.py::
    test_ivf_trained_recall); T=3/4 bought ≤0.012 more.

    Determinism: centroid means accumulate in 2^20-scaled bigint fixed
    point (exact, associative — see ivf_centroid_refine); assignment
    ties break on smaller cell id; the oracle replays every iteration
    in its CTE chain, so the codebook is bit-identical in both engines.

    Scale (100 TB): training cost is iters × (broadcast-assign map +
    one C×64-row hash aggregate) — no per-iteration growth; search is
    the standard broadcast-centroids + cell-local equi-join."""
    return _probe_topk(
        _normed(spark, sf_dir),
        _trained_centroids_memo(spark, sf_dir),
        TRAINED_NPROBE,
    )


def _sql_refine_iter(i: int, prev: str, t: str = "") -> str:
    """One Lloyd iteration as oracle CTEs: assign `normed{t}` to `prev`
    centroids, fixed-point per-cell mean, rebuild (c_id, ec, nc) as
    `c{t}{i}`. The tag `t` suffixes every CTE name, so two training
    chains can coexist in one query."""
    return f"""
a{t}{i} as (
  select embedding, cell from (
    select e.embedding, c.c_id cell,
           {_SQL_ARN}
    from normed{t} e, {prev} c)
  where arn = 1),
m{t}{i} as (
  select cell, pos - 1 pos,
         cast(floor(cast(v as double) * {_FP_SCALE}) as bigint) sv
  from (select cell, unnest(embedding) v,
               generate_subscripts(embedding, 1) pos
        from a{t}{i})),
g{t}{i} as (
  select cell, pos,
         cast(sum(sv) as double) / cast(count(*) as double)
           / {float(_FP_SCALE)} c
  from m{t}{i} group by cell, pos),
r{t}{i} as (
  select cell c_id, list(c order by pos) ec from g{t}{i} group by cell),
c{t}{i} as (
  select c_id, ec, sqrt({sql_dot('ec', 'ec')}) nc from r{t}{i})"""


def _sql_lloyd(t: str = "") -> str:
    """TRAIN_ITERS Lloyd iterations from the seeds `c{t}0`."""
    return ",".join(
        _sql_refine_iter(i + 1, f"c{t}{i}", t) for i in range(TRAIN_ITERS)
    )


def _sql_trained(t: str = "", where: str = "", bound: int = N_CENTROIDS) -> str:
    """Oracle twin of _trained_centroids: `normed{t}` → seeds `c{t}0`
    (vec_id < bound) → the codebook `c{t}{TRAIN_ITERS}`."""
    return f"""{_sql_normed(f'normed{t}', where)},
{_sql_seeds(f'c{t}0', bound, f'normed{t}')},
{_sql_lloyd(t)}"""


ORACLE["sim_topk_ivf_trained"] = f"""
with {_sql_trained()},
ranked_cells as (
  select e.vec_id, e.embedding, e.nrm, c.c_id cell,
         {_SQL_ARN}
  from normed e, c{TRAIN_ITERS} c),
n as (select vec_id neighbor_id, embedding en, nrm nn, cell
      from ranked_cells where arn = 1),
q as (select vec_id query_id, embedding eq, nrm nq, cell
      from ranked_cells
      where arn <= {TRAINED_NPROBE} and vec_id < {N_QUERIES}),
sims as (
  select query_id, neighbor_id, {sql_dot('eq', 'en')} / (nq * nn) sim
  from q join n using (cell)
  where query_id <> neighbor_id),
{_sql_topk()}"""


# --------------------------------------------------------- sim_topk_pq
PQ_M = 16  # subspaces (64 dims → 16 × 4-dim subvectors)
PQ_SUBDIM = 64 // PQ_M
PQ_K = 32  # centroids per subspace codebook
PQ_RERANK = 50  # ADC shortlist size the exact rerank refines


def _sq_flat(a, b, n: int):
    """Deterministic double squared-L2 over n-element arrays as an
    EXPANDED codegen expression: 0.0 + t_0 + t_1 + … groups left-to-
    right exactly like the oracle's list_reduce fold, so values are
    bit-identical — but unlike dot_fold's 64-dim case, n=4 terms stay
    far inside the JIT method-size budget and whole-stage codegen
    keeps them compiled (the higher-order aggregate form runs
    interpreted per element: swapping it for this cut sim_topk_pq
    5.08s → 4.13s at sf0.1 across its ~2.6M-row assignment fan-outs).

    Plain-identifier column NAMES take an F.expr fast path (same
    left-assoc `0.0 + t_0 + …` grouping, so values are bit-identical):
    the Column-builder form costs ~25 py4j round trips per call, and
    the PQ chain builds it four times per run (see dot_fold's note)."""
    if (
        isinstance(a, str)
        and isinstance(b, str)
        and a.isidentifier()
        and b.isidentifier()
    ):
        # Backtick quoting makes SQL-keyword names (e.g. `order`)
        # safe in the interpolated string too.
        terms = " + ".join(
            f"((cast(element_at(`{a}`, {j + 1}) as double) - "
            f"cast(element_at(`{b}`, {j + 1}) as double)) * "
            f"(cast(element_at(`{a}`, {j + 1}) as double) - "
            f"cast(element_at(`{b}`, {j + 1}) as double)))"
            for j in range(n)
        )
        return F.expr(f"0.0D + {terms}")
    if isinstance(a, str):
        a = F.col(a)
    if isinstance(b, str):
        b = F.col(b)
    acc = F.lit(0.0)
    for j in range(n):
        d = F.element_at(a, j + 1).cast("double") - F.element_at(
            b, j + 1
        ).cast("double")
        acc = acc + d * d
    return acc


def _sql_sq(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> (cast(p[1] as double) - cast(p[2] as double)) "
        f"* (cast(p[1] as double) - cast(p[2] as double))), "
        f"(acc, v) -> acc + v)"
    )


def _slices_expr(col: str):
    """array(slice(col, 1, d), slice(col, d+1, d), …) — the PQ_M
    subvector split as one expression."""
    return F.expr(
        "array("
        + ", ".join(
            f"slice({col}, {m * PQ_SUBDIM + 1}, {PQ_SUBDIM})"
            for m in range(PQ_M)
        )
        + ")"
    )


def _unit(normed: DataFrame) -> DataFrame:
    """(vec_id, en): the L2-normalized vectors. The norm is a
    materialized attribute FIRST: a lambda referencing the embedding
    column would re-run the 64-term fold per element (the explode-trap
    family — see text_tfidf_topk). F.expr, not a Python lambda: same
    tree, ~27ms less py4j."""
    return normed.select(
        "vec_id",
        F.expr("transform(embedding, _v -> cast(_v as double) / nrm)").alias(
            "en"
        ),
    )


def _pq_nearest(frame: DataFrame, cb: DataFrame, *ride: str) -> DataFrame:
    """Per (vec_id, *ride, m): the codebook row minimizing fixed-point
    squared L2, ties to the smaller centroid id, as (vec_id, *ride, m,
    sub, c_id, d2fp). min_by over the (d2fp, c_id) struct —
    lexicographic struct order makes the argmin total, so it matches
    the oracle's row_number pick — instead of a ranking window: the
    K-way fan-out collapses in the map-side partial aggregate,
    replacing the window's shuffle-and-SORT of all N·M·K scored rows
    with a hash agg. With the sub checkpoint in _pq_encoded:
    sim_topk_pq 3.98s → 2.7s, sim_topk_pq_rerank 3.91s → 3.5s steady
    at sf0.1."""
    keys = ("vec_id", *ride, "m")
    return (
        frame.join(F.broadcast(cb), "m")
        .select(
            *keys,
            "sub",
            "c_id",
            F.floor(_sq_flat("sub", "csub", PQ_SUBDIM) * _FP_SCALE).alias(
                "d2fp"
            ),
        )
        .groupBy(*keys)
        .agg(
            F.min_by(
                F.struct("c_id", "d2fp"), F.struct("d2fp", "c_id")
            ).alias("best"),
            F.any_value("sub").alias("sub"),  # constant per group
        )
        .select(*keys, "sub", "best.c_id", "best.d2fp")
    )


def _pq_codebook(sub: DataFrame, *ride: str) -> DataFrame:
    """The PQ codebooks of the subvector frame `sub` (vec_id, *ride, m,
    sub): the first PQ_K vectors' subvectors seed every subspace, then
    one Lloyd step — _pq_nearest assignment, the _lloyd_means member
    mean per (m, c_id, pos) — rebuilt into (m, c_id, csub) arrays.
    ≤ M×K rows, checkpointed: flat lineage for its consumers."""
    seeds = sub.where(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("c_id"), F.col("sub").alias("csub")
    )
    return (
        _lloyd_means(
            _pq_nearest(sub, seeds, *ride), keys=("m", "c_id"), vec="sub"
        )
        .groupBy("m", "c_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, c))), "
                "_x -> _x.c)"
            ).alias("csub")
        )
        .localCheckpoint()
    )


def _pq_encoded(spark: SparkSession, sf_dir: str):
    """PQ training + encode: train per-subspace codebooks (seeds =
    first PQ_K vectors' subvectors + ONE exact fixed-point Lloyd
    iteration), encode the corpus, and build the per-query ADC lookup
    table. Returns (codes, qd) — split out of _pq_adc so sim_topk_ivfpq
    can run this chain CONCURRENTLY with the independent coarse-
    quantizer chain (the localCheckpoint actions inside are what
    serialize the ~30 stage rounds otherwise)."""
    # checkpoint: 3 consumers (codebook training, corpus encode, query
    # LUT) would each re-run the normalize + 16-slice scan
    sub = _unit(_normed(spark, sf_dir)).select(
        "vec_id", F.posexplode(_slices_expr("en")).alias("m", "sub")
    ).localCheckpoint()
    cb = _pq_codebook(sub)
    codes = _pq_nearest(sub, cb).select("vec_id", "m", "c_id")
    qd = (
        sub.where(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(cb), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            "m",
            "c_id",
            F.floor(
                _sq_flat("sub", "csub", PQ_SUBDIM) * _FP_SCALE
            ).alias("d2fp"),
        )
    )
    return codes, qd


def _pq_encoded_memo(spark: SparkSession, sf_dir: str):
    """DISK-PERSISTED (codes, qd) (artifacts.py): PQ codebook training + corpus encode + query LUT are replayed
    identically by THREE consumers (sim_topk_pq, sim_topk_pq_rerank,
    sim_topk_ivfpq), so both frames are built ONCE — ever — and later
    sessions (bench cold run-1 included) reload flat parquet. codes is
    N×M narrow code rows, qd the N_QUERIES×M×K lookup table, both far
    smaller than the full-precision corpus — exactly what a production
    deployment stores. Stale-safe via the embeddings fingerprint."""

    def _build() -> dict[str, DataFrame]:
        codes, qd = _pq_encoded(spark, sf_dir)
        return {"codes": codes, "qd": qd}

    from duckdb_wasm_spark.artifacts import persisted_frames

    got = persisted_frames(
        spark, "pq_index", sf_dir, ("embeddings",), _build
    )
    return got["codes"], got["qd"]


def _pq_adc(
    spark: SparkSession,
    sf_dir: str,
    top_r: int,
    cand: DataFrame | None = None,
    encoded: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Shared PQ pipeline: _pq_encoded's trained codes + query LUT,
    assembled into the per-query ADC top `top_r` as
    (query_id, neighbor_id, rank, adc_fp).

    cand: optional (query_id, neighbor_id) candidate restriction — the
    IVF-PQ path: the ADC aggregate then runs only over candidate pairs
    (cand ⋈ codes ⋈ broadcast query LUT) instead of the full
    codes × LUT join, so scan cost follows the probed-cell volume.

    encoded: a pre-built (codes, qd) pair — lets the caller train the
    PQ codebooks on another thread while an independent chain runs."""
    codes, qd = (
        encoded if encoded is not None else _pq_encoded_memo(spark, sf_dir)
    )
    if cand is None:
        adc = (
            codes.join(F.broadcast(qd), ["m", "c_id"])
            .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
            .agg(F.sum("d2fp").alias("adc_fp"))
        )
    else:
        adc = (
            cand.join(codes, cand["neighbor_id"] == codes["vec_id"])
            .select("query_id", "neighbor_id", "m", "c_id")
            .join(F.broadcast(qd), ["query_id", "m", "c_id"])
            .groupBy("query_id", "neighbor_id")
            .agg(F.sum("d2fp").alias("adc_fp"))
        )
    return _topk(
        adc.where(F.col("query_id") != F.col("neighbor_id")),
        top_r,
        by="adc_fp",
        asc=True,
    ).select("query_id", "neighbor_id", "rank", "adc_fp")


@_q("sim_topk_pq")
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN — the memory-compression scale path a
    100 TB vector store actually ships: vectors are L2-normalized,
    split into PQ_M 4-dim subvectors, each encoded as one of PQ_K
    codebook ids (64 floats → 16 small codes, ~16× smaller), and the
    panel queries scan via ADC (asymmetric distance computation:
    per-query lookup table of query-subvector↔centroid distances,
    summed over the M codes — the scan never touches a full-precision
    vector).

    Codebooks: per-subspace seeds = the first PQ_K vectors' subvectors,
    then ONE exact Lloyd iteration (2^20 fixed-point means — the
    ivf_centroid_refine arithmetic), so the oracle replays training
    bit-identically. On unit vectors L2 is monotone with cosine
    (||a-b||² = 2−2cos), so PQ ranks against the same metric
    sim_topk_brute pins.

    Determinism: every distance is a left-fold double, then floored to
    2^20 fixed point BEFORE ranking and ADC summation — bigint sums
    are associative, so the ADC total and the (adc, neighbor_id) rank
    order are engine-independent (a raw double sum over M terms would
    be partial-aggregation-order-dependent).

    Scale: codebooks are M×K×4 doubles (broadcast); encoding is a
    broadcast join + per-(vec, m) argmin — the corpus shuffles once by
    (vec_id, m); ADC joins the 50×M×K-row query lookup table
    (broadcast) to the N×M code rows on (m, c_id) and hash-aggregates
    per (query, neighbor): no full-precision vector ever shuffles.

    Measured recall@5 vs sim_topk_brute at sf0.01 (M/K sweep: 8/16
    0.248, 8/64 0.300, 16/16 0.316, 16/32 0.396, 16/64 0.476):
    ADC-only recall on these near-random synthetic embeddings is
    quantization-error-bound at any practical M·K — which is exactly
    why production PQ ships with the exact rerank stage registered as
    sim_topk_pq_rerank (0.928 with R=50)."""
    return _pq_adc(spark, sf_dir, TOP_K)


@_q("sim_topk_pq_rerank")
def sim_topk_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ + exact rerank — the production two-stage shape: the
    compressed-domain ADC scan shortlists PQ_RERANK candidates per
    query, then ONLY those rows fetch their full-precision vectors for
    an exact cosine rerank to TOP_K. Measured recall@5 vs
    sim_topk_brute at sf0.01: 0.928 (R=50, M=16, K=32; R=20 gives
    0.788) vs 0.396 ADC-only — the rerank buys back quantization error
    while the full-precision side stays R rows per query regardless of
    corpus size (at 100 TB the shortlist join is a sparse semi-join on
    vec_id; the broadcast query panel never changes).

    Gated by tests/test_operators.py::test_pq_rerank_recall (≥0.8 and
    strictly better than ADC-only)."""
    shortlist = _pq_adc(spark, sf_dir, PQ_RERANK).select(
        "query_id", "neighbor_id"
    )
    return _exact_rerank(spark, sf_dir, shortlist)


def _exact_rerank(
    spark: SparkSession, sf_dir: str, shortlist: DataFrame
) -> DataFrame:
    """Exact-cosine rerank of a (query_id, neighbor_id) shortlist to
    TOP_K — the shared second stage of the two-stage ANN variants."""
    normed = _normed(spark, sf_dir)
    q = _queries(normed.where(F.col("vec_id") < N_QUERIES))
    pairs = (
        shortlist.join(_neighbors(normed), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _cosine("eq", "en", "nq", "nn").alias("sim"),
        )
    )
    return _topk(pairs, TOP_K).select("query_id", "neighbor_id", "rank", "sim")


# Oracle twin of _pq_nearest's argmin over (subvectors s, codebook c).
_SQL_PQ_RN = f"""row_number() over (
             partition by s.vec_id, s.m
             order by cast(floor({_sql_sq('s.sub', 'c.csub')}
                                 * {_FP_SCALE}) as bigint) asc,
                      c.c_id asc) rn"""


def _sql_pq_codebook(src: str) -> str:
    """Oracle twin of _pq_codebook(src): the seed codebooks from the
    first PQ_K vectors of `src`, one Lloyd step, ending at
    `cb(m, c_id, csub)`."""
    return f"""seeds as (select m, vec_id c_id, sub csub from {src} where vec_id < {PQ_K}),
a0 as (
  select vec_id, m, sub, c_id from (
    select s.vec_id, s.m, s.sub, c.c_id,
           {_SQL_PQ_RN}
    from {src} s join seeds c using (m))
  where rn = 1),
comp as (
  select m, c_id, pos - 1 pos,
         cast(floor(v * {_FP_SCALE}) as bigint) sv
  from (select m, c_id, unnest(sub) v,
               generate_subscripts(sub, 1) pos
        from a0)),
cmean as (
  select m, c_id, pos,
         cast(sum(sv) as double) / cast(count(*) as double)
           / {float(_FP_SCALE)} c
  from comp group by m, c_id, pos),
cb as (
  select m, c_id, list(c order by pos) csub from cmean group by m, c_id)"""


def _pq_adc_sql(restrict_ctes: str | None = None) -> str:
    """The shared PQ CTE chain (normalize → subvectors → seed → 1 Lloyd
    iteration → encode → ADC), ending at `adcranked`. The normalize CTE
    is `pnormed` so callers can inject an IVF chain that names its own
    raw-vector CTE `normed` (what _sql_refine_iter expects).

    restrict_ctes: extra CTE text defining `cand(query_id, neighbor_id)`
    — when given, the `adc` aggregate runs over candidate pairs only
    (the IVF-PQ path), mirroring _pq_adc's cand branch."""
    if restrict_ctes:
        adc = f"""{restrict_ctes},
adc as (
  select cd.query_id, cd.neighbor_id, sum(qd.d2fp) adc_fp
  from cand cd
  join codes on codes.vec_id = cd.neighbor_id
  join qd on qd.query_id = cd.query_id
         and qd.m = codes.m and qd.c_id = codes.c_id
  group by 1, 2)"""
    else:
        adc = """
adc as (
  select query_id, vec_id neighbor_id, sum(d2fp) adc_fp
  from codes join qd using (m, c_id)
  group by 1, 2)"""
    return f"""
with pnormed as (
  select vec_id,
         list_transform(embedding, v -> cast(v as double)
           / sqrt({sql_dot('embedding', 'embedding')})) en
  from embeddings),
sub as (
  select vec_id, m,
         list_slice(en, m * {PQ_SUBDIM} + 1, m * {PQ_SUBDIM} + {PQ_SUBDIM})
           sub
  from pnormed, (select unnest(range(0, {PQ_M})) m)),
{_sql_pq_codebook('sub')},
codes as (
  select vec_id, m, c_id from (
    select s.vec_id, s.m, c.c_id,
           {_SQL_PQ_RN}
    from sub s join cb c using (m))
  where rn = 1),
qd as (
  select s.vec_id query_id, s.m, c.c_id,
         cast(floor({_sql_sq('s.sub', 'c.csub')} * {_FP_SCALE}) as bigint)
           d2fp
  from sub s join cb c using (m)
  where s.vec_id < {N_QUERIES}),{adc},
adcranked as (
  select query_id, neighbor_id, cast(adc_fp as bigint) adc_fp,
         {_sql_rank('adc_fp asc')}
  from adc
  where query_id <> neighbor_id)"""


ORACLE["sim_topk_pq"] = f"""{_pq_adc_sql()}
select query_id, neighbor_id, rank, adc_fp from adcranked
where rank <= {TOP_K}
"""


ORACLE["sim_topk_pq_rerank"] = f"""{_pq_adc_sql()},{_sql_rerank(PQ_RERANK)}"""


# --------------------------------------------------- embed_quantize_int8
@_q("embed_quantize_int8")
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the 4× compression pass an embedding store runs before indexing:
    scale = max|x|/127, q_i = round(x_i/scale), plus the max absolute
    reconstruction error. Quantized values ship as a CSV string (a
    bare int array column would hash differently between engines'
    result normalizers; the string is representation-stable).

    Determinism: float elements cast to double (exact), then only
    IEEE correctly-rounded ops (no transcendental); round-half ties on
    x/scale are measure-zero for data-derived doubles and the max
    element hits exactly ±127 (not a tie). Zero vectors quantize to
    all-zeros with scale 0 and error 0. One narrow zero-shuffle
    projection."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    scale = (
        F.array_max(F.transform(e, lambda v: F.abs(v))) / F.lit(127.0)
    ).alias("scale")
    q = F.when(
        F.col("scale") > 0,
        F.transform(
            F.col("e"),
            lambda v: F.round(v / F.col("scale"), 0).cast("int"),
        ),
    ).otherwise(F.transform(F.col("e"), lambda v: F.lit(0)))
    err = F.when(
        F.col("scale") > 0,
        F.array_max(
            F.transform(
                F.col("e"),
                lambda v: F.abs(
                    v - F.round(v / F.col("scale"), 0) * F.col("scale")
                ),
            )
        ),
    ).otherwise(F.lit(0.0))
    return (
        emb.select("vec_id", e.alias("e"), scale)
        .select(
            "vec_id",
            "scale",
            F.array_join(q, ",").alias("q_csv"),
            err.alias("max_err"),
        )
    )


ORACLE["embed_quantize_int8"] = """
with d as (
  select vec_id,
         list_transform(embedding, v -> cast(v as double)) e,
         list_max(list_transform(embedding,
                                 v -> abs(cast(v as double)))) / 127.0 scale
  from embeddings)
select vec_id, scale,
       case when scale > 0
            then list_aggregate(
                   list_transform(e, v -> cast(cast(round(v / scale, 0)
                                                    as int) as varchar)),
                   'string_agg', ',')
            else list_aggregate(
                   list_transform(e, v -> '0'), 'string_agg', ',')
       end q_csv,
       case when scale > 0
            then list_max(list_transform(
                   e, v -> abs(v - round(v / scale, 0) * scale)))
            else 0.0
       end max_err
from d
"""


# ---------------------------------------------- embed_random_projection
RP_OUT_DIMS = 16  # projected dimensionality (64 → 16)


@_q("embed_random_projection")
def embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection — the standard embedding
    dim-reduction pass (64 → RP_OUT_DIMS) a pipeline runs before
    LSH/clustering when the index must shrink: y_j = Σ_i sign(j,i)·x_i
    with a dense ±1 sign matrix (Achlioptas-style; distances preserved
    in expectation at 1/√k scale, which a consumer applies as a
    constant).

    Determinism: the sign matrix is md5-derived — sign(j,i) = +1 iff
    the 60-bit integer fold of md5('rp:j:i') is even — so both engines
    materialize the IDENTICAL matrix with no RNG; components accumulate
    as 2^20-scaled bigints (sign flips are exact), and the final
    s/2^20 is an exact exponent shift.

    Scale: the sign matrix is k×64 = 1024 broadcast rows built from
    range() (no data scan); the corpus side is one posexplode →
    broadcast equi-join on the input dim → ONE (vec_id, out_dim)
    map-side-combining hash aggregate. Output is N×k narrow rows —
    never a wide shuffle of the original vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "vec_id",
        "pos",
        F.floor(F.col("v").cast("double") * _FP_SCALE).alias("sv"),
    )
    signs = (
        spark.range(RP_OUT_DIMS * 64)
        .select(
            (F.col("id") % 64).cast("int").alias("pos"),
            (F.col("id") / 64).cast("int").alias("out_dim"),
        )
        .select(
            "pos",
            "out_dim",
            F.when(
                tok_hash60(
                    F.concat(
                        F.lit("rp:"),
                        F.col("out_dim").cast("string"),
                        F.lit(":"),
                        F.col("pos").cast("string"),
                    )
                )
                % 2
                == 0,
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .alias("sign"),
        )
    )
    return (
        comp.join(F.broadcast(signs), "pos")
        .groupBy("vec_id", "out_dim")
        .agg(
            (
                F.sum(F.col("sv") * F.col("sign")).cast("double")
                / F.lit(float(_FP_SCALE))
            ).alias("comp")
        )
    )


# sign(j, i)'s hash key, 'rp:j:i', over the flat index i = 64 j + i
_SQL_RP_KEY = "'rp:' || cast(i // 64 as varchar) || ':' || cast(i % 64 as varchar)"

ORACLE["embed_random_projection"] = f"""
with comp as (
  select vec_id, pos - 1 pos,
         cast(floor(cast(v as double) * {_FP_SCALE}) as bigint) sv
  from (select vec_id, unnest(embedding) v,
               generate_subscripts(embedding, 1) pos
        from embeddings)),
signs as (
  select cast(i % 64 as int) pos, cast(i // 64 as int) out_dim,
         case when {sql_tok_hash60(_SQL_RP_KEY)} % 2 = 0
              then 1 else -1 end sign
  from (select unnest(range(0, {RP_OUT_DIMS * 64})) i))
select vec_id, out_dim,
       cast(sum(sv * sign) as double) / {float(_FP_SCALE)} comp
from comp join signs using (pos)
group by vec_id, out_dim
"""


# ------------------------------------------------------- sim_topk_ivfpq
IVFPQ_NPROBE = 3  # coarse cells probed per query (sim_topk_ivf_trained's)
IVFPQ_RERANK = 50  # ADC shortlist the exact rerank refines


@_q("sim_topk_ivfpq")
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the FAISS-standard composite a 100 TB vector store
    ships: a TRAINED coarse quantizer (T=2 exact Lloyd iterations,
    sim_topk_ivf_trained's codebook) restricts each query to its
    IVFPQ_NPROBE nearest cells, the PQ compressed-domain ADC scan
    (sim_topk_pq's 16×32 codebooks) shortlists IVFPQ_RERANK candidates
    WITHIN those cells only, and an exact-cosine rerank refines to
    TOP_K.

    Encoding is direct (PQ on the normalized vector, not the
    per-cell residual): residual encoding is the production upgrade
    but needs per-cell rotation bookkeeping the oracle would have to
    replay; the direct form keeps one shared codebook and the same
    recall ceiling as the probed-cell exact scan once the rerank runs.

    Measured recall@5 vs sim_topk_brute at sf0.01 (500 vecs, 50
    queries): 0.692 — essentially the sim_topk_ivf_trained ceiling at
    nprobe=3 (0.704; the exact rerank buys back the PQ quantization
    error, and the 0.012 gap is shortlist truncation at R=50), pinned
    by tests/test_operators.py::test_ivfpq_recall.

    Scale (100 TB): the wins compose — the ADC aggregate touches
    nprobe/C of the code rows (cell equi-join, never a full scan), no
    full-precision vector shuffles until the R-row-per-query rerank,
    and both codebooks are tiny broadcasts. Determinism: both training
    loops are 2^20 fixed-point exact; ADC sums are bigint; the oracle
    replays coarse + product codebooks bit-identically.

    Cost note (sf0.1, local[32]): the two training chains (coarse
    Lloyd ×2, PQ Lloyd ×1) are INDEPENDENT, so their ~30 fixed
    scheduling rounds — each a localCheckpoint-serialized stage round,
    flat in corpus size — run as CONCURRENT driver jobs (the standard
    Spark multi-job submission pattern: local mode and clusters both
    FIFO-share executors across threads). Measured at sf0.1: 5.7s
    sequential → 3.7s overlapped (best-of-2, isolated); the
    corpus-proportional work
    (encode, ADC, rerank) is unchanged and the same shape DuckDB runs.
    Composite of sim_topk_ivf_trained and sim_topk_pq_rerank minus
    their shared scan; determinism is unaffected (the chains share no
    state — each thread only builds and checkpoints its own frames)."""
    from concurrent.futures import ThreadPoolExecutor

    def coarse_cand() -> DataFrame:
        cent = _trained_centroids_memo(spark, sf_dir)
        # narrow (vec_id, c_id, arn) checkpoint: the q and n branches
        # would otherwise each re-run the broadcast-assign join +
        # ranking window
        ranked = (
            _assign_cells(_normed(spark, sf_dir), cent)
            .where(F.col("arn") <= IVFPQ_NPROBE)
            .select("vec_id", "c_id", "arn")
            .localCheckpoint()
        )
        n = ranked.where(F.col("arn") == 1).select(
            F.col("vec_id").alias("neighbor_id"), "c_id"
        )
        q = ranked.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), "c_id"
        )
        return q.join(n, "c_id").select("query_id", "neighbor_id")

    # pre-warm the load_table memo before the two driver threads race
    # it: its check-then-insert is unsynchronized (benign today — both
    # writes are equivalent — but not worth leaving latent)
    load_table(spark, sf_dir, "embeddings")
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_cand = pool.submit(coarse_cand)
        f_enc = pool.submit(_pq_encoded_memo, spark, sf_dir)
        cand, encoded = f_cand.result(), f_enc.result()
    shortlist = _pq_adc(
        spark, sf_dir, IVFPQ_RERANK, cand=cand, encoded=encoded
    ).select("query_id", "neighbor_id")
    return _exact_rerank(spark, sf_dir, shortlist)


def _ivf_cand_sql() -> str:
    """Trained-coarse-quantizer candidate CTE chain ending at
    `cand(query_id, neighbor_id)` — the oracle mirror of the
    _trained_centroids + _assign_cells probe join. Reuses
    _sql_refine_iter, which expects the raw-vector CTE to be named
    `normed` (the PQ chain's normalize CTE is `pnormed` for this)."""
    return f"""
{_sql_trained()},
ranked_cells as (
  select e.vec_id, c.c_id cell,
         {_SQL_ARN}
  from normed e, c{TRAIN_ITERS} c),
ncell as (select vec_id neighbor_id, cell from ranked_cells where arn = 1),
qcell as (select vec_id query_id, cell from ranked_cells
          where arn <= {IVFPQ_NPROBE} and vec_id < {N_QUERIES}),
cand as (
  select query_id, neighbor_id from qcell join ncell using (cell))"""


ORACLE["sim_topk_ivfpq"] = f"""{_pq_adc_sql(restrict_ctes=_ivf_cand_sql())},{_sql_rerank(IVFPQ_RERANK)}"""


# ---------------------------------------------- sim_topk_ivfpq_residual
def _residual_index_memo(spark: SparkSession, sf_dir: str):
    """(ranked, cu, cb, codes) — the residual IVF-PQ index artifacts
    (cell assignments, unit coarse centroids, residual PQ codebooks,
    corpus codes), DISK-PERSISTED via artifacts.py: in production these are trained/encoded ONCE and served
    across every query — now literally true across sessions; only the
    per-query LUT + ADC scan is per-call. All four frames are narrow
    (corpus codes are N×M small ints — the compressed index IS small,
    that is the point of PQ). The one-time build cost is paid exactly
    once; later cold sessions reload flat parquet."""
    from duckdb_wasm_spark.artifacts import persisted_frames

    got = persisted_frames(
        spark,
        "residual_ivfpq",
        sf_dir,
        ("embeddings",),
        lambda: _residual_index_build(spark, sf_dir),
    )
    return got["ranked"], got["cu"], got["cb"], got["codes"]


def _residual_index_build(spark: SparkSession, sf_dir: str) -> dict:
    cent = _trained_centroids_memo(spark, sf_dir)
    cu = cent.select(
        F.col("c_id").alias("cell"),
        F.expr("transform(ec, _v -> cast(_v as double) / nc)").alias("ecu"),
    ).localCheckpoint()
    normed = _normed(spark, sf_dir)
    # one assignment pass feeds db cells, query probe cells, and the
    # candidate join — narrow (vec_id, cell, arn), checkpointed
    ranked = (
        _assign_cells(normed, cent)
        .where(F.col("arn") <= IVFPQ_NPROBE)
        .select("vec_id", F.col("c_id").alias("cell"), "arn")
        .localCheckpoint()
    )
    en = _unit(normed)
    resid = F.zip_with("en", "ecu", lambda x, c: x - c).alias("rv")
    db = (
        ranked.where(F.col("arn") == 1)
        .select("vec_id", "cell")
        .join(en, "vec_id")
        .join(F.broadcast(cu), "cell")
        .select("vec_id", "cell", resid)
    )
    # (vec_id, cell, m, sub): 3 consumers (seeds, train assign, encode)
    dsub = db.select(
        "vec_id", "cell", F.posexplode(_slices_expr("rv")).alias("m", "sub")
    ).localCheckpoint()
    # `cell` rides the argmin group
    cb = _pq_codebook(dsub, "cell")
    codes = _pq_nearest(dsub, cb, "cell").select(
        F.col("vec_id").alias("neighbor_id"), "cell", "m", "c_id"
    ).localCheckpoint()
    return {"ranked": ranked, "cu": cu, "cb": cb, "codes": codes}


@_q("sim_topk_ivfpq_residual")
def sim_topk_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the production upgrade
    sim_topk_ivfpq's docstring defers (FAISS IndexIVFPQ default,
    by_residual=true): PQ codebooks train on r = x_unit − c_unit(cell)
    instead of the raw unit vector, so the quantizer spends its
    codebook budget on the WITHIN-cell distribution (residual norms
    are strictly smaller than vector norms once the coarse quantizer
    captures any structure). The cost that made the direct form the
    default is the per-cell LUT bookkeeping: a query's residual
    differs per probed cell, so the ADC lookup table is keyed
    (query, cell, m, c_id) — N_QUERIES × IVFPQ_NPROBE × PQ_M × PQ_K
    rows, still a broadcast — and ADC sums only combine codes whose
    cell matches the probed cell (the cand join carries `cell`
    through, exactly how FAISS scans per-list).

    Measured recall@5 vs sim_topk_brute at sf0.01 (500 vecs, 50
    queries): 0.680 vs the direct form's 0.692 — a WASH, and honestly
    so: both sit at the nprobe=3 probed-cell ceiling (0.704, the
    exact-scan recall of sim_topk_ivf_trained), so the only difference
    is which candidates the R=50 ADC shortlist catches. Residual
    encoding wins when the coarse quantizer captures real cluster
    structure (then residual norms ≪ vector norms and the codebook
    resolution concentrates where vectors actually live); the
    synthetic near-isotropic embeddings (top-eigenvalue gap ratio
    0.987, see embed_pca_power) give it nothing to capture. Gated by
    tests/test_operators.py::test_ivfpq_residual_recall at ≥ 0.6
    absolute and within 0.05 of the direct variant.

    Determinism: coarse chain is sim_topk_ivf_trained's (memoized,
    fixed-point exact); residuals are IEEE doubles computed
    identically in both engines (x/nrm − ec/nc, both divisions on
    engine-identical operands); every PQ distance floors to 2^20
    fixed point BEFORE ranking/summation; ADC totals are bigint sums.

    Scale (100 TB): identical shape to sim_topk_ivfpq — training
    touches C×64 + M×K×d broadcast-sized state, the corpus shuffles
    once per encode, ADC scans only probed cells, full-precision
    vectors appear only in the R-row-per-query rerank. The extra cost
    of residual encoding is ONE more broadcast join (unit centroids
    onto the assignment) — nothing corpus-quadratic.

    Reference parity: extension beyond the reference's surface (its
    engine ships no vector index); included because a 100 TB
    embedding store needs the residual form's recall at the same
    memory budget."""
    ranked, cu, cb, codes = _residual_index_memo(spark, sf_dir)
    en = _unit(_normed(spark, sf_dir))
    resid = F.zip_with("en", "ecu", lambda x, c: x - c).alias("rv")
    # per-(query, probed cell) residual → the (query, cell, m, c_id) LUT
    q = (
        ranked.where(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "cell")
        .join(
            en.select(F.col("vec_id").alias("query_id"), "en"), "query_id"
        )
        .join(F.broadcast(cu), "cell")
        .select("query_id", "cell", resid)
    )
    qsub = q.select(
        "query_id", "cell", F.posexplode(_slices_expr("rv")).alias("m", "sub")
    )
    qd = qsub.join(F.broadcast(cb), "m").select(
        "query_id",
        "cell",
        "m",
        "c_id",
        F.floor(_sq_flat("sub", "csub", PQ_SUBDIM) * _FP_SCALE).alias("d2fp"),
    )
    ncell = ranked.where(F.col("arn") == 1).select(
        F.col("vec_id").alias("neighbor_id"), "cell"
    )
    qcell = ranked.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "cell"
    )
    cand = qcell.join(ncell, "cell").select("query_id", "neighbor_id", "cell")
    adc = (
        cand.join(codes, ["neighbor_id", "cell"])
        .join(F.broadcast(qd), ["query_id", "cell", "m", "c_id"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2fp").alias("adc_fp"))
    )
    shortlist = _topk(
        adc.where(F.col("query_id") != F.col("neighbor_id")),
        IVFPQ_RERANK,
        by="adc_fp",
        asc=True,
    ).select("query_id", "neighbor_id")
    return _exact_rerank(spark, sf_dir, shortlist)


ORACLE["sim_topk_ivfpq_residual"] = f"""
with {_sql_trained()},
cu as (
  select c_id cell, list_transform(ec, v -> cast(v as double) / nc) ecu
  from c{TRAIN_ITERS}),
pn as (
  select vec_id,
         list_transform(embedding, v -> cast(v as double) / nrm) en
  from normed),
ranked_cells as (
  select e.vec_id, c.c_id cell,
         {_SQL_ARN}
  from normed e, c{TRAIN_ITERS} c),
dbc as (select vec_id, cell from ranked_cells where arn = 1),
qc as (select vec_id query_id, cell from ranked_cells
       where arn <= {IVFPQ_NPROBE} and vec_id < {N_QUERIES}),
dres as (
  select d.vec_id, d.cell,
         list_transform(list_zip(p.en, u.ecu),
           pp -> cast(pp[1] as double) - cast(pp[2] as double)) rv
  from dbc d join pn p using (vec_id) join cu u using (cell)),
dsub as (
  select vec_id, cell, m,
         list_slice(rv, m * {PQ_SUBDIM} + 1, m * {PQ_SUBDIM} + {PQ_SUBDIM})
           sub
  from dres, (select unnest(range(0, {PQ_M})) m)),
{_sql_pq_codebook('dsub')},
codes as (
  select vec_id neighbor_id, cell, m, c_id from (
    select s.vec_id, s.cell, s.m, c.c_id,
           {_SQL_PQ_RN}
    from dsub s join cb c using (m))
  where rn = 1),
qres as (
  select q.query_id, q.cell,
         list_transform(list_zip(p.en, u.ecu),
           pp -> cast(pp[1] as double) - cast(pp[2] as double)) rv
  from qc q join pn p on p.vec_id = q.query_id join cu u using (cell)),
qsub as (
  select query_id, cell, m,
         list_slice(rv, m * {PQ_SUBDIM} + 1, m * {PQ_SUBDIM} + {PQ_SUBDIM})
           sub
  from qres, (select unnest(range(0, {PQ_M})) m)),
qd as (
  select s.query_id, s.cell, s.m, c.c_id,
         cast(floor({_sql_sq('s.sub', 'c.csub')} * {_FP_SCALE}) as bigint)
           d2fp
  from qsub s join cb c using (m)),
cand as (
  select query_id, neighbor_id, cell
  from qc join (select vec_id neighbor_id, cell from dbc) using (cell)),
adc as (
  select cd.query_id, cd.neighbor_id, sum(qd.d2fp) adc_fp
  from cand cd
  join codes on codes.neighbor_id = cd.neighbor_id
            and codes.cell = cd.cell
  join qd on qd.query_id = cd.query_id and qd.cell = cd.cell
         and qd.m = codes.m and qd.c_id = codes.c_id
  group by 1, 2),
adcranked as (
  select query_id, neighbor_id,
         {_sql_rank('adc_fp asc')}
  from adc
  where query_id <> neighbor_id),{_sql_rerank(IVFPQ_RERANK, 'normed')}"""


# -------------------------------------------------- ivf_incremental_ingest
INGEST_MOD = 5  # batch = vec_id % INGEST_MOD == 0 (a 20% incoming slice)
INGEST_SEED_BOUND = 10  # first 10 ids minus the 2 batch ids = 8 seeds


@_q("ivf_incremental_ingest")
def ivf_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index INGEST without retrain — the production lifecycle
    dedup_incremental_ingest gates for MinHash, applied to the vector
    index: the codebook was trained on the RESIDENT 80% corpus; a 20%
    incoming batch is assigned to the EXISTING trained cells (one
    broadcast-assign map over the batch — never a retrain, exactly how
    FAISS add() works after train()), and the audit reports per cell
    the resident/batch member counts and the mean assignment cosine of
    each side. The drift column (batch mean − resident mean) is the
    staleness signal a production index monitors: a persistently
    negative drift means incoming vectors sit farther from their
    nearest centroid than the data the codebook was trained on — the
    re-train trigger.

    Training seeds: the first N_CENTROIDS RESIDENT ids (vec_id <
    INGEST_SEED_BOUND excluding batch ids — a closed form both engines
    state literally). Determinism: Lloyd iterations are the exact
    fixed-point chain (_trained_centroids); per-cell mean cosines
    floor each assignment cosine to 2^20 fixed point before the bigint
    sum (associative), then divide by the exact count.

    Scale (100 TB): the batch assignment is a broadcast join over the
    BATCH only — resident vectors are never rescanned at ingest time
    (their assignment here is the audit's baseline, in production a
    stored attribute); per-cell means are one map-side-combining hash
    aggregate. Nothing is corpus-quadratic."""
    normed = _normed(spark, sf_dir)
    is_batch = F.col("vec_id") % INGEST_MOD == 0
    resident = normed.where(~is_batch)
    # the resident codebook is the PERSISTENT index artifact in
    # production — trained once, served across every ingest — so it
    # memoizes per session like the full-corpus codebook; the bench's
    # cold column pays the one-time build
    from duckdb_wasm_spark.artifacts import persisted_frames

    cent = persisted_frames(
        spark,
        "ingest_centroids",
        sf_dir,
        ("embeddings",),
        lambda: {
            "cent": _trained_centroids(
                resident,
                seed_where=F.col("vec_id") < INGEST_SEED_BOUND,
            )
        },
    )["cent"]
    assigned = (
        _assign_cells(normed, cent)
        .where(F.col("arn") == 1)
        .select(
            "vec_id",
            F.col("c_id").alias("cell"),
            F.floor(F.col("c_sim") * _FP_SCALE).alias("simfp"),
            is_batch.alias("is_batch"),
        )
    )
    agg = assigned.groupBy("cell").agg(
        F.sum(F.when(~F.col("is_batch"), 1).otherwise(0)).alias(
            "n_resident"
        ),
        F.sum(F.when(F.col("is_batch"), 1).otherwise(0)).alias("n_batch"),
        F.sum(F.when(~F.col("is_batch"), F.col("simfp"))).alias("sfp_res"),
        F.sum(F.when(F.col("is_batch"), F.col("simfp"))).alias("sfp_bat"),
    )
    avg_res = (
        F.col("sfp_res").cast("double")
        / F.col("n_resident").cast("double")
        / F.lit(float(_FP_SCALE))
    )
    avg_bat = (
        F.col("sfp_bat").cast("double")
        / F.col("n_batch").cast("double")
        / F.lit(float(_FP_SCALE))
    )
    return agg.select(
        "cell",
        F.col("n_resident").cast("long").alias("n_resident"),
        F.col("n_batch").cast("long").alias("n_batch"),
        F.round(avg_res, 12).alias("avg_sim_resident"),
        F.round(avg_bat, 12).alias("avg_sim_batch"),
        F.round(avg_bat - avg_res, 12).alias("drift"),
    ).orderBy("cell")


ORACLE["ivf_incremental_ingest"] = f"""
with {_sql_normed('alln')},
normed as (
  select * from alln where vec_id % {INGEST_MOD} <> 0),
{_sql_seeds('c0', INGEST_SEED_BOUND)},
{_sql_lloyd()},
assigned as (
  select vec_id, cell, simfp, is_batch from (
    select e.vec_id, c.c_id cell,
           cast(floor({_SQL_CSIM}
                      * {_FP_SCALE}) as bigint) simfp,
           e.vec_id % {INGEST_MOD} = 0 is_batch,
           {_SQL_ARN}
    from alln e, c{TRAIN_ITERS} c)
  where arn = 1),
agg as (
  select cell,
         cast(sum(case when not is_batch then 1 else 0 end) as bigint)
           n_resident,
         cast(sum(case when is_batch then 1 else 0 end) as bigint) n_batch,
         sum(case when not is_batch then simfp end) sfp_res,
         sum(case when is_batch then simfp end) sfp_bat
  from assigned group by cell)
select cell, n_resident, n_batch,
       round(cast(sfp_res as double) / cast(n_resident as double)
             / {float(_FP_SCALE)}, 12) avg_sim_resident,
       round(cast(sfp_bat as double) / cast(n_batch as double)
             / {float(_FP_SCALE)}, 12) avg_sim_batch,
       round(cast(sfp_bat as double) / cast(n_batch as double)
               / {float(_FP_SCALE)}
             - cast(sfp_res as double) / cast(n_resident as double)
               / {float(_FP_SCALE)}, 12) drift
from agg
order by cell
"""


# ------------------------------------------------------- embed_pca_power
PCA_ITERS = 3  # fixed power-iteration count (deterministic spec)


@_q("embed_pca_power")
def embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA top component by MATRIX-FREE power iteration —
    the spectral direction an embedding pipeline uses for whitening,
    ABTT ("all-but-the-top") post-processing, or drift monitoring.
    Never materializes the 64×64 covariance: each iteration computes
    y = Σ_rows (x−μ)·((x−μ)·v) as one broadcast of the 64-float v,
    one riding dot product per row, and ONE (pos) map-side-combining
    hash aggregate — the classic Krylov/matrix-free formulation, so
    corpus cost is T linear passes however wide the cluster.

    Determinism: μ is a 2^20 fixed-point exact mean (centroid-refine
    arithmetic); each y term floors x_p·(x·v) to 2^20 fixed point
    before the bigint sum (associative); normalization divides by the
    same left-fold norm in both engines. v₀ = (1/8,…,1/8) (unit); T
    fixed at PCA_ITERS, so the whole trajectory — not just the limit —
    is the spec, and the oracle replays it bit-identically.

    Scale (100 TB): per iteration the corpus contributes one narrow
    (pos, term) aggregate (64 output rows); the only state between
    iterations is a 64-float vector (localCheckpoint, like
    _trained_centroids — without it iteration t re-runs every prior
    pass). Convergence rate follows the spectral gap; production runs
    T until the Rayleigh quotient stabilizes — the fixed-T form keeps
    the oracle exact.

    Measured at sf0.01: the synthetic embeddings are near-isotropic
    (top eigenvalues 13.76/13.58/13.31 — gap ratio 0.987), so the
    direction converges at 0.987^T and T=3 reaches Rayleigh quotient
    0.795 of λ₁ (T=8: 0.95, but +5 corpus passes); the pytest gates
    the Rayleigh capture, the right metric under a near-degenerate
    spectrum (direction cosine is ill-conditioned there), at ≥ 0.75."""
    _, v = _pca_centered_top(spark, sf_dir)
    return v.select(F.posexplode("v").alias("pos", "loading"))


def _pca_artifact(spark: SparkSession, sf_dir: str):
    """DISK-PERSISTED PCA trained state: μ (the 2^20
    fixed-point exact per-position mean, 1×64 doubles) and v (the
    PCA_ITERS-iteration power-iteration top component, 1×64 doubles)
    — trained state, so it follows the index-lifecycle discipline
    (train once, persist, serve) instead of living per session. Its THREE consumers (embed_pca_power,
    embed_abtt, embed_covariance via _centered_frame) each re-ran the
    centering aggregate AND all T power iterations per call (5.5s
    across the three rows at sf0.1); a production pipeline trains the
    whitening/ABTT statistics once on ingest and serves 128 doubles
    forever — exactly the _trained_centroids_memo lifecycle. Both
    frames reload "raw" (1-row parquet scans, no respread job).
    Reload ≡ rebuild parity is pinned in tests/test_artifacts.py."""
    from duckdb_wasm_spark.artifacts import persisted_frames

    def _build() -> dict[str, DataFrame]:
        emb = load_table(spark, sf_dir, "embeddings")
        comp = emb.select(
            F.posexplode("embedding").alias("pos", "v")
        ).select(
            "pos",
            F.floor(F.col("v").cast("double") * _FP_SCALE).alias("sv"),
        )
        mu = (
            comp.groupBy("pos")
            .agg(
                (
                    F.sum("sv").cast("double")
                    / F.count(F.lit(1)).cast("double")
                    / F.lit(float(_FP_SCALE))
                ).alias("mu")
            )
            .groupBy()
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mu"))),
                    lambda x: x["mu"],
                ).alias("mu")
            )
            # consumed by every iteration below AND written — without
            # the checkpoint each reference re-runs the centering agg
            .localCheckpoint()
        )
        centered = emb.crossJoin(F.broadcast(mu)).select(
            "vec_id",
            F.zip_with(
                "embedding", "mu", lambda x, m: x.cast("double") - m
            ).alias("x"),
        )
        v = spark.range(1).select(
            F.array(*[F.lit(0.125)] * 64).alias("v")
        ).localCheckpoint()
        for _ in range(PCA_ITERS):
            s = centered.crossJoin(F.broadcast(v)).select(
                "x", dot_fold("x", "v").alias("s")
            )
            y = (
                s.select(F.posexplode("x").alias("pos", "xp"), "s")
                .select(
                    "pos",
                    F.floor(
                        F.col("xp") * F.col("s") * _FP_SCALE
                    ).alias("t"),
                )
                .groupBy("pos")
                .agg(
                    (
                        F.sum("t").cast("double")
                        / F.lit(float(_FP_SCALE))
                    ).alias("y")
                )
            )
            arr = y.groupBy().agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "y"))),
                    lambda e: e["y"],
                ).alias("y")
            )
            v = arr.select(
                F.transform(
                    "y",
                    lambda e: e / F.sqrt(dot_fold("y", "y")),
                ).alias("v")
            ).localCheckpoint()
        return {"mu": mu, "v": v, "cov": _covariance_frame(centered)}

    return persisted_frames(
        spark,
        "pca_top",
        sf_dir,
        ("embeddings",),
        _build,
        layout={"mu": "raw", "v": "raw", "cov": "raw"},
    )


def _centered_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, x) with x = embedding − μ in doubles, μ the 2^20
    fixed-point exact per-position mean SERVED FROM the persisted PCA
    artifact (128 doubles on disk) — the shared centering step of
    embed_pca_power / embed_abtt / embed_covariance is a pure
    broadcast map at query time; parquet round-trips doubles exactly,
    so the centered frame is bit-identical to a fresh derivation."""
    mu = _pca_artifact(spark, sf_dir)["mu"]
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.crossJoin(F.broadcast(mu)).select(
        "vec_id",
        F.zip_with(
            "embedding", "mu", lambda x, m: x.cast("double") - m
        ).alias("x"),
    )


def _pca_centered_top(spark: SparkSession, sf_dir: str):
    """(centered, v) — the fixed-point-centered frame and the T-iter
    power-iteration top-component vector (1-row array frame), both
    served from the persisted PCA artifact; shared by embed_pca_power
    and embed_abtt."""
    return _centered_frame(spark, sf_dir), _pca_artifact(spark, sf_dir)["v"]


def _sql_pca_iter(t: int) -> str:
    """One oracle power-iteration step: dot with v{t}, fixed-point
    (pos) sums, normalize to v{t+1}."""
    return f"""
s{t} as (
  select x, {sql_dot('x', f'(select v from v{t})')} s from centered),
y{t} as (
  select pos - 1 pos,
         sum(cast(floor(xp * s * {_FP_SCALE}) as bigint)) st
  from (select s, unnest(x) xp, generate_subscripts(x, 1) pos from s{t})
  group by 1),
a{t} as (
  select list(cast(st as double) / {float(_FP_SCALE)} order by pos) y
  from y{t}),
v{t + 1} as (
  select list_transform(y, e -> e / sqrt({sql_dot('y', 'y')})) v
  from a{t})"""


def _sql_centered_prefix() -> str:
    """Oracle CTE chain through `centered` (fixed-point-exact mean
    subtraction) — shared by the PCA chain and embed_covariance."""
    return f"""
with comp as (
  select pos - 1 pos,
         cast(floor(cast(v as double) * {_FP_SCALE}) as bigint) sv
  from (select unnest(embedding) v,
               generate_subscripts(embedding, 1) pos
        from embeddings)),
mean as (
  select pos, cast(sum(sv) as double) / cast(count(*) as double)
              / {float(_FP_SCALE)} mu
  from comp group by pos),
muarr as (select list(mu order by pos) mu from mean),
centered as (
  select vec_id,
         list_transform(list_zip(embedding, (select mu from muarr)),
                        p -> cast(p[1] as double) - p[2]) x
  from embeddings)"""


def _sql_pca_prefix() -> str:
    """Oracle CTE chain through `centered` and v{PCA_ITERS} — shared
    by embed_pca_power and embed_abtt."""
    return f"""{_sql_centered_prefix()},
v0 as (select list_transform(range(0, 64), i -> 0.125) v),
{','.join(_sql_pca_iter(t) for t in range(PCA_ITERS))}"""


ORACLE["embed_pca_power"] = f"""{_sql_pca_prefix()}
select pos - 1 pos, loading
from (select unnest(v) loading, generate_subscripts(v, 1) pos
      from v{PCA_ITERS})
"""


# ----------------------------------------------------------- embed_abtt
@_q("embed_abtt")
def embed_abtt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top embedding post-processing (Mu & Viswanath 2018):
    center, then remove the dominant principal direction — the cheap
    isotropy fix that measurably improves cosine-similarity quality on
    anisotropic embedding spaces. Consumes the matrix-free
    embed_pca_power component: x' = x_c − (x_c·v)·v.

    Output per vector: the removed projection and the norm before /
    after (the energy accounting a pipeline logs to decide how many
    components to strip). norm_after uses the exact-algebra identity
    √(‖x‖² − p²) (v is unit) with the IDENTICAL formula text in the
    oracle — materializing the corrected array instead would put the
    riding proj expression inside a zip_with lambda, where Catalyst
    inlines it back per element (the trigrams() re-evaluation trap,
    ~64× the dot-product work; DuckDB's list_transform has the same
    hazard).

    Scale (100 TB): the PCA training cost (T linear passes) amortizes
    over the whole corpus; the correction itself is a pure map with v
    broadcast — zero shuffle, output is narrow scalars."""
    centered, v = _pca_centered_top(spark, sf_dir)
    nb = F.sqrt(dot_fold("x", "x"))
    proj = dot_fold("x", "v")
    return (
        centered.crossJoin(F.broadcast(v))
        .select("vec_id", nb.alias("norm_before"), proj.alias("proj"))
        .select(
            "vec_id",
            "norm_before",
            "proj",
            # greatest(…, 0): rounding in the separately-folded proj /
            # norm can push proj² an ulp past norm² for a vector nearly
            # parallel to v — unclamped, Spark emits NaN while DuckDB's
            # sqrt hard-errors on the negative; both engines clamp with
            # the same text
            F.sqrt(
                F.greatest(
                    F.col("norm_before") * F.col("norm_before")
                    - F.col("proj") * F.col("proj"),
                    F.lit(0.0),
                )
            ).alias("norm_after"),
        )
    )


ORACLE["embed_abtt"] = f"""{_sql_pca_prefix()},
corrected as (
  select vec_id,
         sqrt({sql_dot('x', 'x')}) norm_before,
         {sql_dot('x', f'(select v from v{PCA_ITERS})')} proj
  from centered)
select vec_id, norm_before, proj,
       sqrt(greatest(norm_before * norm_before - proj * proj, 0.0))
         norm_after
from corrected
"""


# ----------------------------------------------------- embed_covariance
@_q("embed_covariance")
def embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact population covariance of the centered embeddings — the
    upper triangle (i ≤ j) of the D×D matrix that whitening, full PCA,
    and Mahalanobis-distance quality checks consume. Complements
    embed_pca_power, which is deliberately matrix-free: at D=64 the
    matrix is 2080 cells, so MATERIALIZING it is the right call — one
    corpus pass however wide the cluster — while the matrix-free form
    stays the tool once D² outgrows a broadcast.

    Shape: Arrow-batched partial covariance per partition
    (`mapInPandas`): each batch computes its D×D outer-product sum as
    one vectorized numpy pass (chunked so the (rows, D, D) temporary
    stays ~67 MB) and emits the 2080 upper-triangle cells ONCE per
    partition; one tiny hash aggregate (2080 × partitions rows) merges
    the partials. The first form — a codegen explode of 2080
    named_structs per row — allocated N·2080 structs through the
    aggregate and measured 2.4s at sf0.1; the partial-sum form is
    1.0s on identical output (the residual is the shared centering
    chain + local stage floor). At 100 TB the shuffle stays 2080 rows
    per partition regardless of corpus size; the per-row work is a
    BLAS-shaped batch product an executor streams per Arrow batch.

    Determinism: products floor to 2^20 fixed point before the int64
    sum (associative, order-independent), and the floored product is
    bit-identical across engines — Arrow hands numpy the exact JVM
    doubles and (x_i·x_j)·2^20 is the same two IEEE multiplies in the
    same order as the codegen and oracle texts; |sum| stays far inside
    2^53 (|x_i·x_j|·2^20 ≲ 10^7 per row), so the final cast-double and
    two IEEE divisions are exact and engine-independent.

    LIFECYCLE: the matrix is trained state exactly like μ and
    the top component — whitening/Mahalanobis consumers load it, they
    don't re-derive it — so it rides the SAME pca_top disk artifact
    (one corpus pass at build, a 2080-row scan at query time)."""
    return _pca_artifact(spark, sf_dir)["cov"]


def _covariance_frame(centered: DataFrame) -> DataFrame:
    """One-pass partial-covariance build over the centered frame (see
    embed_covariance's docstring for shape and determinism) — called
    from the pca_top artifact builder."""
    d = 64

    def _partials(batches):
        import numpy as np
        import pandas as pd

        acc = np.zeros((d, d), dtype=np.int64)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["x"].to_numpy())
            for k in range(0, len(x), 1024):
                c = x[k : k + 1024]
                acc += (
                    np.floor((c[:, :, None] * c[:, None, :]) * _FP_SCALE)
                    .astype(np.int64)
                    .sum(axis=0)
                )
            n += len(x)
        if n:
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu.astype("int32"),
                    "j": ju.astype("int32"),
                    "pn": np.int64(n),
                    "ps": acc[iu, ju],
                }
            )

    partials = centered.mapInPandas(
        _partials, "i int, j int, pn long, ps long"
    )
    return partials.groupBy("i", "j").agg(
        F.sum("pn").alias("n"),
        (
            F.sum("ps").cast("double")
            / F.sum("pn").cast("double")
            / F.lit(float(_FP_SCALE))
        ).alias("cov"),
    )


ORACLE["embed_covariance"] = f"""{_sql_centered_prefix()},
tri as (
  select ii.i, jj.j,
         cast(floor(x[ii.i + 1] * x[jj.j + 1] * {_FP_SCALE}) as bigint) p
  from centered,
       (select unnest(range(0, 64)) i) ii,
       (select unnest(range(0, 64)) j) jj
  where jj.j >= ii.i)
select i, j, count(*) n,
       cast(sum(p) as double) / cast(count(*) as double)
         / {float(_FP_SCALE)} cov
from tri
group by i, j
"""


# -------------------------------------------------- embed_cluster_purity
@_q("embed_cluster_purity")
def embed_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality evaluation of the TRAINED coarse quantizer
    against the ground-truth label column: per trained cell, the
    member count, majority label, and purity (majority share) — the
    standard external clustering metric a pipeline logs to decide
    whether the unsupervised cells track semantic structure (and
    whether IVF cell boundaries will shear label neighborhoods).

    Determinism: the contingency table is exact integer counts;
    majority ties break on the smaller label (total order); purity is
    one division rounded to 12 decimals.

    Scale (100 TB): training amortizes as in sim_topk_ivf_trained; the
    evaluation itself is one (cell, label) map-side-combining hash
    aggregate (cells × labels output rows) and the majority pick runs
    on that tiny aggregate, never the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = _trained_centroids_memo(spark, sf_dir)
    assign = (
        _assign_cells(_normed(spark, sf_dir), cent)
        .where(F.col("arn") == 1)
        .select("vec_id", F.col("c_id").alias("cell"))
    )
    ct = (
        assign.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cell", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    best = ct.groupBy("cell").agg(
        F.sum("n").alias("n_members"),
        F.max_by(
            F.struct(F.col("label"), F.col("n")),
            F.struct(F.col("n"), -F.col("label")),
        ).alias("b"),
    )
    return best.select(
        "cell",
        "n_members",
        F.col("b.label").alias("majority_label"),
        F.col("b.n").alias("n_majority"),
        F.round(
            F.col("b.n").cast("double") / F.col("n_members").cast("double"),
            12,
        ).alias("purity"),
    )


ORACLE["embed_cluster_purity"] = f"""
with {_ivf_cand_sql().strip()},
ct as (
  select a.cell, e.label, count(*) n
  from ncell a join embeddings e on e.vec_id = a.neighbor_id
  group by 1, 2),
best as (
  select cell, label majority_label, n n_majority
  from (select cell, label, n,
               row_number() over (partition by cell
                                  order by n desc, label asc) rn
        from ct)
  where rn = 1),
tot as (select cell, cast(sum(n) as bigint) n_members from ct group by 1)
select t.cell, t.n_members, b.majority_label, b.n_majority,
       round(cast(b.n_majority as double) / cast(t.n_members as double), 12)
         purity
from tot t join best b on t.cell = b.cell
"""


# ------------------------------------------------ embed_quantization_audit
QA_INT8_MAX = 127  # symmetric int8 range
QA_FP = 1 << 20  # fixed-point unit for deterministic cosine sums


@_q("embed_quantization_audit")
def embed_quantization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 SCALAR-QUANTIZATION error audit — per label, how much
    cosine geometry survives compressing the fp32 embedding column to
    symmetric int8 (per-vector scale = max|x_i|, q_i = round(x_i/s *
    127)). This is the production recall layer under every large ANN
    deployment (SQ8 in FAISS/Milvus terms): 4x less memory and
    bandwidth for the corpus-resident vectors, re-ranked in fp32 only
    for the shortlist — at 100 TB the difference between an index that
    fits executor memory and one that spills. The audit table tells
    the owner per label how far SQ8 drifts the similarity (avg / worst
    reconstruction cosine) before they flip ANN scans to it.

    Plan: ONE narrow map over the corpus (quantize -> reconstruct ->
    cosine, all built-in higher-order array expressions inside
    whole-stage codegen — no Python, no shuffle) followed by one
    hash aggregate by label. Output is |labels| rows.

    Determinism: quantization is floor(v/s*127 + 0.5) — half-up in
    BOTH engines (no banker's rounding disagreement); per-vector
    cosines are floored to 2^20 fixed point before the bigint sum
    (order-independent), the module's standard policy; min is exact.
    DuckDB's init-less list_reduce(greatest) equals Spark's
    0.0-seeded fold because the folded values are absolute."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label",
        F.expr("transform(embedding, v -> cast(v as double))").alias("x"),
    )
    scaled = emb.withColumn(
        "s", F.expr("aggregate(x, 0.0D, (a, v) -> greatest(a, abs(v)))")
    ).where(F.col("s") > 0)
    recon = scaled.withColumn(
        "recon",
        F.expr(
            f"transform(x, v -> cast(floor(v / s * {QA_INT8_MAX}.0 + 0.5)"
            f" as bigint) * s / {QA_INT8_MAX}.0)"
        ),
    )
    cos = recon.select(
        "label",
        (
            dot_fold("x", "recon")
            / (
                F.sqrt(dot_fold("x", "x"))
                * F.sqrt(dot_fold("recon", "recon"))
            )
        ).alias("c"),
    ).select("label", F.floor(F.col("c") * QA_FP).alias("f"))
    return (
        cos.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("f").alias("sum_f"),
            F.min("f").alias("min_f"),
        )
        .select(
            "label",
            "n_vecs",
            (
                F.col("sum_f").cast("double")
                / F.col("n_vecs")
                / F.lit(float(QA_FP))
            ).alias("avg_recon_cos"),
            (F.col("min_f").cast("double") / F.lit(float(QA_FP))).alias(
                "min_recon_cos"
            ),
            (F.col("n_vecs") * 64 * 4).alias("bytes_fp32"),
            (F.col("n_vecs") * (64 + 8)).alias("bytes_int8"),
        )
        .orderBy("label")
    )


ORACLE["embed_quantization_audit"] = f"""
with x as (
  select label, list_transform(embedding, v -> cast(v as double)) x
  from embeddings),
sc as (
  select label, x,
         list_reduce(list_transform(x, v -> abs(v)),
                     (a, v) -> greatest(a, v)) s
  from x),
rec as (
  select label, x,
         list_transform(
           x, v -> cast(floor(v / s * {QA_INT8_MAX}.0 + 0.5) as bigint)
                   * s / {QA_INT8_MAX}.0) recon
  from sc where s > 0),
cosr as (
  select label,
         {sql_dot('x', 'recon')}
           / (sqrt({sql_dot('x', 'x')})
              * sqrt({sql_dot('recon', 'recon')})) c
  from rec),
fp as (select label, cast(floor(c * {QA_FP}) as bigint) f from cosr)
select label, count(*) n_vecs,
       cast(sum(f) as double) / count(*) / {float(QA_FP)} avg_recon_cos,
       cast(min(f) as double) / {float(QA_FP)} min_recon_cos,
       count(*) * 64 * 4 bytes_fp32,
       count(*) * (64 + 8) bytes_int8
from fp
group by label
order by label
"""


# --------------------------------------------- embed_dim_truncation_audit
DT_DIMS = (8, 16, 32, 64)  # prefix-dimension configs swept (64 = full)


@_q("embed_dim_truncation_audit")
def embed_dim_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIMENSION-TRUNCATION recall audit — the Matryoshka/MRL trade
    measured on the actual corpus: for each prefix length d of the
    64-dim embedding, recall@5 of the d-dim cosine top-k against the
    full-dim exact top-k over the 50-vector query panel. Truncation is
    the other standard ANN memory lever next to int8 quantization
    (embed_quantization_audit): 8x fewer floats means 8x more vectors
    per executor, and THIS table (not the model card) tells the owner
    how much ranking quality each step down costs on their data. The
    d=64 row is the built-in sanity anchor (recall 1.0 by identity).

    Plan: ONE broadcast of the 50-row panel against the corpus (the
    sim_topk_brute shape — the panel is the audit's cost bound, not
    the corpus). Prefix dots are CUMULATIVE, so every config's cosine
    comes from the same elementwise product array sliced at the
    DT_DIMS boundaries — one corpus scan for all configs, not one per
    config (a per-config form re-scanned the corpus 4×, 3.15× the
    oracle's wall). The checkpointed (src, nbr, sim_d…)
    frame then takes |configs| rank windows on ONE src shuffle and a
    single aggregate emits every config's hits — truth (the full-dim
    top-k) is just rank_64, no join at all.

    Determinism: slices are positional prefixes; sims are the
    identical IEEE left fold in both engines (slicing the product
    array before the fold adds the SAME terms in the SAME order as
    folding sliced inputs); ties rank by neighbor id; hits are exact
    integers."""
    from pyspark.sql.functions import pandas_udf

    dims = DT_DIMS

    @pandas_udf("array<double>")
    def prefix_sims(xa: pd.Series, xb: pd.Series) -> pd.Series:
        """All |DT_DIMS| prefix cosines from ONE running product sum
        per pair — vectorized Arrow batch (the interpreted higher-order
        fold form measured 5× the oracle at sf0.1: ArrayAggregate is
        CodegenFallback). Rounding order per prefix is the sequential
        left fold over index order — bit-identical to the oracle's
        list_reduce over the sliced zip (see _columnar_fold_dot)."""
        import numpy as np

        n = len(xa)
        if n == 0:
            return pd.Series([], dtype=object)
        A = np.stack(xa.to_numpy()).astype(np.float64)
        B = np.stack(xb.to_numpy()).astype(np.float64)
        ap = np.zeros(n)
        aa = np.zeros(n)
        ab = np.zeros(n)
        out = np.empty((n, len(dims)))
        j = 0
        bounds = set(dims)
        for d in range(A.shape[1]):
            ap = ap + A[:, d] * B[:, d]
            aa = aa + A[:, d] * A[:, d]
            ab = ab + B[:, d] * B[:, d]
            if d + 1 in bounds:
                out[:, j] = ap / (np.sqrt(aa) * np.sqrt(ab))
                j += 1
        return pd.Series(list(out))

    emb = load_table(spark, sf_dir, "embeddings")
    pane = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("src"), F.col("embedding").alias("xa")
    )
    corp = emb.select(
        F.col("vec_id").alias("nbr"), F.col("embedding").alias("xb")
    )
    pairs = (
        F.broadcast(pane)
        .join(corp, F.col("src") != F.col("nbr"))
        .withColumn("sims", prefix_sims(F.col("xa"), F.col("xb")))
        .select(
            "src",
            "nbr",
            *[
                F.element_at("sims", i + 1).alias(f"sim_{d}")
                for i, d in enumerate(DT_DIMS)
            ],
        )
        .localCheckpoint()
    )
    full = DT_DIMS[-1]
    ranked = pairs.select(
        *[
            _rank_over(f"sim_{d}", query="src", neighbor="nbr").alias(
                f"rank_{d}"
            )
            for d in DT_DIMS
        ]
    )
    stats = ranked.agg(
        F.sum(F.when(F.col(f"rank_{full}") <= TOP_K, 1).otherwise(0))
        .cast("long")
        .alias("n_true"),
        *[
            F.sum(
                F.when(
                    (F.col(f"rank_{d}") <= TOP_K)
                    & (F.col(f"rank_{full}") <= TOP_K),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"h_{d}")
            for d in DT_DIMS
        ],
    )
    stack = ", ".join(f"{d}, h_{d}" for d in DT_DIMS)
    return (
        stats.select(
            F.expr(f"stack({len(DT_DIMS)}, {stack}) as (dims, n_hits)"),
            "n_true",
        )
        .select(
            "dims",
            "n_hits",
            "n_true",
            (F.col("n_hits").cast("double") / F.col("n_true")).alias(
                "recall"
            ),
        )
        .orderBy("dims")
    )


def _dim_truncation_sql() -> str:
    full = DT_DIMS[-1]
    sims = ",\n         ".join(
        f"{sql_dot(f'a.embedding[1:{d}]', f'b.embedding[1:{d}]')}"
        f" / (sqrt({sql_dot(f'a.embedding[1:{d}]', f'a.embedding[1:{d}]')})"
        f" * sqrt({sql_dot(f'b.embedding[1:{d}]', f'b.embedding[1:{d}]')}))"
        f" sim_{d}"
        for d in DT_DIMS
    )
    ranks = ",\n         ".join(
        f"row_number() over (partition by src"
        f" order by sim_{d} desc, nbr) rank_{d}"
        for d in DT_DIMS
    )
    hs = ",\n         ".join(
        f"cast(sum(case when rank_{d} <= {TOP_K}"
        f" and rank_{full} <= {TOP_K} then 1 else 0 end) as bigint) h_{d}"
        for d in DT_DIMS
    )
    rows = "\nunion all\n".join(
        f"select {d} dims, h_{d} n_hits, n_true,"
        f" cast(h_{d} as double) / n_true recall from stats"
        for d in DT_DIMS
    )
    return f"""
with pairs as (
  select a.vec_id src, b.vec_id nbr,
         {sims}
  from embeddings a join embeddings b on a.vec_id != b.vec_id
  where a.vec_id < {N_QUERIES}),
ranked as (
  select src, nbr,
         {ranks}
  from pairs),
stats as (
  select cast(sum(case when rank_{full} <= {TOP_K} then 1 else 0 end)
              as bigint) n_true,
         {hs}
  from ranked)
{rows}
order by dims"""


ORACLE["embed_dim_truncation_audit"] = _dim_truncation_sql()


# ---------------------------------------------------- ivf_kmeanspp_init
KPP_L = 16  # oversampling factor per round (~2k, Bahmani et al. §3)
KPP_T = 2  # oversampling rounds
_KPP_SCALE = 1 << 20  # fixed-point unit for the cost-sum phi


def _kpp_u(t: int):
    """Exact md5-fraction in (0,1) for round t's selection coin —
    power-of-two denominator, identical in both engines."""
    key = F.concat(F.lit(f"kpp{t}-"), F.col("vec_id").cast("string"))
    return tok_hash60(key).cast("double") / F.lit(float(1 << 60))


def _sql_kpp_u(t: int) -> str:
    key = f"'kpp{t}-' || cast(vec_id as varchar)"
    return f"cast({sql_tok_hash60(key)} as double) / {float(1 << 60)}"


def _with_xx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, xx): the corpus with its squared norm."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", dot_fold("embedding", "embedding").alias("xx")
    )


def _kmeanspp_cand_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fresh derivation of the k-means|| candidate set: KPP_T
    oversampling rounds from the deterministic vec_id=0 seed (see
    ivf_kmeanspp_init's docstring for the arithmetic)."""
    points = _with_xx(spark, sf_dir)
    cand = (
        points.where(F.col("vec_id") == 0)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("ec"),
            F.col("xx").alias("cxx"),
        )
        .localCheckpoint()
    )

    def d2_col(cs_col):
        return F.array_min(
            F.transform(
                cs_col,
                lambda c: (
                    F.col("xx")
                    - F.lit(2.0) * dot_fold(F.col("embedding"), c["ec"])
                )
                + c["cxx"],
            )
        )

    for t in range(1, KPP_T + 1):
        cl = cand.agg(
            F.collect_list(F.struct("cid", "ec", "cxx")).alias("cs")
        )
        scored = points.crossJoin(F.broadcast(cl)).select(
            "vec_id", "embedding", "xx", d2_col(F.col("cs")).alias("d2")
        )
        phi = scored.agg(
            F.sum(
                F.floor(F.col("d2") * F.lit(float(_KPP_SCALE))).cast("long")
            ).alias("phi_fp")
        )
        sel = (
            scored.crossJoin(F.broadcast(phi))
            .where(
                _kpp_u(t)
                * (
                    F.col("phi_fp").cast("double")
                    / F.lit(float(_KPP_SCALE))
                )
                < F.lit(float(KPP_L)) * F.col("d2")
            )
            .select(
                F.col("vec_id").alias("cid"),
                F.col("embedding").alias("ec"),
                F.col("xx").alias("cxx"),
            )
        )
        cand = cand.unionByName(sel).localCheckpoint()
    return cand


def _kmeanspp_cand_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISK-PERSISTED k-means|| candidate set (the iteration-floor
    family): the KPP_T scheduled oversampling rounds
    are TRAINING — run once per corpus snapshot in production — so the
    candidate frame persists like every other index artifact; both
    cold and warm sessions reload it and pay only the final
    assignment + weighting stage. Stale-safe via the embeddings
    (mtime, size) fingerprint; reload ≡ rebuild is parity-tested in
    tests/test_artifacts.py."""
    from duckdb_wasm_spark.artifacts import persisted_frames

    return persisted_frames(
        spark,
        "kmeanspp_cand",
        sf_dir,
        ("embeddings",),
        lambda: {"cand": _kmeanspp_cand_build(spark, sf_dir)},
    )["cand"]


@_q("ivf_kmeanspp_init")
def ivf_kmeanspp_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means|| initialization (Bahmani et al. 2012, VLDB — the
    scalable k-means++ seeding Spark ML's own KMeans uses): instead of
    k sequential D²-weighted draws (k round trips over the corpus),
    oversample ~KPP_L points per round for KPP_T rounds with
    probability min(1, l·d²(x,C)/φ(C)), then weight the candidates by
    the points they serve and keep the top N_CENTROIDS — the
    data-spread seeds the Lloyd gates' naive first-k seeding lacks.
    Output: the k chosen seeds as (cid, weight).

    Determinism: the "probabilistic" coin is the md5 fraction of
    (round, vec_id) — u < l·d²/φ evaluated as u·φ < l·d² on exact
    doubles (φ is a 2^20 fixed-point bigint sum — order-independent —
    whose /2^20 is an exact exponent shift; boundary ties are
    measure-zero); d² composes (xx − 2·x·c) + cc from the shared fold
    dot, identical text both engines; the argmin assignment and the
    final top-k order on (d2|weight, cid) are total.

    Plan (100 TB): the textbook k-means|| decomposition — per round,
    the candidate set (O(k·l) rows) is collected into ONE 1-row array
    frame and broadcast (BNLJ-allowlisted scalar), d²(x, C) is a
    zero-shuffle narrow map (array_min over the candidate array), φ is
    a 1-row aggregate, and selection is a filter; NO corpus shuffle in
    any round. The final weighting is one (cid) count aggregate and a
    k-row TakeOrdered. Candidate frames are localCheckpoint'd per
    round (the Lloyd-iteration discipline: lineage must not re-run
    prior rounds), and the finished candidate set is a DISK-PERSISTED
    artifact (see _kmeanspp_cand_memo): the KPP_T training
    rounds run once per corpus snapshot; every session reloads."""
    cand = _kmeanspp_cand_memo(spark, sf_dir)
    cl = cand.agg(F.collect_list(F.struct("cid", "ec", "cxx")).alias("cs"))
    assigned = _with_xx(spark, sf_dir).crossJoin(F.broadcast(cl)).select(
        F.array_min(
            F.transform(
                F.col("cs"),
                lambda c: F.struct(
                    (
                        (
                            F.col("xx")
                            - F.lit(2.0)
                            * dot_fold(F.col("embedding"), c["ec"])
                        )
                        + c["cxx"]
                    ).alias("d2"),
                    c["cid"].alias("cid"),
                ),
            )
        )["cid"].alias("cid")
    )
    w = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("weight"))
    return w.orderBy(F.col("weight").desc(), F.col("cid").asc()).limit(
        N_CENTROIDS
    )


def _kpp_round_sql(t: int, prev: str) -> str:
    """One oversampling round as oracle CTEs: d² against `prev`'s
    collected candidate array, fixed-point φ, md5-coin selection."""
    d2 = (
        "list_min(list_transform(cs, c -> "
        f"(xx - 2 * {sql_dot('embedding', 'c.ec')}) + c.cxx))"
    )
    return f"""
cl{t} as (select list({{'cid': cid, 'ec': ec, 'cxx': cxx}}) cs from {prev}),
s{t} as (select vec_id, embedding, xx, {d2} d2 from normed, cl{t}),
p{t} as (select cast(sum(cast(floor(d2 * {_KPP_SCALE}) as bigint))
                     as bigint) phi_fp from s{t}),
c{t} as (
  select cid, ec, cxx from {prev}
  union all
  select vec_id cid, embedding ec, xx cxx
  from s{t}, p{t}
  where {_sql_kpp_u(t)} * (cast(phi_fp as double) / {float(_KPP_SCALE)})
        < {float(KPP_L)} * d2)"""


ORACLE["ivf_kmeanspp_init"] = f"""
with normed as (
  select vec_id, embedding, {sql_dot('embedding', 'embedding')} xx
  from embeddings),
k0 as (select vec_id cid, embedding ec, xx cxx from normed
       where vec_id = 0),
{','.join(_kpp_round_sql(t, 'k0' if t == 1 else f'c{t - 1}')
          for t in range(1, KPP_T + 1))},
assigned as (
  select vec_id, cid from (
    select n.vec_id, c.cid,
           row_number() over (
             partition by n.vec_id
             order by (n.xx - 2 * {sql_dot('n.embedding', 'c.ec')})
                      + c.cxx asc, c.cid asc) rn
    from normed n, c{KPP_T} c) r
  where rn = 1)
select cid, count(*) weight
from assigned
group by cid
order by weight desc, cid asc
limit {N_CENTROIDS}
"""


# -------------------------------------------------------- sim_topk_mmr
MMR_CAND = 20  # cosine shortlist per query the greedy re-ranks
MMR_K = 5  # results returned per query
MMR_LAMBDA = 0.7  # relevance weight; 1-λ penalizes redundancy


@_q("sim_topk_mmr")
def sim_topk_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): plain top-k returns near-duplicate neighbors; MMR greedily
    picks argmax of λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s), so
    each result is relevant AND novel — the diversification step
    retrieval pipelines run between ANN shortlist and answer.

    Greedy selection is inherently sequential in k but LOCAL to one
    query's ≤MMR_CAND-row shortlist, so it runs per query group in a
    single grouped-map stage: an earlier form UNROLLED the
    MMR_K steps as Spark jobs — 5 eager localCheckpoints and per step
    an anti-join + pair aggregate + rank-1 window over a ≤|Q|·CAND-row
    frame, ~3.6s of per-call wall that was pure job-scheduling floor.
    The per-group greedy is exact replay of the same arithmetic: the
    candidate sims still come from the JVM fold dot (computed before
    the boundary), and the in-group pair dot is the identical IEEE
    left fold (acc = 0.0; acc += double(x)·double(y) in element order
    — the same op sequence as dot_fold / DuckDB's list_reduce, pinned
    by test_mmr_matches_numpy_greedy_replay). The oracle replays the
    identical chain as unrolled SQL CTEs.

    Determinism: score λ·sim − (1−λ)·red is the same two IEEE ops in
    all three forms; every argmax key ((score desc, nid), (sim desc,
    nid)) is total, compared on bit-identical doubles.

    Plan (100 TB): ONE corpus-scale stage — the brute shortlist scan
    (broadcast 50-query panel, WindowGroupLimit top-CAND per query,
    the sim_topk_brute shape; swap in the IVF probe for a trained
    shortlist at scale) — then ONE grouped-map stage over the
    shortlist, reusing the window's hash partitioning by qid (no
    extra exchange). Per-group state is ≤CAND rows × EMB_DIM floats
    at any corpus size; groups parallelize across the panel."""
    import pandas as pd

    normed = _normed(spark, sf_dir)
    q = normed.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("eq"),
        F.col("nrm").alias("nq"),
    )
    c = normed.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("en"),
        F.col("nrm").alias("nn"),
    )
    pairs = (
        c.join(F.broadcast(q))
        .where(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            "en",
            "nn",
            _cosine("eq", "en", "nq", "nn").alias("sim"),
        )
    )
    cand = _topk(
        pairs, MMR_CAND, rank="rk", query="qid", neighbor="nid"
    ).select("qid", "nid", "en", "nn", "sim")

    lam = MMR_LAMBDA

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        # one query's shortlist: order by (sim desc, nid asc) — the
        # step-1 window key; doubles are bit-identical to the JVM's.
        # na_position='first' replays Spark's NaN-greatest desc order:
        # a zero-norm embedding would yield sim = NaN,
        # which the JVM window ranks FIRST while pandas defaults it
        # LAST — no-op on this corpus (embeddings are non-degenerate
        # by construction, nrm > 0 for every row), pinned so the
        # grouped map can never silently diverge from the window key.
        pdf = pdf.sort_values(
            ["sim", "nid"], ascending=[False, True], na_position="first"
        ).reset_index(drop=True)
        nids = pdf["nid"].tolist()
        sims = pdf["sim"].tolist()
        ens = pdf["en"].tolist()
        nns = pdf["nn"].tolist()

        def pair(i: int, j: int) -> float:
            # dot_fold replayed exactly: double-cast elementwise
            # products, left fold from 0.0 (same IEEE op order)
            acc = 0.0
            for x, y in zip(ens[i], ens[j]):
                acc += float(x) * float(y)
            return acc / (nns[i] * nns[j])

        picks = [0]  # rank-1 row IS step 1's argmax
        remaining = list(range(1, len(nids)))
        # Running per-candidate max-redundancy: the naive
        # form recomputed pair(i, j) against EVERY pick at every step
        # (O(K²·CAND·dim) Python work per group); picks persist across
        # steps, so only the NEWEST pick can raise a candidate's max.
        # `if p > red[i]` is exactly Python max()'s left fold (keeps
        # the incumbent unless strictly greater, including its NaN
        # behavior), so the value — and every downstream argmax — is
        # bit-identical to the recompute-everything form.
        red = {i: pair(i, 0) for i in remaining}
        for _t in range(2, MMR_K + 1):
            if not remaining:  # shortlist exhausted: same truncation
                break  # as the unrolled form's empty anti-join
            best, best_key = None, None
            for i in remaining:
                score = lam * sims[i] - (1.0 - lam) * red[i]
                key = (-score, nids[i])  # (score desc, nid asc)
                if best is None or key < best_key:
                    best, best_key = i, key
            picks.append(best)
            remaining.remove(best)
            for i in remaining:
                p = pair(i, best)
                if p > red[i]:
                    red[i] = p
        return pd.DataFrame(
            {
                "query_id": [int(pdf["qid"].iloc[0])] * len(picks),
                "neighbor_id": [int(nids[i]) for i in picks],
                "step": list(range(1, len(picks) + 1)),
                "sim": [sims[i] for i in picks],
            }
        )

    return cand.groupBy("qid").applyInPandas(
        _greedy,
        "query_id long, neighbor_id long, step int, sim double",
    )


def _mmr_step_sql(t: int) -> str:
    return f"""
rem{t} as (select c.* from cand c anti join s{t - 1} s
           on c.qid = s.qid and c.nid = s.nid),
red{t} as (
  select r.qid, r.nid,
         max({sql_dot('r.en', 's.en')} / (r.nn * s.nn)) red
  from rem{t} r join s{t - 1} s on r.qid = s.qid
  group by r.qid, r.nid),
pick{t} as (
  select qid, nid, en, nn, sim, {t} step from (
    select r.*, row_number() over (
      partition by r.qid
      order by {MMR_LAMBDA} * r.sim - {1.0 - MMR_LAMBDA} * d.red desc,
               r.nid asc) prk
    from rem{t} r join red{t} d on r.qid = d.qid and r.nid = d.nid) p
  where prk = 1),
s{t} as (select * from s{t - 1} union all select * from pick{t})"""


ORACLE["sim_topk_mmr"] = f"""
with {_sql_normed()},
q as (select vec_id qid, embedding eq, nrm nq from normed
      where vec_id < {N_QUERIES}),
cand as (
  select * from (
    select qid, nid, en, nn, sim,
           row_number() over (partition by qid
                              order by sim desc, nid asc) rk
    from (select q.qid, n.vec_id nid, n.embedding en, n.nrm nn,
                 {sql_dot('q.eq', 'n.embedding')} / (q.nq * n.nrm) sim
          from q, normed n
          where q.qid <> n.vec_id))
  where rk <= {MMR_CAND}),
s1 as (select qid, nid, en, nn, sim, 1 step from cand where rk = 1),
{','.join(_mmr_step_sql(t) for t in range(2, MMR_K + 1))}
select qid query_id, nid neighbor_id, step, sim from s{MMR_K}
"""
