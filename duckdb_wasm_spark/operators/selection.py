"""Data-selection operators — the published curation methods LLM
pretraining pipelines run between "raw corpus" and "training mix",
each expressed Spark-first and oracle-checked:

  embed_silhouette    simplified silhouette over the trained IVF cells
                      — the cluster-quality audit that says whether the
                      coarse quantizer (and therefore SemDeDup's
                      cluster decomposition) is trustworthy
  dedup_semdedup      SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
                      within-cluster pairwise-cosine dedup — the
                      embedding dedup used for LAION/DataComp-class
                      corpora; keeps the member farthest from the
                      centroid in every duplicate group
  sample_dsir         DSIR (Xie et al. 2023, arXiv:2302.03169): data
                      selection via importance resampling on hashed
                      n-gram features — bag-of-ngrams importance
                      weights + Gumbel-top-k sampling
  corpus_ppl_buckets  CCNet-style perplexity bucketing (Wenzek et al.
                      2020, LREC): per-language head/middle/tail
                      terciles of the corpus-self-trained LM score

Shared scale discipline (100 TB framing):
  - SemDeDup's pairwise stage is bounded BY DESIGN: pair expansion
    happens only within a coarse cell, and production scales the cell
    count with the corpus so the per-cell member count is a constant
    (the paper's own decomposition). The per-cell rank that orders
    members runs through ranks.global_ranks(keys=[cell]) — the
    two-phase distributed rank — never a class-key-only window.
  - DSIR's feature table is B hash buckets — a broadcast-sized frame
    no matter the corpus; per-document scoring is one (doc, bucket)
    hash aggregate plus one integer dot with the broadcast weights.
    Selection is Gumbel-top-k = TakeOrderedAndProject, no global sort.
  - The perplexity terciles use the same two-phase rank; the only
    corpus-scale shuffles are the LM's own hash aggregates.

Determinism (the oracle-hash discipline of operators/sketches.py):
every cross-engine comparison rides exact integers or the shared
left-fold dot product; transcendental ln() appears only inside
2^20 fixed-point floors (the text_ngram_entropy precedent) and only
on integer-derived ratios, so both engines floor the same value.

Reference parity: no selection surface exists in the reference;
driver-mandated LLM-pipeline extension (SURVEY.md §7 phase 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_wasm_spark.operators._text import (
    bigrams,
    sql_bigrams,
    sql_toks,
    toks,
)
from duckdb_wasm_spark.operators.dedup import (
    _cosine,
    _pair_dot_udf,
    _sql_cos,
)
from duckdb_wasm_spark.operators.similarity import (
    _SQL_ARN,
    _SQL_CSIM,
    N_CENTROIDS,
    TRAIN_ITERS,
    _assign_cells,
    _normed,
    _sql_trained,
    _trained_centroids,
    _trained_centroids_memo,
)
from duckdb_wasm_spark.ranks import global_ranks
from duckdb_wasm_spark.tables import load_table

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


def _q(name):
    def reg(fn):
        QUERIES[name] = fn
        return fn

    return reg


_SCALE = 1 << 20  # shared fixed-point unit for ln()-bearing sums


# The trained codebook's assignment as oracle CTEs (similarity's
# _sql_trained chain, so the codebook is bit-identical to the Spark
# side's disk-persisted artifact).
_SQL_RANKED_CELLS = f"""{_sql_trained()},
ranked_cells as (
  select e.vec_id, e.embedding, e.nrm, c.c_id,
         {_SQL_CSIM} c_sim,
         {_SQL_ARN}
  from normed e, c{TRAIN_ITERS} c)"""


# -------------------------------------------------------- embed_silhouette
@_q("embed_silhouette")
def embed_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per trained IVF cell (Hruschka et al.'s
    centroid-based simplification of Rousseeuw 1987): for each vector,
    a = cosine distance to its own centroid, b = distance to the
    nearest OTHER centroid, s = (b − a) / max(a, b) ∈ [−1, 1]. The
    per-cell mean says how separated the coarse quantizer's cells are
    — the audit that decides whether cluster-scoped methods
    (dedup_semdedup, IVF probing) can trust the decomposition.

    Simplified (centroid-based) on purpose: the full silhouette needs
    all-pairs distances — quadratic, the exact thing the coarse
    quantizer exists to avoid; the centroid form is one C-way fan-out.

    Determinism: a and b are 1 − the shared fold dot (bit-identical
    engines); per-vector s is floored to 2^20 fixed point BEFORE the
    per-cell sum (double Σ over a hash aggregate is partial-order-
    dependent — the text_ngram_entropy rule), and the final
    /2^20/count is two correctly-rounded IEEE divisions in both.

    Plan (100 TB): broadcast the C-row codebook, rank the C-way
    fan-out per vector (high-cardinality vec_id window), keep arn ≤ 2,
    ONE (vec_id) hash aggregate to pair a with b, one C-row aggregate.
    No corpus-scale sort, no class-key window, nothing collects."""
    cent = _trained_centroids_memo(spark, sf_dir)
    ranked = _assign_cells(_normed(spark, sf_dir), cent).where(
        F.col("arn") <= 2
    )
    ab = ranked.groupBy("vec_id").agg(
        F.max(F.when(F.col("arn") == 1, F.col("c_id"))).alias("cell"),
        F.max(
            F.when(F.col("arn") == 1, F.lit(1.0) - F.col("c_sim"))
        ).alias("a"),
        F.max(
            F.when(F.col("arn") == 2, F.lit(1.0) - F.col("c_sim"))
        ).alias("b"),
    )
    s = F.when(F.greatest("a", "b") == 0, F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")) / F.greatest("a", "b")
    )
    fp = ab.select(
        "cell", F.floor(s * F.lit(float(_SCALE))).cast("long").alias("fp")
    )
    return fp.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(F.col("fp") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_neg"),
        (
            F.sum("fp").cast("double")
            / F.lit(float(_SCALE))
            / F.count(F.lit(1))
        ).alias("mean_sil"),
    )


ORACLE["embed_silhouette"] = f"""
with {_SQL_RANKED_CELLS},
ab as (
  select vec_id,
         max(case when arn = 1 then c_id end) cell,
         max(case when arn = 1 then 1.0 - c_sim end) a,
         max(case when arn = 2 then 1.0 - c_sim end) b
  from ranked_cells where arn <= 2 group by vec_id),
s as (
  select cell,
         cast(floor((case when greatest(a, b) = 0 then 0.0
                          else (b - a) / greatest(a, b) end)
                    * {float(_SCALE)}) as bigint) fp
  from ab)
select cell, count(*) n_vecs,
       cast(count(*) filter (where fp < 0) as bigint) n_neg,
       cast(sum(fp) as double) / {float(_SCALE)} / count(*) mean_sil
from s group by cell
"""


# --------------------------------------------------------- dedup_semdedup
SEMDEDUP_TAU = 0.3  # within-cluster cosine above this = semantic dup


def _semdedup_ranked_build(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fresh derivation of the per-cell ranked assignment: hard-assign
    every vector to its trained coarse cell, then rank members within
    the cell by (c_sim asc, vec_id asc) via the two-phase distributed
    rank. The order key is TOTAL (unique vec_id tie-break), so rank
    IDENTITY is deterministic — the precondition for persisting the
    frame (reload must equal rebuild row-for-row)."""
    cent = _trained_centroids_memo(spark, sf_dir)
    assigned = (
        _assign_cells(_normed(spark, sf_dir), cent)
        .where(F.col("arn") == 1)
        .select(
            "vec_id",
            "embedding",
            "nrm",
            F.col("c_id").alias("cell"),
            "c_sim",
        )
    )
    return global_ranks(assigned, cols=["c_sim", "vec_id"], keys=["cell"])


def _semdedup_dups_build(spark: SparkSession, ranked: DataFrame) -> DataFrame:
    """Fresh derivation of the per-member prior-dup verdicts: the
    upper-triangular within-cell pair cosines (Arrow-batched columnar
    fold) aggregated per later member. Deterministic of the ranked
    frame (exact fold dots, integer counts)."""
    a = ranked.select(
        "cell",
        F.col("rn").alias("ra"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = ranked.select(
        "cell",
        F.col("rn").alias("rb"),
        F.col("vec_id").alias("bid"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, "cell")
        .where(F.col("ra") < F.col("rb"))
        .select(
            "bid",
            _cosine("ea", "eb", "na", "nb", _pair_dot_udf()).alias("sim"),
        )
        .groupBy("bid")
        .agg(
            F.sum(
                F.when(F.col("sim") >= SEMDEDUP_TAU, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_prior_dups")
        )
    )


def _semdedup_index_memo(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """DISK-PERSISTED SemDeDup index: the assignment
    + two-phase rank chain AND the Arrow-UDF pair stage rebuilt every
    cold session were the worst cold/warm gap in the corpus (11.6s vs
    4.1s) even though the centroids they derive from already reload
    from disk. A production deployment materializes the assignment
    table and the dedup verdicts next to the codebook (the
    train-once/serve-always lifecycle every ANN artifact here
    follows), so both frames persist as one artifact kind: built once
    ever, reloaded flat-parquet by every later session. Stale-safe via
    the embeddings (mtime, size) fingerprint; reload ≡ rebuild is
    parity-tested for both frames in tests/test_selection.py."""
    from duckdb_wasm_spark.artifacts import persisted_frames

    def _build() -> dict[str, DataFrame]:
        ranked = _semdedup_ranked_build(spark, sf_dir).localCheckpoint()
        return {
            "ranked": ranked,
            "dups": _semdedup_dups_build(spark, ranked),
        }

    return persisted_frames(
        spark, "semdedup_index", sf_dir, ("embeddings",), _build
    )


def _semdedup_ranked_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _semdedup_index_memo(spark, sf_dir)["ranked"]


@_q("dedup_semdedup")
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embeddings with the coarse quantizer, then WITHIN each cluster
    order members by similarity-to-centroid ascending (the paper keeps
    the example farthest from the centroid in each duplicate group)
    and drop any member whose cosine to ANY earlier member reaches
    SEMDEDUP_TAU. Non-iterative and deterministic: a member's fate
    depends only on the fixed order and the pairwise matrix — the
    upper-triangular max the released implementation computes.

    Output: (vec_id, cell, rn, n_prior_dups, kept) for every vector —
    the full audit trail, not just survivors.

    Determinism: the order key (c_sim, vec_id) is total (shared fold
    dot; unique ids); ranks come from the two-phase distributed rank,
    pair cosines are the same fold — both engines agree bitwise.

    Plan (100 TB): this is the published decomposition — the all-pairs
    problem is confined to a cell, and production scales the cell
    count C with the corpus so members-per-cell is a sizing constant
    (the paper runs ~100k clusters for LAION-scale; here C=8 is the
    gate config). Per-cell ranks are two-phase (ranks.global_ranks
    keys=[cell] — never a class-key window); the pair join is an
    equi-join on cell (partition-local after one shuffle, and at
    production C the key cardinality grows with the corpus, keeping
    reducers busy); the verdict per member is one (vec_id) hash
    aggregate. Nothing is quadratic in the corpus, only in the
    bounded cell size.

    The ranked assignment AND the pair-stage verdicts are one
    disk-persisted artifact (see _semdedup_index_memo): cold sessions reload both instead of
    replaying assign + two-phase rank + the Arrow-UDF pair stage."""
    idx = _semdedup_index_memo(spark, sf_dir)
    ranked, dups = idx["ranked"], idx["dups"]
    return (
        ranked.select("vec_id", "cell", "rn")
        .join(
            dups.withColumnRenamed("bid", "vec_id"), "vec_id", "left"
        )
        .select(
            "vec_id",
            "cell",
            "rn",
            F.coalesce("n_prior_dups", F.lit(0))
            .cast("long")
            .alias("n_prior_dups"),
            (F.coalesce("n_prior_dups", F.lit(0)) == 0).alias("kept"),
        )
    )


ORACLE["dedup_semdedup"] = f"""
with {_SQL_RANKED_CELLS},
assigned as (
  select vec_id, embedding, nrm, c_id cell, c_sim
  from ranked_cells where arn = 1),
rk as (
  select *, row_number() over (partition by cell
                               order by c_sim asc, vec_id asc) rn
  from assigned),
d as (
  select b.vec_id bid,
         cast(count(*) filter (
           where {_sql_cos("a", "b")} >= {SEMDEDUP_TAU}) as bigint)
           n_prior_dups
  from rk a join rk b on a.cell = b.cell and a.rn < b.rn
  group by b.vec_id)
select r.vec_id, r.cell, r.rn,
       cast(coalesce(d.n_prior_dups, 0) as bigint) n_prior_dups,
       coalesce(d.n_prior_dups, 0) = 0 kept
from rk r left join d on d.bid = r.vec_id
"""


# ---------------------------------------------- semdedup_cell_growth
# The growth-law audit runs the identical train/assign chain at two
# corpus sizes with the cell count scaled proportionally — the
# paper's production sizing rule (C grows with N so members-per-cell
# is a constant).
SEMDEDUP_GROWTH_SUBSETS = [
    ("full", 1, N_CENTROIDS),
    ("half", 2, N_CENTROIDS // 2),
]


@_q("semdedup_cell_growth")
def semdedup_cell_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GATED cell-scaling growth audit for SemDeDup (the
    lsh_candidate_growth mold): dedup_semdedup's docstring claims
    the within-cell pair stage stays bounded because production scales
    the cell count C with the corpus — this gate EXECUTES that claim
    instead of asserting it. It runs the identical Lloyd-trained
    assignment at two corpus sizes (the deterministic vec_id % 2 = 0
    half at C = N_CENTROIDS/2, and the full corpus at C = N_CENTROIDS)
    and emits, per size: the corpus count, the cell count, the max
    cell occupancy, and the exact within-cell pair count
    Σ m·(m−1)/2 — the size of the frame dedup_semdedup's pairwise
    stage would materialize. The law under test (pinned in
    tests/test_selection.py): doubling N with C doubled keeps
    members-per-cell ~O(1) (max occupancy growth well under 2×·skew)
    and grows pairs SUB-quadratically (< 4×, the budget an unscaled C
    would exactly double-spend at m² per cell).

    Determinism: both chains are the exact fixed-point Lloyd
    iterations (seeds = first C subset ids), assignment ties break on
    smaller cell id, and every output is an integer aggregate — the
    oracle replays the full tagged CTE chain bit-identically.

    Plan (100 TB): per size, training is iters × (broadcast-assign +
    one C×64-row aggregate); the audit itself is ONE (cell) count
    aggregate — the pair frame is NEVER materialized (its cardinality
    is computed exactly from the occupancy counts). BOTH subsets'
    per-cell occupancy frames are one disk-persisted artifact
    (serving only the full-corpus chain from disk made every cold
    session re-pay the HALF-corpus train + assign, 6.1s cold vs 1.7s
    warm): cold sessions read two C-row
    parquet frames and run two C-row aggregates. Reload ≡ rebuild is
    parity-tested in tests/test_selection.py."""
    from duckdb_wasm_spark.artifacts import persisted_frames

    def _occupancy(mod: int, c: int) -> DataFrame:
        """(cell, m) occupancy of one subset's trained assignment —
        the frame the growth law is computed from."""
        if mod == 1:
            # the full-corpus assignment IS the persisted artifact the
            # operator serves — audit it, don't regenerate it
            assigned = _semdedup_ranked_memo(spark, sf_dir).select("cell")
        else:
            normed_sub = _normed(spark, sf_dir).where(
                F.col("vec_id") % mod == 0
            )
            cent = _trained_centroids(
                normed_sub, seed_where=F.col("vec_id") < c * mod
            )
            assigned = (
                _assign_cells(normed_sub, cent)
                .where(F.col("arn") == 1)
                .select(F.col("c_id").alias("cell"))
            )
        return assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("m")
        )

    occ = persisted_frames(
        spark,
        "semdedup_growth",
        sf_dir,
        ("embeddings",),
        # dict comprehension, not a loop of closures: each
        # _occupancy(mod, c) is invoked eagerly with ITS iteration's
        # bindings, so nothing late-binds no matter when the build
        # runs (a per-subset lambda would late-bind)
        lambda: {
            f"mem_{label}": _occupancy(mod, c)
            for label, mod, c in SEMDEDUP_GROWTH_SUBSETS
        },
        layout={
            f"mem_{label}": "raw" for label, _, _ in SEMDEDUP_GROWTH_SUBSETS
        },
    )
    rows = []
    for label, mod, c in SEMDEDUP_GROWTH_SUBSETS:
        mem = occ[f"mem_{label}"]
        rows.append(
            mem.agg(
                F.sum("m").cast("long").alias("n_vectors"),
                F.max("m").cast("long").alias("max_cell_members"),
                F.sum(F.expr("m * (m - 1) div 2"))
                .cast("long")
                .alias("n_within_pairs"),
            ).select(
                F.lit(label).alias("subset"),
                "n_vectors",
                F.lit(c).cast("int").alias("n_cells"),
                "max_cell_members",
                "n_within_pairs",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("subset")


def _semdedup_growth_sql() -> str:
    chains = []
    selects = []
    for label, mod, c in SEMDEDUP_GROWTH_SUBSETS:
        t = f"_{label[0]}"
        where = "" if mod == 1 else f" where vec_id % {mod} = 0"
        chains.append(f"""{_sql_trained(t, where, c * mod)},
asg{t} as (
  select cell from (
    select e.vec_id, c.c_id cell,
           {_SQL_ARN}
    from normed{t} e, c{t}{TRAIN_ITERS} c)
  where arn = 1),
mem{t} as (select cell, count(*) m from asg{t} group by cell),
row{t} as (
  select '{label}' subset,
         cast(sum(m) as bigint) n_vectors,
         cast({c} as int) n_cells,
         cast(max(m) as bigint) max_cell_members,
         cast(sum((m * (m - 1)) // 2) as bigint) n_within_pairs
  from mem{t})""")
        selects.append(f"select * from row{t}")
    body = ",\n".join(chains)
    union = "\nunion all\n".join(selects)
    return f"""
with {body}
{union}
order by subset
"""


ORACLE["semdedup_cell_growth"] = _semdedup_growth_sql()


# ------------------------------------------------------------ sample_dsir
DSIR_B = 256  # hashed feature buckets (the paper uses 10k at web scale)
DSIR_K = 100  # documents selected


@_q("sample_dsir")
def sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169): score every raw document by the
    log-likelihood ratio of a TARGET-domain bag-of-hashed-ngrams model
    over the RAW-corpus model, then sample without replacement via
    Gumbel-top-k. Target domain here = the English slice (the paper's
    "formal text" target, instantiated on the synthetic corpus); raw =
    the whole corpus. Features are word bigrams hashed into DSIR_B
    buckets, Laplace-smoothed.

    Determinism: per-bucket log-ratio terms ln((ct+1)/(tot_t+B)) −
    ln((cr+1)/(tot_r+B)) are floored to 2^20 fixed point ONCE in the
    B-row weight table (the text_ngram_entropy ln-in-fixed-point
    rule); document scores are then pure integer dots Σ c_f·term_f.
    The Gumbel key −ln(−ln(u)) uses the md5-fraction u of the doc id
    (exact power-of-two division) and is floored to the same scale, so
    score = w_fp + g_fp is an exact bigint in both engines.

    Plan (100 TB): bucket counts are two (bucket) hash aggregates —
    B-row outputs; the weight table broadcasts (B rows, corpus-
    independent); per-doc scoring is one (doc, bucket) aggregate plus
    the broadcast join and one (doc) aggregate; selection is
    TakeOrderedAndProject (top-K, no global sort). The two corpus
    totals ride a 1-row broadcast scalar each (BNLJ-allowlisted)."""
    docs = load_table(spark, sf_dir, "documents")
    feat = docs.select(
        "doc_id",
        "lang",
        F.explode(bigrams(toks())).alias("g"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long")
            % DSIR_B
        ).alias("f"),
    )
    raw = feat.groupBy("f").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        feat.where(F.col("lang") == "en")
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    totals = raw.agg(F.sum("cr").alias("tot_r")).crossJoin(
        tgt.agg(F.sum("ct").alias("tot_t"))
    )
    lt = F.log(
        (F.col("ct") + 1).cast("double")
        / (F.col("tot_t") + DSIR_B).cast("double")
    )
    lr = F.log(
        (F.col("cr") + 1).cast("double")
        / (F.col("tot_r") + DSIR_B).cast("double")
    )
    weights = (
        raw.join(tgt, "f", "left")
        .na.fill(0, ["ct"])
        .crossJoin(F.broadcast(totals))
        .select(
            "f",
            F.floor((lt - lr) * F.lit(float(_SCALE)))
            .cast("long")
            .alias("term"),
        )
    )
    w_doc = (
        feat.groupBy("doc_id", "f")
        .agg(F.count(F.lit(1)).alias("c"))
        .join(F.broadcast(weights), "f")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("term")).alias("w_fp"))
    )
    # clamp u away from 0: the 60-bit md5 fraction can be
    # exactly 0 (~2^-60 per doc, deterministic for a given corpus), and
    # ln(0) is -inf on Spark but OutOfRangeException in DuckDB — a
    # divergent hard-failure mode. greatest(u, 2^-60) keeps u in
    # (0, 1) at both ends (max is (2^60-1)/2^60 < 1), identically in
    # the oracle text below.
    u = F.greatest(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dsir"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        .cast("double")
        / F.lit(float(1 << 60)),
        F.lit(2.0**-60),
    )
    g_fp = F.floor(-F.log(-F.log(u)) * F.lit(float(_SCALE))).cast("long")
    scored = (
        w_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "w_fp",
            (F.col("w_fp") + g_fp).alias("score_fp"),
        )
    )
    return scored.orderBy(
        F.col("score_fp").desc(), F.col("doc_id").asc()
    ).limit(DSIR_K)


ORACLE["sample_dsir"] = f"""
with feat as (
  select doc_id, lang,
         ('0x' || substr(md5(g), 1, 8))::bigint % {DSIR_B} f
  from (select doc_id, lang, unnest({sql_bigrams(sql_toks('text'))}) g
        from documents)),
raw as (select f, count(*) cr from feat group by f),
tgt as (select f, count(*) ct from feat where lang = 'en' group by f),
totals as (
  select (select cast(sum(cr) as bigint) from raw) tot_r,
         (select cast(sum(ct) as bigint) from tgt) tot_t),
weights as (
  select raw.f,
         cast(floor((ln(cast(coalesce(ct, 0) + 1 as double)
                        / cast(tot_t + {DSIR_B} as double))
                     - ln(cast(cr + 1 as double)
                          / cast(tot_r + {DSIR_B} as double)))
                    * {float(_SCALE)}) as bigint) term
  from raw left join tgt on raw.f = tgt.f cross join totals),
w_doc as (
  select doc_id, cast(sum(c * term) as bigint) w_fp
  from (select doc_id, f, count(*) c from feat group by 1, 2) df
  join weights using (f)
  group by doc_id),
scored as (
  select w.doc_id, d.lang, w.w_fp,
         w.w_fp + cast(floor(-ln(-ln(greatest(
             cast(('0x' || substr(md5('dsir' || cast(d.doc_id as varchar)),
                                  1, 15))::bigint as double)
             / {float(1 << 60)}, {2.0**-60}))) * {float(_SCALE)}) as bigint)
           score_fp
  from w_doc w join documents d on w.doc_id = d.doc_id)
select doc_id, lang, w_fp, score_fp
from scored
order by score_fp desc, doc_id asc
limit {DSIR_K}
"""


# ----------------------------------------------------- corpus_ppl_buckets
@_q("corpus_ppl_buckets")
def corpus_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document with the corpus-self-trained bigram LM
    (text.text_lm_score — the KenLM stand-in) and split each language
    into head/middle/tail terciles by fluency; report the per-(lang,
    bucket) rollup a curation pipeline keys its sampling rates on.
    Bucket rule on the ASCENDING rank rn of n docs: rn·3 ≤ n → tail
    (least fluent third), rn·3 ≤ 2n → middle, else head — integer
    boundaries, no percentile float.

    Determinism: avg_prob is text_lm_score's bit-identical decimal
    -summed score; the rank key (avg_prob, doc_id) is total; bucket
    boundaries are exact integer comparisons; the rollup is counts,
    integer sums, and min/max over identical doubles.

    Plan (100 TB): the LM scores are the DISK-PERSISTED bigram-LM
    artifact (text._lm_artifact — re-executing text_lm_score's whole
    lineage per call cost 1.76s of a 3.29s wall; both queries serve
    the same build-once frame); the terciles ride ranks.global_ranks(keys=[lang]) — the
    two-phase distributed rank, not a lang-partitioned corpus window
    — plus one languages-sized count frame broadcast back; the output
    is |langs|·3 rows."""
    from duckdb_wasm_spark.operators.text import QUERIES as TEXT_Q

    lm = TEXT_Q["text_lm_score"](spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = lm.join(d, "doc_id").select(
        "doc_id", "lang", "n_bigrams", "avg_prob"
    )
    ranked = global_ranks(j, cols=["avg_prob", "doc_id"], keys=["lang"])
    # per-lang counts come from the RANK OUTPUT (localCheckpoint'd
    # inside global_ranks), not from j — a second j consumer would
    # re-run the whole LM lineage (measured 7.4s → 5.2s warm at sf0.1)
    n_lang = ranked.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    bucket = (
        F.when(F.col("rn") * 3 <= F.col("n"), "tail")
        .when(F.col("rn") * 3 <= 2 * F.col("n"), "middle")
        .otherwise("head")
    )
    return (
        ranked.join(F.broadcast(n_lang), "lang")
        .select("lang", bucket.alias("bucket"), "n_bigrams", "avg_prob")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("n_bigrams"),
            F.min("avg_prob").alias("min_prob"),
            F.max("avg_prob").alias("max_prob"),
        )
    )


def _lm_sql() -> str:
    from duckdb_wasm_spark.operators.text import ORACLE as TEXT_O

    return TEXT_O["text_lm_score"]


ORACLE["corpus_ppl_buckets"] = f"""
with lm as (select * from ({_lm_sql()})),
j as (
  select l.doc_id, d.lang, l.n_bigrams, l.avg_prob
  from lm l join documents d on l.doc_id = d.doc_id),
r as (
  select *,
         row_number() over (partition by lang
                            order by avg_prob asc, doc_id asc) rn,
         count(*) over (partition by lang) n
  from j),
b as (
  select lang,
         case when rn * 3 <= n then 'tail'
              when rn * 3 <= 2 * n then 'middle'
              else 'head' end bucket,
         n_bigrams, avg_prob
  from r)
select lang, bucket, count(*) n_docs,
       cast(sum(n_bigrams) as bigint) n_bigrams,
       min(avg_prob) min_prob, max(avg_prob) max_prob
from b group by lang, bucket
"""
