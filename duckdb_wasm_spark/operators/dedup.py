"""Near-duplicate detection over the `documents` / `embeddings` tables.

Every query here is candidate generation, then an exact verify, then,
for the cluster queries, connected components:

  exact and set overlap  dedup_exact (md5 of normalized text),
                         dedup_ngram_jaccard (exact trigram-shingle
                         Jaccard, the ground truth the LSH variants
                         approximate) and dedup_ngram_jaccard_capped,
                         dedup_jaccard_prefix, dedup_containment,
                         dedup_source_matrix, dedup_edit_verify,
                         dedup_skew_stress
  MinHash LSH            dedup_minhash, dedup_clusters,
                         dedup_lsh_tuning, dedup_incremental_ingest
  SimHash                dedup_simhash
  hyperplane LSH         dedup_embedding_lsh, dedup_embedding_clusters,
                         decontaminate_semantic, embed_knn_graph,
                         knn_graph_recall, lsh_candidate_growth
  exact substrings       dedup_substring, dedup_substring_capped,
                         dedup_span_removal, dedup_winnowing,
                         dedup_winnowing_capped

Each step is one helper, and the oracle texts build from its SQL twin:
  _minhash_sigs, _band_key      MinHash signature and band bucket key
                                (_sql_sigs, _sql_band_rows,
                                _sql_band_cand)
  _posting_pairs                posting-list pair expansion, for
                                _posting_pair_overlaps (set sizes ride
                                the posting struct) and dedup_substring
                                (_sql_pair_overlaps)
  _array_jaccard                exact Jaccard of two shingle arrays
                                (_sql_list_jaccard, _sql_thresholded)
  _probe_stream, _bucket_side,  hyperplane multiprobe bucket join
  _probe_pairs                  (_sql_probe_join)
  _emb_side, _cosine            pair cosine over precomputed norms
                                (_sql_cos)
  _symmetric_edges,             clustering (_sql_closure)
  connected_components
dedup_winnowing keeps its own pair expansion: its postings are bare doc
ids, not structs, so sharing _posting_pairs would need a branch on that.

Cross-engine determinism: hash functions are md5-derived (both engines
hash utf-8 bytes identically); float reductions are left folds with a 0.0
init (Spark `aggregate` ≡ DuckDB `list_reduce`, bit-identical); signature
and band arithmetic is pure integer. So even the "randomized" LSH
operators have exact DuckDB oracles — the oracle reproduces the same
approximation, and the EXACT variants (`dedup_exact`,
`dedup_ngram_jaccard`) pin the ground truth.

Scale notes (100 TB):
  - Nothing here is an all-pairs cross join. Candidate generation is
    always an equi-join on a derived key (gram, band bucket) — an
    inverted-index / LSH-bucket shuffle whose cost follows the number of
    true collisions, not n².
  - Posting lists carry the skew hazard: a stop-gram shared by millions
    of docs makes one posting array, and its pair expansion,
    quadratic. The capped variants (dedup_ngram_jaccard_capped,
    dedup_substring_capped, dedup_winnowing_capped) drop keys above a
    document-frequency cap before pair expansion. The cap changes the
    measure, so each registers its own oracle, and the uncapped
    queries keep the pure definitions.
  - Band/bucket parameters are per-operator arguments; larger corpora
    want more bits per band (fewer random collisions per bucket).

Reference parity note: the reference engine (duckdb-wasm) has no dedup
surface; these are the LLM-pipeline extensions (SURVEY.md §7 phase 5).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_wasm_spark.operators._text import (
    ngrams,
    ngrams_all,
    sql_gram_concat,
    sql_ngrams,
    sql_ngrams_all,
    sql_tok_hash60,
    sql_toks,
    tok_hash60,
    toks,
)
from duckdb_wasm_spark.plans._util import register_texts, registrar
from duckdb_wasm_spark.tables import load_table

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


_q = registrar(QUERIES)


# ----------------------------------------------------------- dedup_exact
# Exact dedup: group by md5(lower(trim(text))), keep the smallest
# doc_id per group. One hash-shuffle on the fingerprint — the canonical
# distributed exact dedup.
ORACLE["dedup_exact"] = """
select md5(lower(trim(text))) fp,
       min(doc_id) keeper_doc_id,
       count(*) n_copies
from documents
group by 1
"""


# -------------------------------------------------- dedup_ngram_jaccard
JACCARD_THRESHOLD = 0.2


def _gram_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, grams): materialized distinct trigram-shingle array.
    Tokens are materialized first so the shingle builder's element_at
    references a column, not a re-evaluated split expression."""
    return docs.withColumn("_t", toks()).select(
        "doc_id", ngrams(F.col("_t"), 3).alias("grams")
    )


def _gram_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, gram) exploded distinct trigram shingles."""
    return _gram_arrays(docs).select(
        "doc_id", F.explode(F.col("grams")).alias("gram")
    )


def _posting_pairs(field: str, a: str, b: str):
    """Struct `p` = (doc_a, a, doc_b, b), exploded: every pair of
    postings x, y with x.doc_id < y.doc_id in a posting array `ds` of
    (doc_id, field) structs, `a` and `b` their `field`s. The pairs
    expand JVM-side from the array (filter/transform/flatten in
    codegen), so docs that share no key are never paired."""
    return F.explode(
        F.expr(
            "flatten(transform(ds, x -> "
            "  transform(filter(ds, y -> x.doc_id < y.doc_id), "
            f"            y -> struct(x.doc_id as doc_a, x.{field} as {a},"
            f"                        y.doc_id as doc_b, y.{field} as {b}"
            "))))"
        )
    ).alias("p")


def _posting_pair_overlaps(arrays: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_a, n_b, n_common) over the distinct trigram
    shingle arrays `arrays` = (doc_id, grams, n) of the gram index, via
    inverted-index posting lists: |set| rides along inside the posting
    struct (the trigram array is already distinct) so no separate size
    aggregate. Shared by dedup_ngram_jaccard (uncapped) and
    dedup_containment — one pipeline, two measures."""
    grams = arrays.select(
        "doc_id",
        "n",
        F.explode("grams").alias("gram"),
    )
    posts = grams.groupBy("gram").agg(
        F.collect_list(F.struct("doc_id", "n")).alias("ds")
    )
    pairs = posts.select(_posting_pairs("n", "n_a", "n_b")).select(
        "p.doc_a", "p.doc_b", "p.n_a", "p.n_b"
    )
    return pairs.groupBy("doc_a", "doc_b", "n_a", "n_b").agg(
        F.count(F.lit(1)).alias("n_common")
    )


@_q("dedup_ngram_jaccard")
def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, max_df: int | None = None
) -> DataFrame:
    """Exact trigram-shingle Jaccard near-dup pairs (ground truth for the
    LSH variants). Inverted-index POSTING LISTS: one shingle pipeline
    pass, one shuffle by gram, then the per-gram candidate pairs are
    expanded JVM-side from the posting array — pairs that share no
    shingle are never materialized. An exploded self-join ran the
    expensive tokenize→shingle→explode map side TWICE (Catalyst cannot
    ReuseExchange across the two differently-aliased branches) and
    shuffled the exploded grams twice; posting lists measured 2.5s vs
    4.1s at sf0.1 (and beat the DuckDB oracle's 2.8s), identical
    results.

    max_df: skew guard for scale — drop shingles appearing in more than
    max_df documents (a stop-gram shared by millions of docs otherwise
    makes one posting array, and its pair expansion, quadratic-huge;
    the cap bounds every key's fan-out at max_df²). Off by default so
    the registered query stays the pure Jaccard definition the oracle
    states (bounded-df corpora only — the capped variant is the 100 TB
    entry point); candidates lost to the cap can only REMOVE result
    pairs whose overlap rode solely on stop-grams. The capped path
    keeps the count-over-window + exploded-join formulation: its
    post-filter size aggregate forces a second consumer of the
    filtered grams, and measured at sf0.1 the window form (2.33s)
    beats posting lists with recompute (2.96s) or with a checkpoint
    (2.73s)."""
    if max_df is None:
        # full corpus: the shingle arrays come from the persisted gram
        # index (one tokenize ever, shared with the other consumers)
        inter = _posting_pair_overlaps(
            _gram_index_memo(spark, sf_dir)["arrays"]
        )
    else:
        # Set sizes CANNOT ride along here: the measure is Jaccard over
        # the CAPPED shingle sets (the registered capped oracle sizes
        # post-filter sets), so |set| must be counted AFTER the df
        # filter — a pre-filter F.size("grams") silently switches the
        # denominator to uncapped sizes whenever the cap binds. Sizes
        # come from a partial-combining groupBy (one tiny row per doc
        # after map-side combine) joined onto the pair frame. The
        # window df filter leaves the grams hash-partitioned by gram —
        # the partitioning the self-join needs; a stop-gram's rows land
        # on one sort partition only to be counted and dropped
        # (spill-safe, gone before the join).
        from pyspark.sql.window import Window

        grams = _gram_sets(load_table(spark, sf_dir, "documents"))
        grams = (
            grams.withColumn(
                "_df", F.count(F.lit(1)).over(Window.partitionBy("gram"))
            )
            .where(F.col("_df") <= max_df)
            .drop("_df")
        )
        sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        a = grams.select(F.col("doc_id").alias("doc_a"), "gram")
        b = grams.select(F.col("doc_id").alias("doc_b"), "gram")
        inter = (
            a.join(b, "gram")
            .where(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
            .join(
                sizes.select(
                    F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")
                ),
                "doc_a",
            )
            .join(
                sizes.select(
                    F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")
                ),
                "doc_b",
            )
        )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def _sql_gram_sets(source: str) -> str:
    """Oracle twin of _gram_sets over `source`: distinct (doc_id, gram)."""
    return f"""
  select distinct doc_id, g gram
  from (select doc_id,
               unnest({sql_ngrams(sql_toks('text'), 3)}) g
        from {source})"""


# the `documents` gram sets as the oracle texts embed them (the CTE
# closes on a line of its own)
_SQL_GRAM_SETS = f"{_sql_gram_sets('documents')}\n"


def _sql_pair_overlaps(grams: str = f"grams as ({_SQL_GRAM_SETS})") -> str:
    """Shared oracle prefix: the `grams` CTE(s), then per-doc set sizes
    and pairwise intersection counts (consumed by jaccard AND
    containment)."""
    return f"""
with {grams},
sizes as (select doc_id, count(*) n from grams group by 1),
inter as (
  select a.doc_id doc_a, b.doc_id doc_b, count(*) n_common
  from grams a join grams b on a.gram = b.gram and a.doc_id < b.doc_id
  group by 1, 2)"""


_SQL_PAIR_OVERLAPS = _sql_pair_overlaps()
_SQL_JACCARD = "cast(n_common as double) / (sa.n + sb.n - n_common)"


def _sql_thresholded(cols: str) -> str:
    """`select cols` over `inter` joined to both set sizes, the pairs
    kept at Jaccard >= JACCARD_THRESHOLD."""
    return f"""
select {cols}
from inter
join sizes sa on doc_a = sa.doc_id
join sizes sb on doc_b = sb.doc_id
where {_SQL_JACCARD}
      >= {JACCARD_THRESHOLD}"""


# oracle twin of dedup_ngram_jaccard's tail
_SQL_JACCARD_PAIRS = _sql_thresholded(
    f"doc_a, doc_b,\n       {_SQL_JACCARD} jaccard"
)

ORACLE["dedup_ngram_jaccard"] = f"{_SQL_PAIR_OVERLAPS}{_SQL_JACCARD_PAIRS}\n"


NGRAM_MAX_DF = 100


@_q("dedup_ngram_jaccard_capped")
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RECOMMENDED near-dup entry point at scale: identical
    inverted-index Jaccard with the df skew cap ON (shingles in more
    than NGRAM_MAX_DF docs are dropped before the self-join, bounding
    every join key's fan-out at NGRAM_MAX_DF²). The cap changes the
    measure — Jaccard over capped shingle sets — so this variant is
    registered with its own oracle stating exactly that semantics;
    the uncapped query remains the pure-Jaccard ground truth."""
    return dedup_ngram_jaccard(spark, sf_dir, max_df=NGRAM_MAX_DF)


def capped_oracle_sql(max_df: int) -> str:
    """Capped-Jaccard oracle with the df cap as a parameter — the
    registered query binds NGRAM_MAX_DF; tests bind a tiny cap so the
    filter actually fires at sf0.001 (max trigram df there is ~9, far
    below the production cap, so only a small cap exercises the
    post-filter set-size semantics)."""
    grams = f"""grams0 as ({_SQL_GRAM_SETS}),
rare as (select gram from grams0 group by gram
         having count(*) <= {max_df}),
grams as (select g0.doc_id, g0.gram from grams0 g0 join rare using (gram))"""
    return f"{_sql_pair_overlaps(grams)}{_SQL_JACCARD_PAIRS}\n"


ORACLE["dedup_ngram_jaccard_capped"] = capped_oracle_sql(NGRAM_MAX_DF)


# ------------------------------------------------------ dedup_skew_stress
# boilerplate injected into SKEW_K of every SKEW_MOD docs (30%) — long
# enough to shingle into many shared trigrams, the classic template/
# footer skew that makes uncapped posting lists quadratic
SKEW_BOILER = (
    " subscribe to our newsletter for updates "
    "all rights reserved terms of service apply "
    "click here to unsubscribe from this mailing list"
)
SKEW_MOD = 10
SKEW_K = 3


@_q("dedup_skew_stress")
def dedup_skew_stress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GATED skewed-key stress for the capped dedup family: the df-cap's
    docstrings promise bounded fan-out under template skew, and this
    query EXECUTES that scenario. Here a shared boilerplate string is
    appended to a deterministic 30% of the documents (doc_id % 10 < 3
    — the classic footer/newsletter template), so its trigrams' raw
    document frequency is ~0.3·N —
    far over NGRAM_MAX_DF at every gated SF and quadratic if joined.
    The emitted row PROVES the cap held: max kept df ≤ the cap (while
    max raw df shows the skew was real), the capped-out gram count,
    and the surviving candidate-pair count whose per-key fan-out is
    bounded at cap² by construction.

    Plan: ONE shingle pass over the skewed corpus — the exploded gram
    frame is localCheckpoint'd because FOUR plan branches read
    it (the df aggregate feeding gram_stats, the cap filter, and both
    sides of the candidate self-join): un-materialized, each branch
    re-ran the synthetic-concat + tokenize + explode subtree (no
    reusable exchange sits below the df aggregate), ~4× the corpus
    pass for one measured pass's information. Then a gram-df
    aggregate, the capped equi-join, and four bounded aggregates
    (1-row frames) scalar-crossed into the single output row —
    BNLJ-allowlisted, never the corpus. Pytest additionally pins
    max_df_kept ≤ NGRAM_MAX_DF < max_df_raw."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % SKEW_MOD < SKEW_K,
            F.concat(F.col("text"), F.lit(SKEW_BOILER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    doc_stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("doc_id") % SKEW_MOD < SKEW_K).cast("long")).alias(
            "n_boiler_docs"
        ),
    )
    grams = _gram_sets(docs).localCheckpoint()
    dfc = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    gram_stats = dfc.agg(
        F.count(F.lit(1)).alias("n_grams_total"),
        F.sum((F.col("df") > NGRAM_MAX_DF).cast("long")).alias(
            "n_grams_capped_out"
        ),
        F.max("df").alias("max_df_raw"),
        F.max(F.when(F.col("df") <= NGRAM_MAX_DF, F.col("df"))).alias(
            "max_df_kept"
        ),
    )
    kept = grams.join(
        dfc.where(F.col("df") <= NGRAM_MAX_DF).select("gram"), "gram"
    )
    a = kept.select(F.col("doc_id").alias("doc_a"), "gram")
    b = kept.select(F.col("doc_id").alias("doc_b"), "gram")
    pair_stats = (
        a.join(b, "gram")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
    )
    return doc_stats.crossJoin(gram_stats).crossJoin(pair_stats).select(
        "n_docs",
        "n_boiler_docs",
        "n_grams_total",
        "n_grams_capped_out",
        "max_df_raw",
        "max_df_kept",
        "n_candidate_pairs",
    )


ORACLE["dedup_skew_stress"] = f"""
with sdocs as (
  select doc_id,
         case when doc_id % {SKEW_MOD} < {SKEW_K}
              then text || '{SKEW_BOILER}'
              else text end as "text"
  from documents),
grams as ({_sql_gram_sets('sdocs')}),
dfc as (select gram, cast(count(*) as bigint) df from grams group by 1),
doc_stats as (
  select cast(count(*) as bigint) n_docs,
         cast(sum(case when doc_id % {SKEW_MOD} < {SKEW_K}
                       then 1 else 0 end) as bigint) n_boiler_docs
  from sdocs),
gram_stats as (
  select cast(count(*) as bigint) n_grams_total,
         cast(sum(case when df > {NGRAM_MAX_DF} then 1 else 0 end)
              as bigint) n_grams_capped_out,
         max(df) max_df_raw,
         max(case when df <= {NGRAM_MAX_DF} then df end) max_df_kept
  from dfc),
kept as (select g.doc_id, g.gram
         from grams g join dfc using (gram)
         where dfc.df <= {NGRAM_MAX_DF}),
pair_stats as (
  select cast(count(*) as bigint) n_candidate_pairs
  from (select distinct a.doc_id doc_a, b.doc_id doc_b
        from kept a join kept b
          on a.gram = b.gram and a.doc_id < b.doc_id))
select n_docs, n_boiler_docs, n_grams_total, n_grams_capped_out,
       max_df_raw, max_df_kept, n_candidate_pairs
from doc_stats cross join gram_stats cross join pair_stats
"""


# --------------------------------------------------------- dedup_minhash
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
MH_PRIME = 2147483647  # 2^31 - 1; Carter-Wegman universal family mod p


def _mh_a(j: int) -> int:
    return 2 * j + 1  # odd, in [1, p-1]


def _mh_b(j: int) -> int:
    return 7919 * j + 13


def _minhash_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, s0..s15): per-doc MinHash signature. Each shingle is
    md5-hashed ONCE to a 60-bit int; the 16 hash functions are the
    Carter-Wegman family h_j(g) = (a_j·(g mod p) + b_j) mod p — pure
    codegen integer arithmetic instead of 16 interpreted md5 array
    folds (products < 2^62, no overflow in either engine).

    Plan shape: shingles exploded once, 16 min() map-side-combining
    aggregates over a single shuffle by doc_id."""
    g = _gram_sets(docs).withColumn(
        "gh", tok_hash60(F.col("gram")) % MH_PRIME
    )
    # F.expr strings, not Column chains — one JVM parse per hash fn
    # instead of ~5 py4j round trips each (see _simhash_bands note)
    return g.groupBy("doc_id").agg(
        *[
            F.expr(
                f"min(({_mh_a(j)}L * gh + {_mh_b(j)}L) % {MH_PRIME}L)"
            ).alias(f"s{j}")
            for j in range(N_HASHES)
        ]
    )


def _minhash_sigs_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISK-PERSISTED full-corpus MinHash signatures: the 16-min
    aggregate over the shingle hashes is the ingest-time signature
    build a MinHash service runs once per corpus snapshot, where
    dedup_minhash and dedup_lsh_tuning each re-ran it per call (~3.9s
    of each wall at sf0.1). One frame "sigs" = (doc_id, s0..s15),
    reloaded raw (consumers explode it to band keys and shuffle
    anyway). The pipeline compositions semi-join it to their
    survivors; incremental ingest computes signatures live over its
    own two subsets."""
    from duckdb_wasm_spark.artifacts import persisted_frames

    def _build() -> dict[str, DataFrame]:
        return {
            "sigs": _minhash_sigs(load_table(spark, sf_dir, "documents"))
        }

    return persisted_frames(
        spark,
        "minhash_sigs",
        sf_dir,
        ("documents",),
        _build,
        layout={"sigs": "raw"},
    )["sigs"]


def _band_key(b: int, rpb: int = ROWS_PER_BAND):
    """Band `b`'s bucket key with `rpb` rows per band: the md5 of its
    signature values, "|"-joined."""
    return F.md5(
        F.concat_ws(
            "|",
            *[F.col(f"s{b * rpb + r}").cast("string") for r in range(rpb)],
        )
    ).alias("key")


def _minhash_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, key): one row per band of each signature."""
    keys = F.array(
        *[
            F.struct(F.lit(b).alias("band"), _band_key(b))
            for b in range(N_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(keys).alias("bk")).select(
        "doc_id", "bk.band", "bk.key"
    )


def _array_jaccard(a: str, b: str):
    """Exact Jaccard of two distinct-shingle array columns."""
    inter = F.size(F.array_intersect(F.col(a), F.col(b)))
    return inter.cast("double") / (F.size(a) + F.size(b) - inter)


@_q("dedup_minhash")
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH near-dup: signature → band keys → bucket join →
    exact-Jaccard verify. Candidate generation is an equi-join on
    (band, key): cost scales with real collisions, never all pairs.

    Plan shape: the band-bucket join shuffles only (doc_id, band, key) —
    the shingle arrays are joined back per candidate doc afterwards, so
    the wide payload never rides the bucket shuffle. Both per-doc
    inputs are ingest artifacts: signatures from _minhash_sigs_memo,
    shingle arrays from the shared gram index."""
    return minhash_pairs(
        _minhash_sigs_memo(spark, sf_dir),
        _gram_index_memo(spark, sf_dir)["arrays"].select("doc_id", "grams"),
    )


def minhash_pairs(sigs: DataFrame, gram_sets: DataFrame) -> DataFrame:
    """dedup_minhash's band join and verify over signatures `sigs` =
    (doc_id, s0..s15) and shingle arrays `gram_sets` = (doc_id, grams),
    so the pipeline compositions run the identical plan on the
    quality survivors."""
    bands = _minhash_bands(sigs)
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "key")
    cand = (
        a.join(b, ["band", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .join(
            gram_sets.select(
                F.col("doc_id").alias("doc_a"), F.col("grams").alias("grams_a")
            ),
            "doc_a",
        )
        .join(
            gram_sets.select(
                F.col("doc_id").alias("doc_b"), F.col("grams").alias("grams_b")
            ),
            "doc_b",
        )
    )
    return (
        cand.withColumn("jaccard", _array_jaccard("grams_a", "grams_b"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


# the oracle twin of _minhash_sigs' 16-min aggregate over a `gh` CTE
_SQL_MH_MINS = ",\n       ".join(
    f"min(({_mh_a(j)} * gh + {_mh_b(j)}) % {MH_PRIME}) s{j}"
    for j in range(N_HASHES)
)


def _sql_sigs(src: str, g: str, k: str = "") -> str:
    """Oracle twin of _minhash_sigs as CTEs gh{k} (each shingle `g` of
    `src` hashed mod p) and sigs{k} (the 16-min signature)."""
    return f"""gh{k} as (
  select doc_id, {sql_tok_hash60(g)} % {MH_PRIME} gh
  from {src}),
sigs{k} as (
  select doc_id,
       {_SQL_MH_MINS}
  from gh{k} group by doc_id)"""


def _sql_band_rows(
    sigs: str, nb: int = N_BANDS, rpb: int = ROWS_PER_BAND
) -> str:
    """Oracle twin of _minhash_bands over the CTE `sigs`: one
    union-all branch per band, the bucket key as `bkey`."""
    rows = []
    for b in range(nb):
        key = " || '|' || ".join(
            f"cast(s{b * rpb + r} as varchar)" for r in range(rpb)
        )
        rows.append(f"  select doc_id, {b} band, md5({key}) bkey from {sigs}")
    return "\n  union all\n".join(rows)


def _sql_band_cand(
    t: str = "", nb: int = N_BANDS, rpb: int = ROWS_PER_BAND
) -> str:
    """CTEs bands{t} (the band rows of `sigs`) and cand{t} (the
    distinct doc pairs sharing a bucket): the band join of minhash_pairs
    as text."""
    return f"""bands{t} as (
{_sql_band_rows("sigs", nb, rpb)}),
cand{t} as (
  select distinct a.doc_id doc_a, b.doc_id doc_b
  from bands{t} a join bands{t} b
    on a.band = b.band and a.bkey = b.bkey and a.doc_id < b.doc_id)"""


def _sql_list_jaccard(a: str, b: str) -> str:
    """Oracle twin of _array_jaccard."""
    return f"""cast(len(list_intersect({a}, {b})) as double)
         / (len({a}) + len({b})
            - len(list_intersect({a}, {b})))"""


def _minhash_sql_parts(source: str = "documents") -> tuple[str, str]:
    """(ctes, final select) of the MinHash pair oracle. source: the
    table/CTE the doc frame reads from — "documents" for the registered
    queries, a filtered CTE name for pipeline compositions (the chain
    text is otherwise identical)."""
    return f"""
with docs as (
  select doc_id, {sql_ngrams(sql_toks('text'), 3)} grams from {source}),
{_sql_sigs("(select doc_id, unnest(grams) g from docs)", "g")},
{_sql_band_cand()},
candg as (
  select doc_a, doc_b, ga.grams grams_a, gb.grams grams_b
  from cand
  join docs ga on doc_a = ga.doc_id
  join docs gb on doc_b = gb.doc_id)""", f"""
select doc_a, doc_b,
       {_sql_list_jaccard("grams_a", "grams_b")} jaccard
from candg
where {_sql_list_jaccard("grams_a", "grams_b")}
      >= {JACCARD_THRESHOLD}
"""


ORACLE["dedup_minhash"] = "".join(_minhash_sql_parts())


# -------------------------------------------------------- dedup_clusters
CC_MAX_ITERS = 15


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iters: int = CC_MAX_ITERS,
) -> DataFrame:
    """Distributed connected components: (doc_id) nodes + symmetric
    (src, dst) edges → (doc_id, cluster_id = min reachable doc_id).

    Each round does min-label propagation over edges (one edge join +
    one min-aggregate) THEN a pointer-jump (label ← label-of-label, one
    self-join) — the path-compression half of the large-star/small-star
    family, so an L-hop chain converges in O(log L) rounds instead of
    O(L) (a 20-hop chain would otherwise exhaust CC_MAX_ITERS). Labels
    are monotone non-increasing and bounded by the component minimum,
    so the label sum strictly decreases until fixpoint — one scalar
    action per round is the convergence test. Every round
    localCheckpoints so lineage stays flat and each round's shuffles
    are O(edges), not O(edges · round).

    If max_iters rounds pass without reaching the fixpoint the result
    is NOT a partition into components — raise rather than hand
    partially-merged clusters to a dedup pipeline that would then
    delete the wrong documents.
    """
    # Per-round action fold: the checkpoint is LAZY and the
    # convergence-sum action right after it materializes it — the sum
    # rides the same job that writes the checkpoint, so each round pays
    # ONE job instead of an eager-checkpoint job plus a sum job. Only
    # the per-job scheduling floor (~0.2s/round at local scale) goes.
    labels = nodes.select("doc_id", F.col("doc_id").alias("cluster_id"))
    labels = labels.localCheckpoint(eager=False)
    prev_sum = labels.agg(F.sum("cluster_id")).first()[0]
    for _ in range(max_iters):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("src"),
                    F.col("cluster_id").alias("src_label"),
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.min("src_label").alias("nbr_label"))
        )
        propagated = (
            labels.join(nbr_min, labels["doc_id"] == nbr_min["dst"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_label"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
        )
        jump = propagated.select(
            F.col("doc_id").alias("j_doc"),
            F.col("cluster_id").alias("j_label"),
        )
        labels = (
            propagated.join(
                jump, propagated["cluster_id"] == jump["j_doc"], "left"
            )
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("j_label"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(F.sum("cluster_id")).first()[0]
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds "
        "— component diameter exceeds the iteration budget; raise "
        "max_iters (rounds needed ≈ log2(diameter) with pointer "
        "jumping)"
    )


def _symmetric_edges(pairs: DataFrame) -> DataFrame:
    """(src, dst): both directions of every pair of the two-column
    frame `pairs`, the edge list connected_components takes. The
    checkpoint is lazy: it materializes inside CC round 1's
    convergence action instead of a standalone job."""
    a, b = pairs.columns
    return (
        pairs.union(pairs.select(F.col(b).alias(a), F.col(a).alias(b)))
        .toDF("src", "dst")
        .localCheckpoint(eager=False)
    )


def _cc_labels_memo(spark, sf_dir, kind, sources, build_nodes_edges):
    """DISK-PERSISTED connected-component labels: a cluster-assignment
    table is the canonical thing a production dedup pipeline
    MATERIALIZES — the CC loop runs once per corpus snapshot, every
    consumer reads the labels. The pointer-jumping loop itself stays
    live-executed by the pipeline composition gates
    (pipeline_near_dedup_corpus, pipeline_canonical_best run it over
    their filtered node sets) and by the reload ≡ rebuild parity
    tests."""
    from duckdb_wasm_spark.artifacts import persisted_frames

    def _build():
        nodes, edges = build_nodes_edges()
        return {"labels": connected_components(nodes, edges)}

    return persisted_frames(spark, kind, sf_dir, sources, _build)["labels"]


def _minhash_cc_nodes_edges(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    return docs, _symmetric_edges(pairs)


@_q("dedup_clusters")
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup pairs, with
    canonical-document selection — the last stage of a dedup pipeline:
    every document gets a cluster_id (the min doc_id reachable through
    near-dup edges) and is_keeper marks the one document per cluster
    that survives; singletons keep themselves.

    Spark side: connected_components() — min-label propagation with
    pointer jumping (see its docstring); converges in O(log diameter)
    rounds and RAISES if the budget runs out rather than returning
    partially-merged clusters. At 100 TB the same loop holds (edges
    shuffle by src, labels by doc_id). The finished labels are a
    DISK-PERSISTED artifact (see _cc_labels_memo): the loop runs once
    per corpus snapshot, every session serves the assignment table.

    Oracle: recursive-CTE transitive closure over the identical pair
    SQL, min(reachable) per doc — exponentially more work than the
    Spark form but exact and tiny at test SF."""
    labels = _cc_labels_memo(
        spark,
        sf_dir,
        "cc_labels_minhash",
        ("documents",),
        lambda: _minhash_cc_nodes_edges(spark, sf_dir),
    )
    return labels.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )


def _sql_closure(
    parts: tuple[str, str],
    a: str,
    b: str,
    node: str,
    nodes: str,
    head: str = "",
) -> str:
    """`with recursive` oracle text up to reach(a, b): the `head` CTEs,
    the pair oracle `parts` (ctes, final select) as `pairs`, both
    directions of each (a, b) pair as `edges`, and reach(a, b) — every
    `node` of `nodes` with each node reachable from it."""
    ctes, pair_select = parts
    ctes = ctes.lstrip()
    assert ctes.startswith("with ")
    return f"""
with recursive {head}{ctes[len("with "):]},
pairs as ({pair_select}),
edges as (
  select {a} src, {b} dst from pairs
  union
  select {b} src, {a} dst from pairs),
reach(a, b) as (
  select {node}, {node} from {nodes}
  union
  select r.a, e.dst from reach r join edges e on r.b = e.src)"""


def _sql_clusters(
    parts: tuple[str, str], a: str, b: str, node: str, nodes: str
) -> str:
    """Oracle of a cluster query: min(reachable) per node."""
    return _sql_closure(parts, a, b, node, nodes) + f"""
select a {node}, min(b) cluster_id, a = min(b) is_keeper
from reach
group by a
"""


ORACLE["dedup_clusters"] = _sql_clusters(
    _minhash_sql_parts(), "doc_a", "doc_b", "doc_id", "documents"
)


# --------------------------------------------------------- dedup_simhash
SIM_BITS = 60
SIM_BANDS = 4
SIM_BAND_BITS = SIM_BITS // SIM_BANDS  # 15
HAMMING_MAX = 10


def _simhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash, band, band_val): 60-bit SimHash over shingle
    hash60s, split into 4 15-bit bands. Pure integer arithmetic — exact
    in both engines.

    Plan shape: shingle hashes are EXPLODED and the 60 bit votes are 60
    map-side-combining SUM aggregates over one shuffle by doc_id —
    whole-stage-codegen hash-agg instead of 60 interpreted per-row array
    folds (integer sums are order-insensitive, so the result is
    unchanged)."""
    # All generated expressions are F.expr STRINGS, not Column-builder
    # chains: the 60 vote sums + 64 band/simhash terms cost ~500 py4j
    # round trips as Columns (~1.5s of plan-build wall per call,
    # measured) vs one JVM parse each as strings — identical trees.
    exploded = _gram_sets(docs).select(
        "doc_id", tok_hash60(F.col("gram")).alias("h")
    )
    votes = exploded.groupBy("doc_id").agg(
        *[
            # majority-vote accumulator for bit b: +1 if set else -1
            F.expr(f"sum((shiftright(h, {b}) & 1) * 2 - 1)").alias(f"v{b}")
            for b in range(SIM_BITS)
        ]
    )

    def bit_sql(b: int) -> str:
        # majority vote of bit b across shingle hashes: 1 if >= 0 votes
        return f"(case when v{b} >= 0 then 1L else 0L end)"

    band_vals = [
        F.expr(
            " + ".join(
                f"{bit_sql(band * SIM_BAND_BITS + i)} * {1 << i}L"
                for i in range(SIM_BAND_BITS)
            )
        ).alias(f"band_{band}")
        for band in range(SIM_BANDS)
    ]
    d = votes.select("doc_id", *band_vals)
    simhash = F.expr(
        " + ".join(
            f"band_{band} * {1 << (band * SIM_BAND_BITS)}L"
            for band in range(SIM_BANDS)
        )
    ).alias("simhash")
    bands = F.expr(
        "array("
        + ", ".join(
            f"struct({band} as band, band_{band} as band_val)"
            for band in range(SIM_BANDS)
        )
        + ")"
    )
    return d.select("doc_id", simhash, F.explode(bands).alias("bk")).select(
        "doc_id", "simhash", "bk.band", "bk.band_val"
    )


@_q("dedup_simhash")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: banded bucket join on 15-bit sub-signatures, then
    Hamming-distance verify on the full 60-bit signature. A pair within
    Hamming distance 3 of 60 is guaranteed caught (pigeonhole over 4
    bands); this run uses a looser HAMMING_MAX so the verify matters.

    The banded signature frame is localCheckpoint'd — both sides
    of the bucket self-join read it, and un-materialized each side
    re-ran the tokenize + 60-bit-hash + bit-vote signature build
    (the expensive half of the query) from the scan."""
    docs = load_table(spark, sf_dir, "documents")
    bands = _simhash_bands(docs).localCheckpoint()
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"),
        "band", "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"),
        "band", "band_val",
    )
    return (
        a.join(b, ["band", "band_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))),
        )
        .where(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


def _simhash_sql() -> str:
    def bit(b: int) -> str:
        return (
            f"(case when list_sum(list_transform(hs, "
            f"h -> ((h >> {b}) & 1) * 2 - 1)) >= 0 then 1 else 0 end)"
        )

    band_vals = ",\n       ".join(
        "("
        + " + ".join(
            f"{bit(band * SIM_BAND_BITS + i)} * {1 << i}::bigint"
            for i in range(SIM_BAND_BITS)
        )
        + f") band_{band}"
        for band in range(SIM_BANDS)
    )
    simhash = " + ".join(
        f"band_{band} * {1 << (band * SIM_BAND_BITS)}::bigint"
        for band in range(SIM_BANDS)
    )
    band_rows = "\n  union all\n".join(
        f"  select doc_id, simhash, {band} band, band_{band} band_val from sh"
        for band in range(SIM_BANDS)
    )
    return f"""
with docs as (
  select doc_id,
         list_transform({sql_ngrams(sql_toks('text'), 3)},
                        g -> {sql_tok_hash60('g')}) hs
  from documents),
bv as (
  select doc_id,
       {band_vals}
  from docs),
sh as (select *, {simhash} simhash from bv),
bands as (
{band_rows}),
cand as (
  select distinct a.doc_id doc_a, b.doc_id doc_b,
         a.simhash sim_a, b.simhash sim_b
  from bands a join bands b
    on a.band = b.band and a.band_val = b.band_val and a.doc_id < b.doc_id)
select doc_a, doc_b, bit_count(xor(sim_a, sim_b)) hamming
from cand
where bit_count(xor(sim_a, sim_b)) <= {HAMMING_MAX}
"""


ORACLE["dedup_simhash"] = _simhash_sql()


# --------------------------------------------------- dedup_embedding_lsh
COS_THRESHOLD = 0.4
EMB_DIM = 64
HP_BANDS = 24
HP_BITS_MIN = 4
HP_BITS_MAX = 24
HP_MAX_FLIPS = 2  # multiprobe hamming-ball radius per band


def _hp_bits(n: int) -> int:
    """Adaptive bits-per-band: ceil(log2(n)) + 1 clamped to
    [HP_BITS_MIN, HP_BITS_MAX], so expected bucket occupancy
    n / 2**bits stays in (0.25, 0.5] as the corpus grows — per-band
    bucket joins are O(1)-occupancy BY CONSTRUCTION instead of the
    fixed 4-bit N²/16. Integer-exact:
    (n-1).bit_length() ≡ length(bin(n-1)) in both engines' SQL, no
    float log2 whose last ulp could disagree cross-engine."""
    if n < 2:
        return HP_BITS_MIN
    return max(HP_BITS_MIN, min(HP_BITS_MAX, (n - 1).bit_length() + 1))


def _probe_masks(bits: int) -> list[int]:
    """Multi-probe flip masks: the hamming ball of radius HP_MAX_FLIPS
    around each band value — 1 + bits + C(bits,2) masks. Probing buys
    back the recall the higher adaptive bit width costs WITHOUT
    widening any bucket: a pair at band-hamming h ≤ 2 meets through
    exactly one mask (the XOR of its two values), so candidate work is
    |probe stream| × O(1) bucket occupancy, and measured recall at the
    gated SFs is ABOVE the old fixed-4-bit config (sf0.1: recall@0.4
    0.974 vs 0.901, knn@5 0.936 vs 0.861, candidates 782k vs 1.07M).
    Order matters: [identity, 1-flips, 2-flips] — knn_graph_recall
    derives each mask's flip count from its position (pinned by
    tests/test_operators.py)."""
    masks = [0]
    masks += [1 << k for k in range(bits)]
    masks += [
        (1 << k1) | (1 << k2)
        for k1 in range(bits)
        for k2 in range(k1 + 1, bits)
    ]
    return masks


def dot_fold(a, b):
    """Deterministic double dot product: cast-to-double elementwise, left
    fold with 0.0 init — bit-identical to DuckDB's list_reduce (0.0+x ≡ x,
    so the missing-init fold matches too).

    Stays the higher-order `aggregate` form deliberately: an expanded
    64-term element_at chain looks codegen-friendly but exceeds the JIT
    method-size budget and runs SLOWER (measured 2-3×); the biggest
    lever is evaluating it once per pair over precomputed norms.

    Accepts plain column NAMES (both args str) as a fast path: the
    Python-lambda `F.aggregate` form costs ~27 ms of py4j round trips
    PER CALL to construct (measured), which dominated wall time for the
    iterative queries that build it once per Lloyd/power iteration —
    `F.expr` hands the JVM one string to parse (~1 ms) and resolves to
    the same ArrayAggregate/ZipWith tree, so results are bit-identical.
    Lambda params are underscore-prefixed to dodge any real column."""
    if (
        isinstance(a, str)
        and isinstance(b, str)
        # Names are interpolated into raw SQL, so only plain
        # identifiers qualify — a dotted/spaced name would parse wrong
        # or resolve elsewhere; those take the slow path. Backtick
        # quoting makes SQL-keyword names (e.g. `order`) safe too.
        and a.isidentifier()
        and b.isidentifier()
    ):
        return F.expr(
            f"aggregate(zip_with(`{a}`, `{b}`, (_dx, _dy) -> "
            f"cast(_dx as double) * cast(_dy as double)), 0.0D, "
            f"(_dacc, _dv) -> _dacc + _dv)"
        )
    if isinstance(a, str):
        a = F.col(a)
    if isinstance(b, str):
        b = F.col(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> cast(p[1] as double) * cast(p[2] as double)), "
        f"(acc, v) -> acc + v)"
    )


def _cosine(a: str, b: str, na: str, nb: str, dot=dot_fold):
    """Cosine of array columns a, b over their precomputed norms na,
    nb; `dot` is dot_fold or a vectorized pair dot (_pair_dot_udf), the
    same left fold."""
    return dot(a, b) / (F.col(na) * F.col(nb))


def _sql_cos(x: str, y: str) -> str:
    """Oracle twin of _cosine over the (embedding, nrm) rows x, y."""
    dot = sql_dot(f"{x}.embedding", f"{y}.embedding")
    return f"{dot} / ({x}.nrm * {y}.nrm)"


# Pseudo-random hyperplane weight in [-1, 1): md5-derived 32-bit
# uniform — the SQL twin of _plane_matrix, so 'randomness' is
# reproducible cross-engine.
SQL_PLANE_W = (
    "(('0x' || substr(md5('p' || cast({p} as varchar) "
    "|| 'd' || cast({d} as varchar)), 1, 8))::bigint "
    "/ 2147483648.0) - 1.0"
)


def _plane_matrix(n_planes: int):
    """The same md5-derived hyperplane weights as SQL_PLANE_W,
    materialized as an (n_planes × EMB_DIM) float64 numpy
    matrix for the Arrow-batched signature pass. hashlib.md5 and the
    engines' md5() agree byte-for-byte, so all three derivations are
    identical."""
    import hashlib

    import numpy as np

    w = np.empty((n_planes, EMB_DIM), dtype=np.float64)
    for p in range(n_planes):
        for d in range(EMB_DIM):
            h = hashlib.md5(f"p{p}d{d}".encode()).hexdigest()[:8]
            w[p, d] = int(h, 16) / 2147483648.0 - 1.0
    return w


def _columnar_fold_dot(A, B):
    """Dot products of row-pairs of two (n × d) float64 matrices with the
    EXACT rounding order of the sequential left fold (dot_fold /
    DuckDB's list_reduce): iterate dimensions, one vectorized
    multiply-add per dimension — `acc + A[:,d]*B[:,d]` rounds the
    product, then the sum, per element, exactly like
    `(acc, v) -> acc + v` over `zip_with(a, b, (x, y) -> x*y)`. A BLAS
    matmul would be faster but reorders the additions, and a flipped
    last-ulp sign near a hyperplane (or a cosine straddling the
    threshold) would diverge from the SQL oracle."""
    import numpy as np

    acc = np.zeros(len(A), dtype=np.float64)
    for d in range(A.shape[1]):
        acc = acc + A[:, d] * B[:, d]
    return acc


def _emb_signatures(emb: DataFrame, bits: int) -> DataFrame:
    """(vec_id, band, band_val, norm): hyperplane sign bits, band keys,
    and the precomputed norm, in ONE Arrow-batched pass over the
    embeddings (mapInPandas) instead of a broadcast join of interpreted
    dot folds — the measured hot spot of this operator at sf0.1.
    `bits` is the adaptive per-band width (_hp_bits of the corpus
    size); HP_BANDS × bits planes total.
    Numerics are bit-identical to the fold form (see
    _columnar_fold_dot)."""
    import numpy as np
    import pandas as pd

    n_planes = HP_BANDS * bits
    planes = _plane_matrix(n_planes)

    def batches(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            norm = np.sqrt(_columnar_fold_dot(E, E))
            band_vals = np.zeros((n, HP_BANDS), dtype=np.int64)
            for p in range(n_planes):
                proj = _columnar_fold_dot(E, np.broadcast_to(planes[p], E.shape))
                bit = (proj >= 0.0).astype(np.int64)
                band_vals[:, p // bits] += bit << (p % bits)
            out = pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().repeat(HP_BANDS),
                    "band": np.tile(
                        np.arange(HP_BANDS, dtype=np.int32), n
                    ),
                    "band_val": band_vals.reshape(-1),
                    "norm": norm.repeat(HP_BANDS),
                }
            )
            yield out

    # scalar-only output: replicating the embedding array 12× per vector
    # through Arrow + the band-bucket shuffle measured ~2× slower than
    # re-joining candidates to the embeddings table afterwards
    return emb.select("vec_id", "embedding").mapInPandas(
        batches,
        "vec_id long, band int, band_val long, norm double",
    )


def _emb_corpus_bits(spark: SparkSession, sf_dir: str) -> int:
    """Adaptive band width for the sf_dir's embeddings corpus, memoized
    per (session, sf_dir). The count is parquet-metadata-cheap and the
    SQL oracles derive the identical value relationally
    (length(bin(count(*)-1)) + 1, clamped)."""
    memo: dict = spark.__dict__.setdefault("_dws_emb_bits", {})
    if sf_dir not in memo:
        n = load_table(spark, sf_dir, "embeddings").count()
        memo[sf_dir] = _hp_bits(n)
    return memo[sf_dir]


def _emb_sigs_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISK-PERSISTED hyperplane signatures (artifacts.py) — the LSH
    index side of the production lifecycle: the signature pass runs
    ONCE — ever — and every later session (bench
    cold run-1 included) reloads flat parquet; all five LSH-family
    consumers serve from it. Stale-safe via the embeddings table
    fingerprint (regenerated testdata rebuilds, and the adaptive band
    width is re-derived in the same build)."""
    from duckdb_wasm_spark.artifacts import persisted_frames

    def _build() -> dict[str, DataFrame]:
        emb = load_table(spark, sf_dir, "embeddings")
        bits = _emb_corpus_bits(spark, sf_dir)
        return {"sigs": _emb_signatures(emb, bits)}

    return persisted_frames(
        spark, "lsh_sigs", sf_dir, ("embeddings",), _build
    )["sigs"]


def _probe_stream(sigs: DataFrame, bits: int, id_alias: str) -> DataFrame:
    """(id, band, probe_val): each signature row exploded across the
    hamming≤HP_MAX_FLIPS probe masks — one narrow projection (literal
    array explode, no join, no BNLJ), bare keys only (shuffle width
    dominates the bucket join at collision density; payloads re-join
    after the distinct)."""
    arr = ",".join(f"{m}L" for m in _probe_masks(bits))
    return (
        sigs.select(F.col("vec_id").alias(id_alias), "band", "band_val")
        .withColumn("mask", F.expr(f"explode(array({arr}))"))
        .select(
            id_alias,
            "band",
            F.col("band_val").bitwiseXOR(F.col("mask")).alias("probe_val"),
        )
    )


def _bucket_side(sigs: DataFrame, id_alias: str) -> DataFrame:
    """(id, band, probe_val): each signature row as the bucket a probe
    stream joins on (band, probe_val)."""
    return sigs.select(
        F.col("vec_id").alias(id_alias),
        "band",
        F.col("band_val").alias("probe_val"),
    )


def _probe_pairs(sigs: DataFrame, bits: int) -> DataFrame:
    """Distinct unordered candidate pairs (a_id < b_id) of the
    adaptive-bit multiprobe band index `sigs`: probe stream ⋈ base
    buckets on (band, probe_val) — an equi-join whose per-bucket
    occupancy is O(1) by construction (see _hp_bits), so candidate
    volume grows sub-quadratically in the corpus (gated by
    lsh_candidate_growth)."""
    return (
        _probe_stream(sigs, bits, "a_id")
        .join(_bucket_side(sigs, "b_id"), ["band", "probe_val"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def _lsh_pairs_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISK-PERSISTED candidate-pair frame (artifacts.py) — the probe
    join + distinct is the index family's single heaviest stage (~12s
    at sf0.1) and THREE consumers derive from the identical frame
    (dedup_embedding_lsh, its clusters composition, and
    embed_knn_graph via both orderings). In production the candidate
    adjacency is materialized alongside the signatures when the index
    is built — now literally true across sessions; the sub-quadratic
    pair frame is small by the gated growth law. Stale-safe via the
    embeddings fingerprint."""
    from duckdb_wasm_spark.artifacts import persisted_frames

    memo: dict = spark.__dict__.setdefault("_dws_lsh_pairs_hinted", {})
    if sf_dir not in memo:
        pairs = persisted_frames(
            spark,
            "lsh_pairs",
            sf_dir,
            ("embeddings",),
            lambda: {
                "pairs": _probe_pairs(
                    _emb_sigs_memo(spark, sf_dir),
                    _emb_corpus_bits(spark, sf_dir),
                )
            },
        )["pairs"]
        # merge-join hint: the reloaded artifact reports its TRUE
        # (tiny) on-disk size, which flips Catalyst into broadcasting
        # the candidate side of the downstream embedding joins —
        # building a 1.5M-entry hash relation probed by 2k rows
        # (measured 2.5s→7.6s on the knn dot stage). The hint pins the
        # plan the truthful-stats lineage picked, and the one that is
        # RIGHT at 100 TB: candidate and embedding sides are both
        # corpus-scale there, so the join must shuffle — never
        # broadcast either side. Memoized so consumers share ONE
        # frame object (the memo-identity contract the tests pin).
        memo[sf_dir] = pairs.hint("merge")
    return memo[sf_dir]


def _emb_side(
    emb: DataFrame, sigs: DataFrame, key: str, e: str, n: str
) -> DataFrame:
    """(key, e, n): each vector's embedding `e` and its norm `n` (the
    band-0 signature rows carry it), keyed `key` — one side of a
    candidate pair's cosine verify, joined AFTER the candidate
    distinct."""
    norms = sigs.where(F.col("band") == 0).select("vec_id", "norm")
    return emb.select(
        F.col("vec_id").alias(key), F.col("embedding").alias(e)
    ).join(
        norms.select(F.col("vec_id").alias(key), F.col("norm").alias(n)),
        key,
    )


@_q("dedup_embedding_lsh")
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via signed-random-projection LSH with
    adaptive band width + multiprobe: HP_BANDS bands × ceil(log2(N))+1
    sign bits each (O(1) expected bucket occupancy at ANY corpus size,
    see _hp_bits) → hamming≤2 probe join → exact-cosine verify at
    COS_THRESHOLD. Candidate volume is sub-quadratic in N by
    construction — gated by lsh_candidate_growth; recall is gated by
    knn_graph_recall (measured ABOVE the old fixed-4-bit config at
    both SFs, see _probe_masks).

    Plan shape: signatures + norms from ONE Arrow-batched mapInPandas
    pass (columnar fold — bit-identical numerics, see
    _columnar_fold_dot), memoized per session; candidates from the
    (band, probe_val) equi-join with bare keys; norms + embeddings
    re-join AFTER the distinct; the per-pair verify dot is a
    vectorized pandas_udf — ONE dot per candidate pair."""
    emb = load_table(spark, sf_dir, "embeddings")
    sigs = _emb_sigs_memo(spark, sf_dir)
    return (
        _lsh_pairs_memo(spark, sf_dir)
        .join(_emb_side(emb, sigs, "a_id", "ea", "norm_a"), "a_id")
        .join(_emb_side(emb, sigs, "b_id", "eb", "norm_b"), "b_id")
        .withColumn(
            "sim", _cosine("ea", "eb", "norm_a", "norm_b", _pair_dot_udf())
        )
        .where(F.col("sim") >= COS_THRESHOLD)
        .select("a_id", "b_id", "sim")
    )


def _emb_lsh_sql_ctes(source: str = "embeddings", tag: str = "") -> str:
    """CTE chain (no leading `with`) up to `we{tag}` (per-vector band
    keys + embedding + norm) and `masks{tag}` (the hamming≤2 probe
    masks) — shared by the pair oracle, the clusters oracle, the
    semantic decontamination oracle, the knn oracles, and (twice, via
    `tag`) the candidate-growth audit. The adaptive band width is
    derived relationally: nb{tag}.bits = length(bin(count-1)) + 1
    clamped — integer-exact, identical to the Python _hp_bits."""
    w = SQL_PLANE_W.format(p="p", d="d")
    t = tag
    return f"""nb{t} as (
  select least({HP_BITS_MAX}, greatest({HP_BITS_MIN},
         length(bin(count(*) - 1)) + 1)) bits
  from {source}),
planes{t} as (
  select p, list_transform(range(0, {EMB_DIM}), d -> {w}) w
  from (select unnest(range(0, {HP_BANDS} * (select bits from nb{t}))) p)),
signed{t} as (
  select vec_id, p,
         case when {sql_dot('embedding', 'w')} >= 0 then 1 else 0 end sgn
  from {source}, planes{t}),
bands{t} as (
  select vec_id, cast(floor(p / (select bits from nb{t})) as int) band,
         cast(sum(sgn * (1::bigint << cast(p % (select bits from nb{t})
                                            as int))) as bigint) band_val
  from signed{t} group by 1, 2),
normed{t} as (
  select vec_id, embedding, sqrt({sql_dot('embedding', 'embedding')}) nrm
  from {source}),
we{t} as (select b.*, e.embedding, e.nrm
       from bands{t} b join normed{t} e using (vec_id)),
masks{t} as (
  select 0::bigint mask, 0 nflips
  union all
  select (1::bigint << k), 1
  from (select unnest(range(0, (select bits from nb{t}))) k)
  union all
  select ((1::bigint << k1) | (1::bigint << k2)), 2
  from (select unnest(range(0, (select bits from nb{t}))) k1),
       (select unnest(range(0, (select bits from nb{t}))) k2)
  where k1 < k2)"""


# the single-source CTE chain, `with`-wrapped — the common case
_SQL_EMB_LSH_PREFIX = "\nwith " + _emb_lsh_sql_ctes()


def _sql_probe_join(op: str, t: str = "") -> str:
    """Oracle twin of the probe join: FROM/WHERE pairing band rows a, b
    whose values differ by a probe mask, with a.vec_id `op` b.vec_id."""
    return f"""from bands{t} a, masks{t} m, bands{t} b
  where a.band = b.band and xor(a.band_val, m.mask) = b.band_val
    and a.vec_id {op} b.vec_id"""


def _emb_lsh_sql_parts() -> tuple[str, str]:
    """(ctes, final_select) so the clusters oracle can reuse the pair
    pipeline inside its own recursive CTE. Bare keys only through the
    candidate distinct (carrying the two 64-float lists through the
    distinct measured ~20× slower in DuckDB at sf0.1); embeddings +
    norms re-join afterwards and the dot is evaluated ONCE."""
    ctes = _SQL_EMB_LSH_PREFIX + f""",
cand as (
  select distinct a.vec_id a_id, b.vec_id b_id
  {_sql_probe_join("<")}),
pairsim as (
  select c.a_id, c.b_id,
         {_sql_cos("na", "nb")} sim
  from cand c
  join normed na on na.vec_id = c.a_id
  join normed nb on nb.vec_id = c.b_id)"""
    final = f"""
select a_id, b_id, sim from pairsim where sim >= {COS_THRESHOLD}
"""
    return ctes, final


ORACLE["dedup_embedding_lsh"] = "".join(_emb_lsh_sql_parts())


# ---------------------------------------------- dedup_embedding_clusters
def _emb_cc_nodes_edges(spark, sf_dir):
    vecs = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    pairs = dedup_embedding_lsh(spark, sf_dir).select("a_id", "b_id")
    return vecs, _symmetric_edges(pairs)


@_q("dedup_embedding_clusters")
def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup clustering: connected components over the
    hyperplane-LSH cosine near-dup pairs — every vector gets a
    cluster_id (min vec_id reachable through near-dup edges) and
    is_keeper marks the surviving representative; singletons keep
    themselves. Second consumer of the hardened connected_components
    loop (pointer jumping, loud non-convergence — see its docstring),
    composing it with a different candidate generator than the MinHash
    clusters. Oracle: recursive-CTE closure over the identical pair
    SQL."""
    labels = _cc_labels_memo(
        spark,
        sf_dir,
        "cc_labels_emb",
        ("embeddings",),
        lambda: _emb_cc_nodes_edges(spark, sf_dir),
    )
    return labels.select(
        F.col("doc_id").alias("vec_id"),
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )


ORACLE["dedup_embedding_clusters"] = _sql_clusters(
    _emb_lsh_sql_parts(), "a_id", "b_id", "vec_id", "embeddings"
)


# ---------------------------------------------- decontaminate_semantic
SEM_EVAL_MOD = 20  # held-out split: vec_id % SEM_EVAL_MOD == 0
SEM_COS_THRESHOLD = COS_THRESHOLD  # contamination = LSH near-dup cosine


@_q("decontaminate_semantic")
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination: flag TRAINING vectors
    whose cosine to any held-out ("benchmark") vector reaches
    SEM_COS_THRESHOLD — the semantic complement of the 5-gram overlap
    check (decontaminate_ngram catches verbatim leaks; this catches
    paraphrases that share no shingles). The held-out split is the
    deterministic vec_id % SEM_EVAL_MOD == 0 slice, mirroring the
    n-gram variant.

    Candidates come from the SAME adaptive-bit multiprobe hyperplane
    buckets as dedup_embedding_lsh (recall bounded by the LSH family
    exactly as there; the oracle reproduces the identical
    approximation), so cost follows bucket collisions, never
    |train|·|eval|. The probe-mask explosion happens on the EVAL side
    — tiny relative to the corpus (that is the point of the check) and
    broadcast, so the train-side signatures never shuffle and never
    widen. Verification is one vectorized pair dot per candidate over
    precomputed norms, re-joined AFTER the candidate distinct."""
    emb = load_table(spark, sf_dir, "embeddings")
    sigs = _emb_sigs_memo(spark, sf_dir)
    bits = _emb_corpus_bits(spark, sf_dir)
    ev_probe = _probe_stream(
        sigs.where(F.col("vec_id") % SEM_EVAL_MOD == 0), bits, "eval_id"
    )
    tr = _bucket_side(
        sigs.where(F.col("vec_id") % SEM_EVAL_MOD != 0), "train_id"
    )
    cand = (
        tr.join(F.broadcast(ev_probe), ["band", "probe_val"])
        .dropDuplicates(["train_id", "eval_id"])
        .select("train_id", "eval_id")
    )
    return (
        cand.join(_emb_side(emb, sigs, "train_id", "et", "norm_t"), "train_id")
        .join(
            F.broadcast(_emb_side(emb, sigs, "eval_id", "ee", "norm_e")),
            "eval_id",
        )
        .withColumn(
            "sim", _cosine("et", "ee", "norm_t", "norm_e", _pair_dot_udf())
        )
        .where(F.col("sim") >= SEM_COS_THRESHOLD)
        .groupBy("train_id")
        .agg(
            F.count(F.lit(1)).alias("n_eval_matches"),
            F.max("sim").alias("max_sim"),
        )
    )


ORACLE["decontaminate_semantic"] = _SQL_EMB_LSH_PREFIX + f""",
ev as (select w.vec_id eval_id, w.band, xor(w.band_val, m.mask) probe_val
       from bands w, masks m where w.vec_id % {SEM_EVAL_MOD} = 0),
tr as (select vec_id train_id, band, band_val probe_val
       from bands where vec_id % {SEM_EVAL_MOD} != 0),
cand as (
  select distinct train_id, eval_id
  from tr join ev using (band, probe_val)),
hits as (
  select c.train_id, c.eval_id,
         {_sql_cos("t", "e")} sim
  from cand c
  join normed t on t.vec_id = c.train_id
  join normed e on e.vec_id = c.eval_id
  where {_sql_cos("t", "e")}
        >= {SEM_COS_THRESHOLD})
select train_id, count(*) n_eval_matches, max(sim) max_sim
from hits
group by train_id
"""


# ----------------------------------------------------- dedup_substring
DUP_SUBSTR_N = 12  # window width (tokens): the seed length for LCS runs


def _window_index_memo(spark: SparkSession, sf_dir: str):
    """DISK-PERSISTED positional DUP_SUBSTR_N-token window index:
    dedup_substring, dedup_substring_capped and
    dedup_span_removal each re-ran the tokenize → positional-window →
    groupBy(gram) pipeline per call (~2.6s each at sf0.1) over state a
    span-dedup service materializes once on ingest — the same
    gram_index-class lifecycle as the trigram/prefix index above.

    One frame "posts": per distinct window, the SORTED posting array
    ds = array_sort(collect_list(struct(doc_id, pos))). The window
    TEXT is dropped — after grouping it is never consumed (pair
    expansion and canonical-first selection read only the postings),
    and keeping 12-token arrays would store the corpus ~12× over.
    Sorting makes the persisted content deterministic (collect_list
    order is partition-dependent; (doc_id, pos) is unique so the sort
    is total) and gives span_removal its canonical first occurrence
    as ds[1] for free. Reloads "raw": each consumer references it
    once and immediately explodes/aggregates, so a checkpoint job
    buys nothing.

    At 100 TB the frame is written bucketed by a window-hash key so
    the build's groupBy and incremental ingest co-partition; the df
    cap (dedup_substring_capped) is a one-predicate size() filter on
    the posting array, pushed before any pair expansion."""
    from duckdb_wasm_spark.artifacts import persisted_frames

    def _build() -> dict[str, DataFrame]:
        docs = load_table(spark, sf_dir, "documents")
        n = DUP_SUBSTR_N
        w = (
            docs.select("doc_id", toks().alias("tk"))
            .select(
                "doc_id",
                F.posexplode(
                    F.expr(
                        f"if(size(tk) < {n}, array(), "
                        f"transform(sequence(1, size(tk) - {n - 1}), "
                        f"i -> slice(tk, i, {n})))"
                    )
                ).alias("pos0", "gram"),
            )
            .select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram")
        )
        posts = w.groupBy("gram").agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "pos"))
            ).alias("ds")
        ).select("ds")
        return {"posts": posts}

    return persisted_frames(
        spark,
        "substr_windows",
        sf_dir,
        ("documents",),
        _build,
        layout={"posts": "raw"},
    )


@_q("dedup_substring")
def dedup_substring(
    spark: SparkSession, sf_dir: str, max_df: int | None = None
) -> DataFrame:
    """Exact-substring dedup (the "Deduplicating Training Data Makes
    Language Models Better" signal, Lee et al. 2021): for every doc
    pair sharing at least one exact DUP_SUBSTR_N-token window, report
    the EXACT length of their longest common token substring plus the
    match-volume counters used to rank removal candidates.

    Lee et al. build a single-machine suffix array — which does not
    distribute. The scalable reformulation: positional windows
    (doc_id, pos, 12-gram) → inverted-index posting lists keyed by
    window text (pair expansion JVM-side from the posting array, the
    dedup_ngram_jaccard shape — never all-pairs, and the
    tokenize→window map runs ONCE) → matched (pa, pb) positions fall
    on diagonals (diag = pa - pb); a run of consecutive pa on one
    diagonal IS a common substring, recovered exactly with the
    gap-and-islands trick (grp = pa - row_number), and
    lcs_tokens = longest_run + N - 1.

    Determinism: pure integer arithmetic end-to-end; islands are
    well-defined because per (pair, diag) each pa appears exactly once
    (pb = pa - diag is determined).

    Scale (100 TB): cost follows true window collisions, not n² — a
    12-token exact window is near-unique outside genuine reuse. The
    skew hazard is boilerplate windows shared by millions of docs;
    production adds the max_df stop-gram cap exactly as
    dedup_ngram_jaccard_capped does (kept off here so the oracle
    states the pure definition; dedup_substring_capped is the scale
    entry point — max_df drops windows with more than max_df postings
    BEFORE pair expansion, bounding every key's fan-out at max_df²;
    a capped pair's runs can only shrink or split, never grow, which
    tests/test_operators.py pins). The islands window shuffles by
    (doc_a, doc_b, diag) — collision-bounded, never corpus-bounded.

    The window key is the 12-token ARRAY SLICE, not a joined string:
    the gram is purely internal (only integer counters leave the
    operator), array slices skip ngrams_all's 11 chained concat
    passes (~1M string builds; windows stage 1.38s → 0.60s at sf0.1),
    and slice equality ≡ space-joined-string equality because split
    tokens cannot contain the separator — so the match set, and hence
    every output row, is unchanged vs the oracle's gram strings.

    The tokenize → window → groupBy pipeline itself is the
    DISK-PERSISTED _window_index_memo (shared with the capped
    variant and dedup_span_removal): query time starts at
    the posting arrays — pair expansion, islands, rollup."""
    from pyspark.sql.window import Window

    posts = _window_index_memo(spark, sf_dir)["posts"]
    if max_df is not None:
        # stop-window guard: a boilerplate window shared by max_df+
        # postings would make its pair expansion quadratic-huge; the
        # posting array already exists, so the cap is one size() test
        posts = posts.where(F.size("ds") <= max_df)
    m = (
        posts.select(_posting_pairs("pos", "pa", "pb"))
        .select("p.doc_a", "p.doc_b", "p.pa", "p.pb")
        .withColumn("diag", F.col("pa") - F.col("pb"))
    )
    iw = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (
        m.withColumn("grp", F.col("pa") - F.row_number().over(iw))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(F.count(F.lit(1)).alias("run"))
    )
    return runs.groupBy("doc_a", "doc_b").agg(
        (F.max("run") + F.lit(DUP_SUBSTR_N - 1)).alias("lcs_tokens"),
        F.count(F.lit(1)).alias("n_runs"),
        F.sum("run").alias("n_window_matches"),
    )


def _sql_pos_ngrams(t: str, n: int) -> str:
    """DuckDB positional NON-distinct n-grams as a struct list
    [{pos (1-based), gram}] — the oracle-side mirror of
    posexplode(ngrams_all(...)) + 1. Gram text comes from the shared
    sql_gram_concat fragment so it cannot fork from sql_ngrams_all."""
    gram = sql_gram_concat(t, n)
    return (
        f"list_transform(range(1, greatest(len({t}) - {n - 2}, 1)), "
        f"i -> {{'pos': i, 'gram': {gram}}})"
    )


def substring_oracle_sql(max_df: int | None = None) -> str:
    """dedup_substring oracle; max_df mirrors the Spark-side posting
    cap (windows with more than max_df postings dropped before the
    pair join). Tests bind a tiny cap so the filter fires at
    sf0.001; the registered capped query binds SUBSTR_MAX_DF."""
    if max_df is None:
        w_cte = f"""w as (
  select doc_id, u.s.pos pos, u.s.gram gram
  from t, unnest({_sql_pos_ngrams('toks', DUP_SUBSTR_N)}) u(s))"""
    else:
        w_cte = f"""w0 as (
  select doc_id, u.s.pos pos, u.s.gram gram
  from t, unnest({_sql_pos_ngrams('toks', DUP_SUBSTR_N)}) u(s)),
rare as (select gram from w0 group by gram
         having count(*) <= {max_df}),
w as (select w0.* from w0 join rare using (gram))"""
    return f"""
with t as (select doc_id, {sql_toks('text')} toks from documents),
{w_cte},
m as (
  select a.doc_id doc_a, b.doc_id doc_b, a.pos pa, b.pos pb,
         a.pos - b.pos diag
  from w a join w b using (gram)
  where a.doc_id < b.doc_id),
i as (
  select doc_a, doc_b, diag, pa,
         pa - row_number() over (partition by doc_a, doc_b, diag
                                 order by pa) grp
  from m),
r as (
  select doc_a, doc_b, diag, grp, count(*) run
  from i group by doc_a, doc_b, diag, grp)
select doc_a, doc_b,
       cast(max(run) + {DUP_SUBSTR_N - 1} as bigint) lcs_tokens,
       count(*) n_runs,
       cast(sum(run) as bigint) n_window_matches
from r
group by doc_a, doc_b
"""


ORACLE["dedup_substring"] = substring_oracle_sql()


SUBSTR_MAX_DF = 100  # posting cap: bounds any window's fan-out at 100²


@_q("dedup_substring_capped")
def dedup_substring_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB entry point for exact-substring dedup: identical
    positional-window inverted index with the posting cap ON — windows
    carried by more than SUBSTR_MAX_DF (doc, pos) postings (license
    headers, boilerplate navigation) are dropped before pair
    expansion, bounding every key's fan-out at SUBSTR_MAX_DF² where
    the uncapped query goes quadratic on hot boilerplate. The cap
    changes the measure (runs riding solely on stop-windows shrink or
    vanish), so this variant carries its own oracle stating exactly
    that semantics; capped pairs/runs are always a subset of the
    uncapped result (pytest-pinned)."""
    return dedup_substring(spark, sf_dir, max_df=SUBSTR_MAX_DF)


ORACLE["dedup_substring_capped"] = substring_oracle_sql(SUBSTR_MAX_DF)


# ------------------------------------------------- dedup_span_removal
@_q("dedup_span_removal")
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL step of exact-substring dedup (Lee et al. 2021
    actually delete the repeated spans — dedup_substring only audits
    them): every DUP_SUBSTR_N-token window keeps its corpus-FIRST
    occurrence (min (doc_id, pos) — a total order); every other
    occurrence's token span is removed, and the surviving tokens are
    re-assembled into the cleaned document text. Output: one row per
    MODIFIED document — (doc_id, n_before, n_removed, cleaned_text),
    the actual deliverable a span-dedup pipeline writes back.

    Unlike dedup_substring there is NO pair expansion at all: the
    canonical occurrence per window is element 1 of the persisted
    SORTED posting array (_window_index_memo — at build time the
    groupBy is a map-side-combining hash aggregate, skew-safe on
    boilerplate windows; at query time first-vs-rest is a slice, no
    aggregate and no w-to-first join at all), duplicates are the
    posting tail, their coverage explodes ×N, and the cleaned text is
    one anti-join plus one per-doc ordered re-assembly (the
    array_sort/collect pattern of _trained_centroids).

    Determinism: no floats anywhere — struct mins, integer positions,
    exact string re-assembly (tokens cannot contain the separator, so
    join-by-space is the tokenizer's inverse on the kept sequence).

    Scale (100 TB): the window pipeline is the build-once persisted
    index; the two remaining tokenizer passes (tokens, sizes) are
    RE-RUN rather than materializing the tokenized corpus — pipelined
    maps, no shuffle; the query-time shuffles are the coverage
    distinct, the anti-join, and the per-doc rebuild, each keyed on
    high-cardinality columns. Coverage volume is N × duplicate-window
    count — linear in the duplication actually present, the quantity
    the operator exists to delete."""
    docs = load_table(spark, sf_dir, "documents")
    n = DUP_SUBSTR_N
    tk = docs.select("doc_id", toks().alias("tk"))
    # canonical-first selection rides the persisted window index: the
    # posting arrays are SORTED, so the corpus-first
    # occurrence of each window is element 1 and every duplicate
    # occurrence is the tail slice — the min-struct aggregate and the
    # w-to-first join both disappear from query time
    posts = _window_index_memo(spark, sf_dir)["posts"]
    cover = (
        posts.where(F.size("ds") > 1)
        .select(
            F.explode(F.expr("slice(ds, 2, size(ds) - 1)")).alias("o")
        )
        .select(
            F.col("o.doc_id").alias("cdoc"),
            F.explode(
                F.sequence(
                    F.col("o.pos"), F.col("o.pos") + F.lit(n - 1)
                )
            ).alias("cpos"),
        )
        .distinct()
    )
    tokens = tk.select(
        "doc_id", F.posexplode("tk").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = tokens.join(
        cover,
        (tokens.doc_id == cover.cdoc) & (tokens.pos == cover.cpos),
        "left_anti",
    )
    reb = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("cleaned"),
    )
    st = tk.select("doc_id", F.size("tk").alias("n_before"))
    return (
        st.join(reb, "doc_id", "left")
        .select(
            "doc_id",
            "n_before",
            (F.col("n_before") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_removed"
            ),
            F.coalesce("cleaned", F.lit("")).alias("cleaned_text"),
        )
        .where(F.col("n_removed") > 0)
    )


ORACLE["dedup_span_removal"] = f"""
with t as (select doc_id, {sql_toks('text')} toks from documents),
w as (select doc_id, u.s.pos pos, u.s.gram gram
      from t, unnest({_sql_pos_ngrams('toks', DUP_SUBSTR_N)}) u(s)),
f as (select gram, min({{'d': doc_id, 'p': pos}}) fo from w group by gram),
cover as (
  select distinct doc_id, cpos from (
    select w.doc_id, unnest(range(w.pos, w.pos + {DUP_SUBSTR_N})) cpos
    from w join f using (gram)
    where not (w.doc_id = f.fo.d and w.pos = f.fo.p))),
tok as (select doc_id, pos, tok from (
  select doc_id, unnest(toks) tok, generate_subscripts(toks, 1) pos
  from t)),
kept as (select tok.doc_id, tok.pos, tok.tok from tok
         anti join cover
         on tok.doc_id = cover.doc_id and tok.pos = cover.cpos),
reb as (select doc_id, count(*) n_kept,
               string_agg(tok, ' ' order by pos) cleaned
        from kept group by doc_id),
st as (select doc_id, len(toks) n_before from t)
select st.doc_id, st.n_before,
       st.n_before - coalesce(reb.n_kept, 0) n_removed,
       coalesce(reb.cleaned, '') cleaned_text
from st left join reb on st.doc_id = reb.doc_id
where st.n_before - coalesce(reb.n_kept, 0) > 0
"""


# -------------------------------------------------- dedup_containment
CONTAINMENT_THRESHOLD = 0.5  # max(|A∩B|/|A|, |A∩B|/|B|) cut


@_q("dedup_containment")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs: c(A→B) = |A∩B| / |A| over
    distinct trigram shingles, keeping pairs where either direction
    reaches CONTAINMENT_THRESHOLD. Containment catches the
    subset-duplicate class Jaccard structurally misses — a short doc
    quoted whole inside a long one has tiny Jaccard (union is
    long-doc-sized) but containment ≈ 1 from the short side; C4 /
    RealNews-style curation dedups on exactly this signal.

    Plan shape: identical to dedup_ngram_jaccard's posting lists (one
    shingle pass, one shuffle by gram, JVM-side pair expansion with
    both set sizes riding the posting struct) — only the final measure
    differs, so every scale property (collision-bounded cost, max_df
    cap as the stop-gram guard) carries over unchanged.

    Determinism: integer counts; the two divisions are single IEEE
    ops, and the threshold compares each direction separately (no
    float max needed in the filter; the output max is one
    greatest())."""
    inter = _posting_pair_overlaps(_gram_index_memo(spark, sf_dir)["arrays"])
    c_ab = F.col("n_common").cast("double") / F.col("n_a").cast("double")
    c_ba = F.col("n_common").cast("double") / F.col("n_b").cast("double")
    return (
        inter.where(
            (c_ab >= CONTAINMENT_THRESHOLD) | (c_ba >= CONTAINMENT_THRESHOLD)
        )
        .select(
            "doc_a",
            "doc_b",
            c_ab.alias("containment_ab"),
            c_ba.alias("containment_ba"),
            F.greatest(c_ab, c_ba).alias("containment"),
        )
    )


ORACLE["dedup_containment"] = f"""{_SQL_PAIR_OVERLAPS},
m as (
  select doc_a, doc_b,
         cast(n_common as double) / cast(sa.n as double) containment_ab,
         cast(n_common as double) / cast(sb.n as double) containment_ba
  from inter
  join sizes sa on doc_a = sa.doc_id
  join sizes sb on doc_b = sb.doc_id)
select doc_a, doc_b, containment_ab, containment_ba,
       greatest(containment_ab, containment_ba) containment
from m
where containment_ab >= {CONTAINMENT_THRESHOLD}
   or containment_ba >= {CONTAINMENT_THRESHOLD}
"""


# ---------------------------------------------------- dedup_winnowing
WIN_K = 5  # gram width in tokens
WIN_W = 4  # winnowing window in consecutive gram hashes


@_q("dedup_winnowing")
def dedup_winnowing(
    spark: SparkSession, sf_dir: str, max_df: int | None = None
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    scheme): hash every WIN_K-token gram, keep the MINIMUM hash of
    each WIN_W-wide window of consecutive gram hashes, and report doc
    pairs sharing fingerprints. The winnowing guarantee: any shared
    token run of length ≥ WIN_K + WIN_W − 1 (= 8 here) is caught by at
    least one shared fingerprint — so this is the SAMPLED companion to
    dedup_substring's exhaustive window index, with the index ~1/W the
    size (what production plagiarism/near-dup systems actually ship at
    scale; the LCS pass then runs only on winnowing candidates).

    Determinism: hashes are the md5-derived 60-bit fold (engine-
    identical); window minima are pure integer least(); the distinct
    fingerprint SET makes pair counts order-independent.

    Plan: per-row array pipeline (grams → hashes → shifted-slice zip
    minima → distinct) entirely inside codegen — the token and hash
    arrays are MATERIALIZED columns before any lambda touches them
    (trigrams() re-evaluation trap) — then one explode + the standard
    posting-list pair expansion. Same collision-bounded scale story as
    every inverted index here; the min-sampling cuts posting volume
    ~W× before the shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.withColumn("_t", toks())
        .select("doc_id", ngrams_all(F.col("_t"), WIN_K).alias("grams"))
        .select(
            "doc_id",
            F.transform("grams", lambda g: tok_hash60(g)).alias("hs"),
        )
    )
    m = F.greatest(F.size("hs") - (WIN_W - 1), F.lit(0))
    acc = F.slice("hs", 1, m)
    for j in range(1, WIN_W):
        acc = F.zip_with(
            acc, F.slice(F.col("hs"), j + 1, m), lambda x, y: F.least(x, y)
        )
    fps = d.select("doc_id", F.explode(F.array_distinct(acc)).alias("fp"))
    posts = fps.groupBy("fp").agg(F.collect_list("doc_id").alias("ds"))
    if max_df is not None:
        # stop-fingerprint guard: a boilerplate fingerprint shared by
        # max_df+ docs would go quadratic in the pair expansion; ds is
        # per-doc distinct, so size(ds) IS the document frequency
        posts = posts.where(F.size("ds") <= max_df)
    pairs = posts.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, x -> "
                "  transform(filter(ds, y -> x < y), "
                "            y -> struct(x as doc_a, y as doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return pairs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_shared_fp")
    )


def winnowing_oracle_sql(max_df: int | None = None) -> str:
    """dedup_winnowing oracle; max_df mirrors the Spark-side cap
    (fingerprints in more than max_df docs dropped before the pair
    join — fps are per-doc distinct, so plain count(*) is df)."""
    if max_df is None:
        e_cte = "e as (select doc_id, unnest(fps) fp from m)"
    else:
        e_cte = f"""e0 as (select doc_id, unnest(fps) fp from m),
rare as (select fp from e0 group by fp having count(*) <= {max_df}),
e as (select e0.* from e0 join rare using (fp))"""
    return f"""
with t as (select doc_id, {sql_toks('text')} toks from documents),
g as (select doc_id, {sql_ngrams_all('toks', WIN_K)} grams from t),
h as (
  select doc_id,
         list_transform(grams, x -> {sql_tok_hash60('x')}) hs
  from g),
m as (
  select doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(hs) - {WIN_W - 2}, 1)),
           i -> least({', '.join(f'hs[i+{j}]' for j in range(WIN_W))}))) fps
  from h),
{e_cte}
select a.doc_id doc_a, b.doc_id doc_b, count(*) n_shared_fp
from e a join e b on a.fp = b.fp and a.doc_id < b.doc_id
group by 1, 2
"""


ORACLE["dedup_winnowing"] = winnowing_oracle_sql()


WIN_MAX_DF = 100  # fingerprint df cap: bounds any key's fan-out at 100²


@_q("dedup_winnowing_capped")
def dedup_winnowing_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB entry point for winnowing near-dup: identical
    fingerprint index with the df cap ON — a fingerprint present in
    more than WIN_MAX_DF documents (boilerplate the min-sampling
    happened to keep) is dropped before pair expansion, bounding every
    key's fan-out at WIN_MAX_DF² where the uncapped query goes
    quadratic on hot boilerplate. Capped pairs are a subset of the
    uncapped result with n_shared_fp never larger (pytest-pinned);
    the variant carries its own oracle stating the capped measure."""
    return dedup_winnowing(spark, sf_dir, max_df=WIN_MAX_DF)


ORACLE["dedup_winnowing_capped"] = winnowing_oracle_sql(WIN_MAX_DF)


# ------------------------------------------------------- dedup_lsh_tuning
LSH_TUNE_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))


@_q("dedup_lsh_tuning")
def dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAND-CONFIGURATION SWEEP for the MinHash index — the tuning
    table a pipeline owner reads before fixing (bands, rows): for
    each way of splitting the 16-hash signature, the candidate-pair
    count (cost) and how many true Jaccard>=0.2 pairs the banding
    catches (recall). More rows per band = sharper threshold, fewer
    candidates, lower recall — this query MEASURES that curve on the
    actual corpus instead of trusting the 1-(1-s^r)^b formula.

    Plan: signatures are the persisted ingest artifact
    (_minhash_sigs_memo — each config re-bands the same 16 columns:
    md5 of the row-concat per band). SINGLE-PASS sweep: all four
    configs' band keys ride ONE explode (a config-tagged struct per
    (cfg, band)), so the sweep is one (cfg, band, key) equi-join + one
    distinct + one truth left-join + one |configs|-row groupBy; a
    per-config chain ran the explode/join/distinct/aggregate FOUR
    times (4× the scheduling floor for byte-identical shuffle volume:
    the four config joins partition the same 30 band rows per doc). A
    4-row literal config frame left-joins the aggregate so a config
    whose candidate set is EMPTY still emits its zero row exactly as
    per-config global aggregates would. Truth (the posting-list exact
    query) is checkpointed once; its count rides into the recall
    expression as a literal, CC-loop-style."""
    # the sweep's corpus-scale work is only the ground truth and the
    # single band join it exists to measure
    sigs = _minhash_sigs_memo(spark, sf_dir)
    truth = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    n_true = truth.count()
    keys = F.array(
        *[
            F.struct(
                F.lit(ci).alias("cfg"),
                F.lit(b).alias("band"),
                _band_key(b, rpb),
            )
            for ci, (nb, rpb) in enumerate(LSH_TUNE_CONFIGS)
            for b in range(nb)
        ]
    )
    bands = sigs.select("doc_id", F.explode(keys).alias("bk")).select(
        "doc_id", "bk.cfg", "bk.band", "bk.key"
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "cfg", "band", "key")
    b2 = bands.select(F.col("doc_id").alias("doc_b"), "cfg", "band", "key")
    cand = (
        a.join(b2, ["cfg", "band", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("cfg", "doc_a", "doc_b")
        .distinct()
    )
    per_cfg = (
        cand.join(
            truth.withColumn("is_true", F.lit(1)),
            ["doc_a", "doc_b"],
            "left",
        )
        .groupBy("cfg")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.coalesce(F.sum("is_true"), F.lit(0))
            .cast("long")
            .alias("n_true_pos"),
        )
    )
    cfgs = spark.createDataFrame(
        [(ci, nb, rpb) for ci, (nb, rpb) in enumerate(LSH_TUNE_CONFIGS)],
        "cfg int, n_bands int, rows_per_band int",
    )
    out = cfgs.join(per_cfg, "cfg", "left").select(
        "n_bands",
        "rows_per_band",
        F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
        F.coalesce("n_true_pos", F.lit(0).cast("long")).alias(
            "n_true_pos"
        ),
    )
    recall = F.when(
        F.lit(n_true) > 0,
        F.col("n_true_pos").cast("double") / F.lit(n_true),
    )
    return out.select(
        "n_bands",
        "rows_per_band",
        "n_candidates",
        "n_true_pos",
        F.lit(n_true).cast("long").alias("n_true"),
        recall.alias("recall"),
    ).orderBy(F.col("n_bands").desc())


def _lsh_tuning_sql() -> str:
    ctes = [
        f"""{_SQL_PAIR_OVERLAPS},
truth as ({_sql_thresholded("doc_a, doc_b")}),
{_sql_sigs("grams", "gram")},"""
    ]
    stats = []
    for i, (nb, rpb) in enumerate(LSH_TUNE_CONFIGS):
        ctes.append(f"{_sql_band_cand(f'_{i}', nb, rpb)},")
        ctes.append(
            f"""stat_{i} as (
  select {nb} n_bands, {rpb} rows_per_band,
         count(*) n_candidates,
         cast(coalesce(sum(case when t.doc_a is not null
                                then 1 end), 0) as bigint) n_true_pos
  from cand_{i} c left join truth t using (doc_a, doc_b)),"""
        )
        stats.append(f"select * from stat_{i}")
    body = "\n".join(ctes).rstrip(",")
    union = "\nunion all\n".join(stats)
    return f"""{body},
stats as (
{union})
select n_bands, rows_per_band, n_candidates, n_true_pos,
       cast((select count(*) from truth) as bigint) n_true,
       case when (select count(*) from truth) > 0
            then cast(n_true_pos as double)
                 / (select count(*) from truth) end recall
from stats
order by n_bands desc"""


ORACLE["dedup_lsh_tuning"] = _lsh_tuning_sql()


def _pair_dot_udf():
    """Vectorized exact dot product over candidate pairs (Arrow batch,
    columnar fold — bit-identical to the oracle's list_reduce left
    fold, see _columnar_fold_dot): the `dot` of the pair-cosine
    verifies (_cosine)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pair_dot(ea: pd.Series, eb: pd.Series) -> pd.Series:
        import numpy as np

        if len(ea) == 0:
            return pd.Series([], dtype=np.float64)
        A = np.stack(ea.to_numpy()).astype(np.float64)
        B = np.stack(eb.to_numpy()).astype(np.float64)
        return pd.Series(_columnar_fold_dot(A, B))

    return pair_dot


# -------------------------------------------------------- embed_knn_graph
KNN_K = 5


@_q("embed_knn_graph")
def embed_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN GRAPH over the embedding column — per vector,
    its top-5 cosine neighbors among the adaptive-bit multiprobe LSH
    candidates. The near-dup operators emit threshold PAIRS; the k-NN
    graph is the other consumer of the same index (semantic
    clustering, graph-based agglomeration, link-prediction features)
    and is approximate BY CONSTRUCTION: a neighbor at band-hamming > 2
    in every band is invisible, which is the stated LSH recall trade
    (same index as dedup_embedding_lsh — identical candidates,
    auditable together; recall@5 gated by knn_graph_recall, measured
    0.936 at sf0.1 vs 0.861 under the old fixed-4-bit config).

    Plan: one signature pass (memoized), probe-stream equi-join with
    O(1) bucket occupancy (see _hp_bits — cost is sub-quadratic by
    construction, gated by lsh_candidate_growth), ONE exact dot per
    candidate pair (vectorized pandas_udf, columnar fold —
    bit-identical to the oracle's list_reduce), then a per-vector
    rank-filtered window that executes as WindowGroupLimit (map-side
    partial top-k). Output is <= K rows per vector at any scale.

    Determinism: sim ties rank by neighbor id; the dot is the same
    IEEE left fold in both engines."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    sigs = _emb_sigs_memo(spark, sf_dir)
    # the ordered candidate set is exactly both orderings of the
    # memoized unordered pair frame (probing is symmetric: pair (i,j)
    # at band-hamming<=2 meets through the one mask vi^vj from either
    # end) — so the heavy probe join + distinct materializes once per
    # session and this query just flips columns. Bare keys throughout
    # (carrying norm doubles through the dedup measured +30% wall);
    # norms re-join with the embeddings below.
    pairs = _lsh_pairs_memo(spark, sf_dir)
    # re-hint AFTER the union: the merge hint on the memoized frame
    # does not propagate through Union, and an un-hinted cand frame
    # gets broadcast by the artifact's tiny true size (see
    # _lsh_pairs_memo — shuffling the candidate⋈embedding joins is
    # the 100 TB-correct shape)
    cand = pairs.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("nbr")
    ).unionByName(
        pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("nbr"))
    ).hint("merge")
    sims = (
        cand.join(_emb_side(emb, sigs, "src", "ea", "norm_a"), "src")
        .join(_emb_side(emb, sigs, "nbr", "eb", "norm_b"), "nbr")
        .withColumn(
            "sim", _cosine("ea", "eb", "norm_a", "norm_b", _pair_dot_udf())
        )
        .select("src", "nbr", "sim")
    )
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(), F.col("nbr"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_K)
        .select(F.col("src").alias("vec_id"), "rank",
                F.col("nbr").alias("nbr_id"), "sim")
        .orderBy("vec_id", "rank")
    )


def _knn_graph_sql() -> str:
    return f"""{_SQL_EMB_LSH_PREFIX},
cand as (
  select distinct a.vec_id src, b.vec_id nbr
  {_sql_probe_join("!=")}),
sims as (
  select c.src, c.nbr,
         {_sql_cos("na", "nb")} sim
  from cand c
  join normed na on na.vec_id = c.src
  join normed nb on nb.vec_id = c.nbr),
ranked as (
  select src, nbr, sim,
         row_number() over (partition by src
                            order by sim desc, nbr) rnk
  from sims)
select src vec_id, cast(rnk as int) rank, nbr nbr_id, sim
from ranked
where rnk <= {KNN_K}
order by vec_id, rank
"""


ORACLE["embed_knn_graph"] = _knn_graph_sql()


# ------------------------------------------------------- knn_graph_recall
KNNR_QUERIES = 50  # audit panel: vec_id < 50 (sim_topk_brute's panel)
# (n_bands, max_flips) operating points swept: the probe-radius curve
# at full band count, plus half the bands at full radius — the default
# index config (HP_BANDS, HP_MAX_FLIPS) is the last full-band point
KNNR_CONFIGS = (
    (HP_BANDS, 0),
    (HP_BANDS, 1),
    (HP_BANDS, 2),
    (HP_BANDS // 2, 2),
)


@_q("knn_graph_recall")
def knn_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall@K of the multiprobe hyperplane-LSH k-NN graph
    against the exact brute-force neighbors — the audit between
    embed_knn_graph (approximate BY CONSTRUCTION) and sim_topk_brute
    (the exact baseline): for each (band count, probe radius)
    operating point, how many of the true top-5 cosine neighbors of
    the 50-vector query panel survive in the LSH candidate top-5, and
    at what candidate-pair cost. The same empirical-curve discipline
    dedup_lsh_tuning established for MinHash banding, applied to
    the embedding index: the owner reads THIS table, not the
    1-(1-s^r)^b formula, before fixing the band count or probe
    radius; the default (HP_BANDS, HP_MAX_FLIPS) point is one of the
    swept rows.

    Plan: ONE witness join feeds every config (subset tagging): the
    panel probe stream carries each mask's
    flip count, a single (band, probe_val) equi-join + per-pair
    aggregate derives min-flips under full and half band prefixes,
    and each config is then a FILTER over the one checkpointed
    panel-bounded sims frame — no per-config candidate joins. Truth
    is the persisted `panel_truth` artifact shared with
    sim_topk_brute (the per-call 50-panel × corpus brute force was
    3.9s of every call's wall); its row count rides
    the artifact's _META sidecar, so no truth-side Spark jobs run at
    all on the warm path. Output is |configs| rows at any corpus
    size; the corpus-scale work is one single pass.

    Determinism: sims are the identical IEEE left fold in both
    engines; rank ties break on neighbor id; hit counts are exact
    integers."""
    from pyspark.sql.window import Window

    from duckdb_wasm_spark.operators.similarity import (
        N_QUERIES,
        panel_truth_memo,
    )

    assert KNNR_QUERIES == N_QUERIES  # one shared audit panel
    emb = load_table(spark, sf_dir, "embeddings")
    sigs = _emb_sigs_memo(spark, sf_dir)
    bits = _emb_corpus_bits(spark, sf_dir)
    # exact ground truth: the shared persisted panel top-K
    panel = panel_truth_memo(spark, sf_dir)
    truth = (
        panel["truth"]
        .where(F.col("rank") <= KNN_K)
        .select(
            F.col("query_id").alias("src"), F.col("neighbor_id").alias("nbr")
        )
    )
    n_true = panel.meta[f"n_top{KNN_K}"]
    # ONE flip-tagged probe join for all configs: nflips derives from
    # the mask's position in _probe_masks ([identity, 1-flips,
    # 2-flips] — documented order)
    arr = ",".join(f"{m}L" for m in _probe_masks(bits))
    pa = (
        sigs.where(F.col("vec_id") < KNNR_QUERIES)
        .select(
            F.col("vec_id").alias("src"),
            "band",
            "band_val",
            F.posexplode(F.expr(f"array({arr})")).alias("pos", "mask"),
        )
        .select(
            "src",
            "band",
            F.col("band_val").bitwiseXOR(F.col("mask")).alias("probe_val"),
            F.when(F.col("pos") == 0, 0)
            .when(F.col("pos") <= bits, 1)
            .otherwise(2)
            .alias("nflips"),
        )
    )
    wit = (
        pa.join(_bucket_side(sigs, "nbr"), ["band", "probe_val"])
        .where(F.col("src") != F.col("nbr"))
        .groupBy("src", "nbr")
        .agg(
            F.min("nflips").alias("mf_full"),
            F.min(
                F.when(F.col("band") < HP_BANDS // 2, F.col("nflips"))
            ).alias("mf_half"),
        )
    )
    sims = (
        wit.join(_emb_side(emb, sigs, "src", "ea", "norm_a"), "src")
        .join(_emb_side(emb, sigs, "nbr", "eb", "norm_b"), "nbr")
        .withColumn(
            "sim",
            # JVM-side fold: the pandas-UDF pair dot shuttled BOTH
            # 64-dim arrays per candidate pair over Arrow; the codegen
            # zip_with/aggregate form stays in the JVM and is the same
            # IEEE left fold (bit-identical, sim_topk_brute's own
            # formula)
            _cosine("ea", "eb", "norm_a", "norm_b"),
        )
        .select("src", "nbr", "sim", "mf_full", "mf_half")
    )
    # SINGLE-PASS config sweep (per-config filter branches over an
    # eagerly localCheckpoint'ed sims frame paid ~2s of the call's
    # wall for a checkpoint job that existed only so 4 branches could
    # rescan without recompute): each candidate pair
    # explodes to the configs whose min-flips bound admits it, ONE
    # window ranks every (config, src) group, ONE aggregate emits all
    # rows — the whole query is now a single lazy plan, no
    # materialization barrier. A config whose filter admits no pairs
    # still emits its row via the left join from the literal config
    # frame.
    cfg_structs = [
        F.when(
            (
                F.col("mf_full")
                if nbands == HP_BANDS
                else F.col("mf_half")
            )
            <= mflips,
            F.struct(
                F.lit(nbands).alias("n_bands"),
                F.lit(mflips).alias("max_flips"),
            ),
        )
        for nbands, mflips in KNNR_CONFIGS
    ]
    tagged = sims.select(
        "src",
        "nbr",
        "sim",
        F.explode(F.array_compact(F.array(*cfg_structs))).alias("cfg"),
    ).select("src", "nbr", "sim", "cfg.n_bands", "cfg.max_flips")
    wc = Window.partitionBy("n_bands", "max_flips", "src").orderBy(
        F.col("sim").desc(), F.col("nbr")
    )
    flagged = tagged.withColumn("rank", F.row_number().over(wc)).join(
        F.broadcast(truth.withColumn("is_true", F.lit(1))),
        ["src", "nbr"],
        "left",
    )
    agg = flagged.groupBy("n_bands", "max_flips").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(
            F.when(
                (F.col("rank") <= KNN_K) & F.col("is_true").isNotNull(),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_hits"),
    )
    cfgs = spark.createDataFrame(
        [(int(b), int(m)) for b, m in KNNR_CONFIGS],
        "n_bands int, max_flips int",
    )
    recall = F.when(
        F.lit(n_true) > 0, F.col("n_hits").cast("double") / F.lit(n_true)
    )
    return (
        # Catalyst broadcasts the 4-row agg side of the left join
        cfgs.join(agg, ["n_bands", "max_flips"], "left")
        .select(
            "n_bands",
            "max_flips",
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("long")
            .alias("n_candidates"),
            F.coalesce(F.col("n_hits"), F.lit(0))
            .cast("long")
            .alias("n_hits"),
        )
        .select(
            "n_bands",
            "max_flips",
            "n_candidates",
            "n_hits",
            F.lit(n_true).cast("long").alias("n_true"),
            recall.alias("recall"),
        )
        .orderBy("n_bands", "max_flips")
    )


def _knn_recall_sql() -> str:
    ctes = [
        _SQL_EMB_LSH_PREFIX
        + f""",
truthp as (
  select src, nbr from (
    select a.vec_id src, b.vec_id nbr,
           row_number() over (
             partition by a.vec_id
             order by {_sql_cos("a", "b")} desc, b.vec_id) rnk
    from normed a join normed b on a.vec_id != b.vec_id
    where a.vec_id < {KNNR_QUERIES})
  where rnk <= {KNN_K}),"""
    ]
    ctes.append(
        f"""wit as (
  select a.vec_id src, b.vec_id nbr,
         min(m.nflips) mf_full,
         min(case when a.band < {HP_BANDS // 2} then m.nflips end) mf_half
  {_sql_probe_join("!=")} and a.vec_id < {KNNR_QUERIES}
  group by 1, 2),"""
    )
    ctes.append(
        f"""sims as (
  select w.src, w.nbr, w.mf_full, w.mf_half,
         {_sql_cos("na", "nb")} sim
  from wit w
  join normed na on na.vec_id = w.src
  join normed nb on nb.vec_id = w.nbr),"""
    )
    stats = []
    for i, (nbands, mflips) in enumerate(KNNR_CONFIGS):
        mfcol = "mf_full" if nbands == HP_BANDS else "mf_half"
        ctes.append(
            f"""ranked_{i} as (
  select src, nbr,
         row_number() over (partition by src
                            order by sim desc, nbr) rnk
  from sims where {mfcol} <= {mflips}),"""
        )
        ctes.append(
            f"""stat_{i} as (
  select {nbands} n_bands, {mflips} max_flips, count(*) n_candidates,
         cast(coalesce(sum(case when rnk <= {KNN_K}
                                 and t.src is not null
                                then 1 else 0 end), 0) as bigint) n_hits
  from ranked_{i} c left join truthp t using (src, nbr)),"""
        )
        stats.append(f"select * from stat_{i}")
    body = "\n".join(ctes).rstrip(",")
    union = "\nunion all\n".join(stats)
    return f"""{body},
stats as (
{union})
select n_bands, max_flips, n_candidates, n_hits,
       cast((select count(*) from truthp) as bigint) n_true,
       case when (select count(*) from truthp) > 0
            then cast(n_hits as double)
                 / (select count(*) from truthp) end recall
from stats
order by n_bands, max_flips"""


ORACLE["knn_graph_recall"] = _knn_recall_sql()


# --------------------------------------------------- lsh_candidate_growth
# (label, vec_id modulus): the half corpus and the full corpus — two
# gated sizes for the sub-quadraticity pin
LSH_GROWTH_SUBSETS = (("full", 1), ("half", 2))


@_q("lsh_candidate_growth")
def lsh_candidate_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GATED candidate-pair-growth audit for the embedding LSH index:
    runs the identical adaptive-bit multiprobe
    candidate generator at two corpus sizes (the deterministic
    vec_id % 2 = 0 half and the full corpus) and emits, per size, the
    corpus count, the adaptive band width, the distinct candidate-pair
    count, and the max bucket occupancy. The scale law under test:
    doubling N must grow candidates SUB-quadratically (< 4×, pinned ≤
    3× in pytest) and keep max bucket occupancy O(1) (pinned ≤ 64) —
    because _hp_bits adds a bit per doubling, expected occupancy
    n / 2^bits is constant in (0.25, 0.5].

    Plan: per size, one mapInPandas signature pass (the half corpus
    gets its own — its adaptive width differs BY DESIGN, so it can
    never be filter-derived from the full-corpus frame; both passes
    are DISK-PERSISTED artifacts, so the build runs once ever and
    cold sessions reload parquet), one
    bare-key probe equi-join + distinct count, one groupBy max — all
    aggregates; the two 1-row frames scalar-cross into output rows.
    Corpus counts ride in as literals (parquet-metadata-cheap), the
    CC-loop discipline."""
    from duckdb_wasm_spark.artifacts import persisted_frames

    rows = []
    for label, mod in LSH_GROWTH_SUBSETS:
        if mod == 1:
            sigs = _emb_sigs_memo(spark, sf_dir)
            bits = _emb_corpus_bits(spark, sf_dir)
            n = load_table(spark, sf_dir, "embeddings").count()
            # the full-corpus candidate frame IS the session memo the
            # family consumers share — count it, don't regenerate it
            cand = _lsh_pairs_memo(spark, sf_dir)
        else:
            emb_sub = load_table(spark, sf_dir, "embeddings").where(
                F.col("vec_id") % mod == 0
            )
            n = emb_sub.count()
            bits = _hp_bits(n)
            sigs = persisted_frames(
                spark,
                f"lsh_sigs_mod{mod}",
                sf_dir,
                ("embeddings",),
                # default-arg binding: iteration-safe no matter when
                # the build runs (no late binding of the loop variables)
                lambda e=emb_sub, b=bits: {
                    "sigs": _emb_signatures(e, b)
                },
            )["sigs"]
            cand = _probe_pairs(sigs, bits)
        ncand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
        maxb = (
            sigs.groupBy("band", "band_val")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.max("c").alias("max_bucket"))
        )
        rows.append(
            ncand.crossJoin(maxb).select(
                F.lit(label).alias("subset"),
                F.lit(n).cast("long").alias("n_vectors"),
                F.lit(bits).alias("bits"),
                "n_candidates",
                "max_bucket",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("subset")


def _lsh_growth_sql() -> str:
    pipelines = []
    selects = []
    for label, mod in LSH_GROWTH_SUBSETS:
        t = f"_{label[0]}"
        source = (
            "embeddings"
            if mod == 1
            else f"(select * from embeddings where vec_id % {mod} = 0)"
        )
        pipelines.append(_emb_lsh_sql_ctes(source=source, tag=t))
        pipelines.append(
            f"""cand{t} as (
  select distinct a.vec_id a_id, b.vec_id b_id
  {_sql_probe_join("<", t)}),
row{t} as (
  select '{label}' subset,
         (select count(*) from {source}) n_vectors,
         cast((select bits from nb{t}) as int) bits,
         (select count(*) from cand{t}) n_candidates,
         (select max(c) from (select count(*) c from bands{t}
                              group by band, band_val)) max_bucket)"""
        )
        selects.append(f"select * from row{t}")
    body = ",\n".join(pipelines)
    union = "\nunion all\n".join(selects)
    return f"""
with {body}
{union}
order by subset
"""


ORACLE["lsh_candidate_growth"] = _lsh_growth_sql()


# ---------------------------------------------------- dedup_jaccard_prefix
# prefix length for Jaccard >= 1/5: p = n - ceil(n/5) + 1, all-integer
PFX_T_DEN = 5  # threshold as the exact rational 1/5 == JACCARD_THRESHOLD


def _gram_index_memo(spark: SparkSession, sf_dir: str):
    """DISK-PERSISTED trigram-shingle index over `documents`: the
    "arrays" frame, (doc_id, grams, n) — each document's distinct
    trigram-shingle array with its cardinality, the tokenize pass a
    near-dup service materializes once on ingest. Consumers:
    dedup_ngram_jaccard (and so dedup_jaccard_prefix), dedup_minhash's
    verify, the pipeline near-dup compositions and text novelty.
    Served raw (a plain scan; consumers shuffle or broadcast it).
    Measured against re-tokenizing per query (sf0.1, 4 cores, warm
    medians): dedup_ngram_jaccard 2.64s served vs 3.97s recomputed.
    Reload ≡ rebuild is pinned in tests/test_artifacts.py.

    At 100 TB the frame is written BUCKETED by doc_id, so the verify
    joins co-partition with the candidate stream once the doc→grams
    map outgrows broadcast."""
    from duckdb_wasm_spark.artifacts import persisted_frames

    def _build():
        docs = load_table(spark, sf_dir, "documents")
        return {
            "arrays": _gram_arrays(docs).select(
                "doc_id", "grams", F.size("grams").alias("n")
            )
        }

    return persisted_frames(
        spark,
        "gram_index",
        sf_dir,
        ("documents",),
        _build,
        layout={"arrays": "raw"},
    )


# dedup_jaccard_prefix names the prefix-filtering formulation (AllPairs/
# PPJoin, Bayardo et al., WWW 2007): under a global rarest-first token
# order two sets reach Jaccard >= t only if their first
# p = n - ceil(t*n) + 1 tokens share one, so only prefix postings enter
# the candidate join. The oracle below states that formulation; Spark
# serves the registered query with the posting-list plan of
# dedup_ngram_jaccard, which returns the same exact pair set. The
# persisted-prefix plan this replaced was slower: at sf0.1 on 4 cores
# (fresh-process ABBA, warm medians) posting lists took 2.86s and the
# prefix plan 7.88s. test_operator_parity therefore checks the prefix
# filter's losslessness against Spark's exact pairs.
QUERIES["dedup_jaccard_prefix"] = dedup_ngram_jaccard


ORACLE["dedup_jaccard_prefix"] = f"""
with grams as ({_SQL_GRAM_SETS}),
sizes as (select doc_id, count(*) n from grams group by 1),
dfc as (select gram, count(*) df from grams group by 1),
ranked as (
  select g.doc_id, g.gram, s.n,
         row_number() over (partition by g.doc_id
                            order by d.df, g.gram) rn
  from grams g
  join dfc d using (gram)
  join sizes s using (doc_id)),
prefix as (
  select doc_id, gram from ranked
  where rn <= n - (n + {PFX_T_DEN - 1}) // {PFX_T_DEN} + 1),
cand as (
  select distinct a.doc_id doc_a, b.doc_id doc_b
  from prefix a join prefix b on a.gram = b.gram and a.doc_id < b.doc_id),
inter as (
  select c.doc_a, c.doc_b, count(*) n_common
  from cand c
  join grams ga on ga.doc_id = c.doc_a
  join grams gb on gb.doc_id = c.doc_b and gb.gram = ga.gram
  group by 1, 2)
select i.doc_a, i.doc_b,
       cast(n_common as double) / (sa.n + sb.n - n_common) jaccard
from inter i
join sizes sa on i.doc_a = sa.doc_id
join sizes sb on i.doc_b = sb.doc_id
where cast(n_common as double) / (sa.n + sb.n - n_common)
      >= {JACCARD_THRESHOLD}
"""


# -------------------------------------------------- dedup_incremental_ingest
INGEST_MOD = 5  # doc_id % 5 == 4 -> incoming batch (20%); rest = index


@_q("dedup_incremental_ingest")
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup ingest — the production shape of MinHash
    dedup once a corpus is LIVE: a new crawl batch (here the stable
    20% slice doc_id % 5 = 4) is deduplicated AGAINST the existing
    index (the other 80%), never against itself and never re-joining
    the index to itself. Per incoming doc the verdict is (dup_of =
    best-matching index doc | null, jaccard, is_dup) — exactly what an
    ingest pipeline writes to its admission log.

    Why this is its own operator and not dedup_minhash on a union: at
    100 TB the index's band postings are PRECOMPUTED and stored (built
    once, appended per batch); each ingest probes |batch| signatures
    against them via the same (band, key) equi-join — cost scales with
    the batch and its real collisions, not the corpus. Re-running the
    full self-join per batch (the naive alternative) re-pays the whole
    corpus every day. The asymmetric join also halves candidate count
    (no index x index, no batch x batch pairs — those were settled at
    their own ingest time).

    Same constants as dedup_minhash (16 hashes, 4 bands, Jaccard >=
    0.2 verify on exact trigram sets), so its recall curve is the one
    dedup_lsh_tuning measured. Best-match ties break on index doc id;
    output is |batch| rows at any scale (left join keeps non-dups)."""
    docs = load_table(spark, sf_dir, "documents")
    newd = docs.where(F.expr(f"doc_id % {INGEST_MOD} = {INGEST_MOD - 1}"))
    oldd = docs.where(F.expr(f"doc_id % {INGEST_MOD} <> {INGEST_MOD - 1}"))

    bn = _minhash_bands(_minhash_sigs(newd)).select(
        F.col("doc_id").alias("new_id"), "band", "key"
    )
    bo = _minhash_bands(_minhash_sigs(oldd)).select(
        F.col("doc_id").alias("old_id"), "band", "key"
    )
    cand = (
        bn.join(bo, ["band", "key"]).select("new_id", "old_id").distinct()
    )
    gn = _gram_arrays(newd).select(
        F.col("doc_id").alias("new_id"), F.col("grams").alias("grams_n")
    )
    go = _gram_arrays(oldd).select(
        F.col("doc_id").alias("old_id"), F.col("grams").alias("grams_o")
    )
    ver = (
        cand.join(gn, "new_id")
        .join(go, "old_id")
        .withColumn("jaccard", _array_jaccard("grams_n", "grams_o"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("new_id", "old_id", "jaccard")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("new_id").orderBy(
        F.col("jaccard").desc(), F.col("old_id")
    )
    best = (
        ver.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("new_id", F.col("old_id").alias("dup_of"), "jaccard")
    )
    return (
        newd.select(F.col("doc_id").alias("new_id"))
        .join(best, "new_id", "left")
        .select(
            "new_id",
            "dup_of",
            "jaccard",
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
        .orderBy("new_id")
    )


def _incremental_sql() -> str:
    """Oracle: the same asymmetric probe, built from the signature and
    band-row texts of the dedup_minhash oracle."""
    parts = [
        f"""with alldocs as (
  select doc_id, {sql_ngrams(sql_toks('text'), 3)} grams from documents),
newd as (select * from alldocs where doc_id % {INGEST_MOD} = {INGEST_MOD - 1}),
oldd as (select * from alldocs where doc_id % {INGEST_MOD} <> {INGEST_MOD - 1}),"""
    ]
    for k, src in (("new", "newd"), ("old", "oldd")):
        g = f"(select doc_id, unnest(grams) g from {src})"
        parts.append(
            f"""{_sql_sigs(g, "g", f"_{k}")},
bands_{k} as (
{_sql_band_rows(f"sigs_{k}")}),"""
        )
    jac = _sql_list_jaccard("gn.grams", "go.grams")
    parts.append(
        f"""cand as (
  select distinct n.doc_id new_id, o.doc_id old_id
  from bands_new n join bands_old o
    on n.band = o.band and n.bkey = o.bkey),
ver as (
  select new_id, old_id,
         {jac} jaccard
  from cand
  join newd gn on new_id = gn.doc_id
  join oldd go on old_id = go.doc_id
  where {jac}
        >= {JACCARD_THRESHOLD}),
best as (
  select new_id, old_id dup_of, jaccard
  from (select new_id, old_id, jaccard,
               row_number() over (partition by new_id
                                  order by jaccard desc, old_id) rn
        from ver)
  where rn = 1)
select n.doc_id new_id, b.dup_of, b.jaccard,
       b.dup_of is not null is_dup
from newd n left join best b on n.doc_id = b.new_id
order by new_id"""
    )
    return "\n".join(parts)


ORACLE["dedup_incremental_ingest"] = _incremental_sql()


# ------------------------------------------------- dedup_source_matrix
@_q("dedup_source_matrix")
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: the exact trigram-Jaccard
    near-dup pairs rolled up by (source, source) — the diagnostic that
    says WHERE the duplication lives. Off-diagonal mass means two
    sources ship the same documents, so a mixture that weights them
    independently double-counts that content (the mixture-design
    counterpart of corpus_source_overlap, which compares vocabularies;
    this compares actual near-duplicate documents). Output: normalized
    (source_a <= source_b) pair, pair count, strongest jaccard.

    Plan (100 TB): the pair frame is dedup_ngram_jaccard's posting-
    list join (collision-bounded); the rollup adds two doc_id equi-
    joins to attach sources and one |sources|²-bounded aggregate —
    nothing new shuffles at corpus scale."""
    pairs = QUERIES["dedup_ngram_jaccard"](spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = pairs.join(
        src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
        "doc_a",
    ).join(
        src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
        "doc_b",
    )
    return (
        j.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


ORACLE["dedup_source_matrix"] = f"""{_SQL_PAIR_OVERLAPS},
pj as ({_SQL_JACCARD_PAIRS}),
sp as (
  select least(da.source, db.source) source_a,
         greatest(da.source, db.source) source_b,
         pj.jaccard
  from pj
  join documents da on pj.doc_a = da.doc_id
  join documents db on pj.doc_b = db.doc_id)
select source_a, source_b, count(*) n_pairs, max(jaccard) max_jaccard
from sp group by source_a, source_b
"""


# -------------------------------------------------- dedup_edit_verify
EDIT_SIM_MIN = 0.8  # normalized edit similarity to call a fuzzy dup


@_q("dedup_edit_verify")
def dedup_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance VERIFICATION of near-dup candidates — the verify
    stage of a fuzzy-dedup pipeline (candidates from a cheap
    set-similarity index, the expensive character-level check run only
    on them): for every exact trigram-Jaccard candidate pair, the
    Levenshtein distance over the raw texts and the normalized
    similarity 1 − d/max(|a|, |b|), flagged at EDIT_SIM_MIN. Jaccard
    sees bags of shingles — it misses that two docs differ by a
    scattered character noise pattern vs a block edit; edit distance
    is the order-sensitive ground truth on the candidate set.

    Determinism: Levenshtein is an exact integer (Spark
    `levenshtein` ≡ DuckDB `levenshtein`, the standard DP); lengths
    are exact ints; the one division per pair is correctly rounded
    IEEE on integer-derived operands.

    Plan (100 TB): the candidate pairs come from the posting-list
    join (collision-bounded, never n²); texts attach via two doc_id
    equi-joins; the O(|a|·|b|) DP runs ONLY on candidate pairs —
    exactly the index-then-verify decomposition that makes
    character-level dedup feasible at scale."""
    pairs = QUERIES["dedup_ngram_jaccard"](spark, sf_dir)
    txt = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    j = pairs.join(
        txt.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta")),
        "doc_a",
    ).join(
        txt.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb")),
        "doc_b",
    )
    d = F.levenshtein("ta", "tb")
    mx = F.greatest(F.length("ta"), F.length("tb"))
    sim = F.lit(1.0) - d.cast("double") / mx.cast("double")
    return j.select(
        "doc_a",
        "doc_b",
        "jaccard",
        d.alias("edit_distance"),
        sim.alias("edit_sim"),
        (sim >= EDIT_SIM_MIN).alias("is_fuzzy_dup"),
    )


ORACLE["dedup_edit_verify"] = f"""{_SQL_PAIR_OVERLAPS},
pj as ({_SQL_JACCARD_PAIRS})
select pj.doc_a, pj.doc_b, pj.jaccard,
       cast(levenshtein(da.text, db.text) as int) edit_distance,
       1.0 - cast(levenshtein(da.text, db.text) as double)
             / cast(greatest(length(da.text), length(db.text)) as double)
         edit_sim,
       1.0 - cast(levenshtein(da.text, db.text) as double)
             / cast(greatest(length(da.text), length(db.text)) as double)
         >= {EDIT_SIM_MIN} is_fuzzy_dup
from pj
join documents da on pj.doc_a = da.doc_id
join documents db on pj.doc_b = db.doc_id
"""


register_texts(QUERIES, ORACLE)
