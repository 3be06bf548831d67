"""End-to-end training-corpus pipeline compositions — the operators of
text.py/dedup.py chained the way a real data-curation job runs them,
registered as oracle-checked queries: quality cuts, exact and near
dedup, corpus rollups and diagnostics, deterministic sampling and
chunking.

Eight queries run their own oracle text through the dialect translator
(`plans/_util.register_texts`): sample_balanced, sample_split,
corpus_mix_weights, doc_chunking, corpus_zipf_slope,
corpus_source_divergence, corpus_token_regression and
sample_weighted_priority. The rest keep a DataFrame plan:
  - sample_token_budget, sample_pack_sequences, sample_mixture_budget
    and corpus_length_quantiles: their texts window each language's or
    source's whole share of the corpus in one task, where the plans use
    the two-phase offsets of ranks.py or reduce to a histogram first;
  - the others, because their text measured 1.8x or more slower at
    sf0.1. Most of them read the persisted quality-score frame
    (`_scored_memo`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_wasm_spark.operators._text import (
    STOPWORDS,
    ngrams,
    sql_ngrams,
    sql_str_list,
    sql_toks,
    toks,
)
from duckdb_wasm_spark.operators.dedup import (
    _gram_index_memo,
    _minhash_sigs_memo,
    _minhash_sql_parts,
    _sql_closure,
    _symmetric_edges,
    connected_components,
    minhash_pairs,
)
from duckdb_wasm_spark.plans._util import register_texts
from duckdb_wasm_spark.tables import load_table

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


def _q(name):
    def reg(fn):
        QUERIES[name] = fn
        return fn

    return reg


QUALITY_MIN = 0.73  # ~25th percentile of the synthetic corpus: a real cut


def _scored(docs: DataFrame) -> DataFrame:
    """doc_id, lang, n_tokens, quality — the text_stats quality formula
    inlined (0.3·TTR + 0.4·min(1, n/50) + 0.3·(1−stopword_ratio))."""
    t = toks()
    sw = STOPWORDS["en"]
    d = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct"),
        F.size(F.filter(t, lambda x: x.isin(*sw))).alias("n_stop"),
    )
    ttr = F.col("n_distinct").cast("double") / F.col("n_tokens")
    swr = F.col("n_stop").cast("double") / F.col("n_tokens")
    return d.select(
        "doc_id",
        "lang",
        "text",
        "n_tokens",
        (
            F.lit(0.3) * ttr
            + F.lit(0.4)
            * F.least(F.lit(1.0), F.col("n_tokens").cast("double") / F.lit(50.0))
            + F.lit(0.3) * (F.lit(1.0) - swr)
        ).alias("quality"),
    )


_SQL_SCORED = f"""
  select doc_id, lang, text,
         len({sql_toks('text')}) n_tokens,
         0.3 * (cast(len(list_distinct({sql_toks('text')})) as double)
                / len({sql_toks('text')}))
           + 0.4 * least(1.0, cast(len({sql_toks('text')}) as double) / 50.0)
           + 0.3 * (1.0 - cast(len(list_filter({sql_toks('text')},
               x -> list_contains({sql_str_list(STOPWORDS['en'])}, x)))
               as double) / len({sql_toks('text')})) quality
  from documents
"""


def _scored_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISK-PERSISTED per-document quality features: doc_id,
    lang, source, n_tokens, quality, fp — the scored frame every
    curation composition starts from. EIGHT consumers re-ran the
    tokenizer + stopword-filter + fingerprint pass over `documents`
    per call (pipeline_clean_corpus, corpus_stats, quality_buckets,
    corpus_mix_weights, pipeline_near_dedup_corpus,
    corpus_health_report, sample_mixture_budget,
    pipeline_canonical_best — several of them MULTIPLE times per
    plan, since tot/surv/kept branches each re-derive the scored
    subtree); a production pipeline scores quality ONCE at ingest and
    every downstream stage reads the feature columns. Shared derived
    state, like every persisted artifact (never a single query's own
    output — every consumer still runs its own filter/aggregate/join
    logic over these per-doc features). Reload ≡ rebuild is pinned in
    tests/test_artifacts.py. Served raw: the frame is one narrow row
    per document and every consumer aggregates or joins it (shuffles
    anyway), so a respread job would cost more than the rescans."""
    from duckdb_wasm_spark.artifacts import persisted_frames

    def _build() -> dict[str, DataFrame]:
        docs = load_table(spark, sf_dir, "documents")
        scored = _scored(docs).select(
            "doc_id",
            "lang",
            "n_tokens",
            "quality",
            F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
        )
        return {
            "scored": scored.join(
                docs.select("doc_id", "source"), "doc_id"
            )
        }

    return persisted_frames(
        spark,
        "quality_scores",
        sf_dir,
        ("documents",),
        _build,
        layout={"scored": "raw"},
    )["scored"]


# ------------------------------------------------- pipeline_clean_corpus
@_q("pipeline_clean_corpus")
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter then exact-dedup: keep each distinct normalized
    text's smallest surviving doc_id, with its quality score.

    Single pass (a groupBy-keepers + semi-join consumed the scored
    frame twice, re-running the tokenizer): the fingerprint is
    computed map-side, the text column is dropped BEFORE the shuffle
    so only narrow columns cross the wire, and the
    min-doc_id keeper test is one window over the fp partition —
    measured 0.55s vs 0.70s at sf0.1 with identical results, and one
    tokenize pass instead of two at any scale. The scored+fp
    frame is served from the quality_scores ingest artifact
    (_scored_memo) — no tokenize pass at all on the query path."""
    from pyspark.sql.window import Window

    scored = _scored_memo(spark, sf_dir).where(
        F.col("quality") >= QUALITY_MIN
    )
    w = Window.partitionBy("fp")
    return (
        scored.withColumn("_min_id", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("_min_id"))
        .select("doc_id", "lang", "n_tokens", "quality")
    )


ORACLE["pipeline_clean_corpus"] = f"""
with scored as ({_SQL_SCORED}),
surviving as (select * from scored where quality >= {QUALITY_MIN}),
keepers as (
  select min(doc_id) doc_id
  from surviving group by md5(lower(trim(text))))
select doc_id, lang, n_tokens, quality
from surviving
where doc_id in (select doc_id from keepers)
"""


# ------------------------------------------------------------ corpus_stats
@_q("corpus_stats")
def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus rollup: docs, tokens, token mean, and the
    quality range. Every aggregate is order-independent (counts,
    integer sums, double min/max) so results hash-match without any
    tolerance — a double SUM of per-doc qualities would be
    partition-order-dependent and is deliberately avoided.

    Aggregates the quality_scores ingest artifact (_scored_memo)
    instead of re-running the tokenizer pass per call."""
    return (
        _scored_memo(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias(
                "mean_tokens"
            ),
            F.min("quality").alias("min_quality"),
            F.max("quality").alias("max_quality"),
        )
    )


ORACLE["corpus_stats"] = f"""
with scored as ({_SQL_SCORED})
select lang, count(*) n_docs, cast(sum(n_tokens) as bigint) n_tokens,
       cast(sum(n_tokens) as double) / count(*) mean_tokens,
       min(quality) min_quality,
       max(quality) max_quality
from scored
group by lang
"""


# ------------------------------------------------------- sample_balanced
BALANCE_CAP = 60  # max docs kept per language

# deterministic shuffle order: md5 of the doc id is a uniform,
# engine-independent pseudo-random key; doc_id breaks (impossible)
# hex ties so the ordering is total in both engines
def _hash_order():
    # lazy: Column construction needs an active session
    return (F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))


_SQL_HASH_ORDER = "md5(cast(doc_id as varchar)), doc_id"

# Language-balanced corpus selection: keep at most BALANCE_CAP documents
# per language, chosen by deterministic hash order — the standard
# rebalancing step before mixing a multilingual training corpus
# (downsamples over-represented languages without an RNG, so the sample
# is reproducible run to run and engine to engine).
ORACLE["sample_balanced"] = f"""
select doc_id, lang, rk
from (
  select doc_id, lang,
         row_number() over (partition by lang
                            order by {_SQL_HASH_ORDER}) rk
  from documents)
where rk <= {BALANCE_CAP}
"""


# --------------------------------------------------- sample_token_budget
TOKEN_BUDGET = 2000  # max tokens kept per language


@_q("sample_token_budget")
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: walk each language's documents in
    deterministic hash order and keep documents while the running token
    total stays within TOKEN_BUDGET — how a fixed-size pretraining mix
    is actually drawn (budgets are in tokens, not documents).

    Scale: the running sum goes through ranks.keyed_prefix_sum (two-
    phase distributed cumsum) rather than a lang-partitioned window —
    a handful-of-languages partition key would funnel each language's
    whole corpus share through one task (the extra_stats defect
    class)."""
    from duckdb_wasm_spark.ranks import keyed_prefix_sum

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(toks()).alias("n_tokens"),
        _hash_order()[0].alias("_ok"),
    )
    cum = keyed_prefix_sum(
        docs, ["_ok", "doc_id"], "n_tokens", keys=["lang"]
    )
    return (
        cum.where(F.col("cum") <= TOKEN_BUDGET)
        .select(
            "doc_id", "lang", "n_tokens", F.col("cum").alias("cum_tokens")
        )
    )


ORACLE["sample_token_budget"] = f"""
select doc_id, lang, n_tokens, cum_tokens
from (
  select doc_id, lang, n_tokens,
         cast(sum(n_tokens) over (partition by lang
                                  order by {_SQL_HASH_ORDER}
                                  rows unbounded preceding) as bigint)
           cum_tokens
  from (select doc_id, lang, len({sql_toks('text')}) n_tokens
        from documents))
where cum_tokens <= {TOKEN_BUDGET}
"""


# ---------------------------------------------------------- sample_split
SPLIT_PCT = (80, 10, 10)  # train / val / test

# Deterministic stratified train/val/test assignment: each doc's
# md5-derived bucket (0-99) maps to a split, so membership is a pure
# function of doc_id — stable across runs, engines, and cluster sizes
# (the property a reproducible pretraining mix needs). Output is the
# per-(lang, split) doc/token rollup.
ORACLE["sample_split"] = f"""
with assigned as (
  select lang,
         case
           when b < {SPLIT_PCT[0]} then 'train'
           when b < {SPLIT_PCT[0] + SPLIT_PCT[1]} then 'val'
           else 'test'
         end split,
         len({sql_toks('text')}) n_tok
  from (select lang, text,
               ('0x' || substr(md5('split' || cast(doc_id as varchar)),
                               1, 4))::int % 100 b
        from documents))
select lang, split, count(*) n_docs, cast(sum(n_tok) as bigint) n_tokens
from assigned
group by lang, split
"""


# ---------------------------------------------------- decontaminate_ngram
DECON_N = 5  # shingle width (tokens)
DECON_MIN_SHARED = 3  # distinct shared shingles to call contamination
DECON_EVAL_MOD = 20  # held-out split: doc_id % DECON_EVAL_MOD == 0


@_q("decontaminate_ngram")
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ≥
    DECON_MIN_SHARED distinct 5-gram shingles with any held-out
    ("benchmark") document — the standard n-gram-overlap contamination
    check run before pretraining. The held-out split is the deterministic
    doc_id % DECON_EVAL_MOD == 0 slice so both engines derive it
    identically.

    Scale: inverted-index equi-join on the shingle — cost follows
    collisions, never n². The benchmark side is tiny relative to the
    corpus (that is the point of the check), so it is broadcast: the
    train-side scan never shuffles. Per-pair overlap counts are a
    map-side-combining hash aggregate on the high-cardinality
    (train_id, eval_id) key."""
    docs = load_table(spark, sf_dir, "documents")
    shingled = docs.select(
        "doc_id", F.explode(ngrams(toks(), DECON_N)).alias("gram")
    )
    ev = shingled.where(
        F.col("doc_id") % DECON_EVAL_MOD == 0
    ).withColumnRenamed("doc_id", "eval_id")
    train = shingled.where(
        F.col("doc_id") % DECON_EVAL_MOD != 0
    ).withColumnRenamed("doc_id", "train_id")
    pairs = (
        train.join(F.broadcast(ev), "gram")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= DECON_MIN_SHARED)
    )
    return pairs.groupBy("train_id").agg(
        F.count(F.lit(1)).alias("n_eval_matches"),
        F.max("n_shared").alias("max_shared"),
    )


ORACLE["decontaminate_ngram"] = f"""
with shingled as (
  select doc_id, unnest({sql_ngrams(sql_toks('text'), DECON_N)}) gram
  from documents),
ev as (select doc_id eval_id, gram from shingled
       where doc_id % {DECON_EVAL_MOD} = 0),
train as (select doc_id train_id, gram from shingled
          where doc_id % {DECON_EVAL_MOD} != 0),
pairs as (
  select train_id, eval_id, count(*) n_shared
  from train join ev using (gram)
  group by train_id, eval_id
  having count(*) >= {DECON_MIN_SHARED})
select train_id, count(*) n_eval_matches, max(n_shared) max_shared
from pairs
group by train_id
"""


# ------------------------------------------------------ corpus_mix_weights
MIX_ALPHA = 0.7  # temperature exponent: upweights low-resource sources

# Temperature-scaled source mixture weights: per-source token totals,
# raw corpus share, and the sampling weight w_s ∝ tokens_s^α (α=0.7) —
# the standard multilingual/multi-source rebalancing rule (upweights
# low-resource sources relative to proportional sampling). The weight
# is rounded to 12 decimals, far coarser than the ulp-level pow() and
# summation-order differences between engines.
ORACLE["corpus_mix_weights"] = f"""
with s as (
  select source, count(*) n_docs,
         cast(sum(len({sql_toks('text')})) as bigint) n_tokens
  from documents group by source)
select source, n_docs, n_tokens,
       cast(n_tokens as double) / cast(sum(n_tokens) over () as double)
         token_share,
       round(pow(cast(n_tokens as double), {MIX_ALPHA})
             / sum(pow(cast(n_tokens as double), {MIX_ALPHA})) over (), 12)
         mix_weight_t07
from s
"""


# ------------------------------------------------- sample_pack_sequences
SEQ_LEN = 2048  # training sequence length in tokens


@_q("sample_pack_sequences")
def sample_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing: lay each language's documents out in
    deterministic hash order and cut the token stream into SEQ_LEN-token
    training sequences; a document belongs to the sequence its first
    token lands in. Output is the per-sequence manifest (doc count,
    token total, fill ratio) a batch loader would consume.

    This is the streaming-concat packing used for pretraining batches
    (documents are concatenated then split every SEQ_LEN tokens), not
    bin-packing — the assignment is a pure function of the running
    cumsum, deterministic, and oracle-checkable.
    Scale: identical shape to sample_token_budget — the running cumsum
    goes through ranks.keyed_prefix_sum (two-phase distributed cumsum)
    instead of a handful-of-languages partitioned window; one shuffle
    for the (lang, seq_id) aggregate."""
    from duckdb_wasm_spark.ranks import keyed_prefix_sum

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(toks()).alias("n_tokens"),
        _hash_order()[0].alias("_ok"),
    )
    cum = keyed_prefix_sum(
        docs, ["_ok", "doc_id"], "n_tokens", keys=["lang"]
    )
    placed = cum.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(
            (F.col("cum") - F.col("n_tokens")) / F.lit(SEQ_LEN)
        ).alias("seq_id"),
    )
    return (
        placed.groupBy("lang", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .select(
            "lang",
            "seq_id",
            "n_docs",
            "seq_tokens",
            "first_doc",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.col("seq_tokens").cast("double") / F.lit(SEQ_LEN),
                ),
                12,
            ).alias("fill_ratio"),
        )
    )


ORACLE["sample_pack_sequences"] = f"""
with placed as (
  select doc_id, lang, n_tokens,
         cast(floor((sum(n_tokens) over (partition by lang
                                         order by {_SQL_HASH_ORDER}
                                         rows unbounded preceding)
                     - n_tokens) / {SEQ_LEN}.0) as bigint) seq_id
  from (select doc_id, lang, len({sql_toks('text')}) n_tokens
        from documents))
select lang, seq_id, count(*) n_docs,
       cast(sum(n_tokens) as bigint) seq_tokens,
       min(doc_id) first_doc,
       round(least(1.0, cast(sum(n_tokens) as double) / {SEQ_LEN}), 12)
         fill_ratio
from placed
group by lang, seq_id
"""


# ----------------------------------------------------------- doc_chunking
CHUNK_LEN = 64  # tokens per training/embedding chunk
CHUNK_STRIDE = 48  # chunk start stride (CHUNK_LEN - CHUNK_STRIDE overlap)

# Sliding-window document chunking: cut each document's token stream
# into CHUNK_LEN-token windows every CHUNK_STRIDE tokens (16 tokens of
# overlap) — the standard context-window chunking step before embedding
# or long-context training. Output is the chunk manifest (id, 1-based
# token start, length, text).
ORACLE["doc_chunking"] = f"""
with base as (
  select doc_id, {sql_toks('text')} t, len({sql_toks('text')}) n
  from documents),
ch as (
  select doc_id, t,
         unnest(range(0, greatest(n, 1), {CHUNK_STRIDE})) st
  from base)
select doc_id,
       st // {CHUNK_STRIDE} chunk_id,
       st + 1 chunk_start,
       len(t[st + 1 : st + {CHUNK_LEN}]) n_chunk_tokens,
       array_to_string(t[st + 1 : st + {CHUNK_LEN}], ' ') chunk_text
from ch
"""


# ------------------------------------------------- corpus_length_quantiles
# percentile_disc ranks as exact integer fractions (numerator,
# denominator): rank = ceil(p·n) = (num·n + den − 1) div den — no float
# literal ever touches the computation (DuckDB parses 0.9 as DECIMAL
# while a Python 0.9 is a double; integer arithmetic sidesteps the
# mismatch entirely).
QUANTILES = (("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p90", 9, 10))


@_q("corpus_length_quantiles")
def corpus_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact token-count percentiles (percentile_disc
    semantics: the value at rank ceil(p·n), ties broken by doc_id) —
    the length-distribution audit run before choosing chunk/sequence
    sizes for a training mix. Discrete ranks keep everything integer →
    bit-identical across engines (no interpolation float math).

    Scale (100 TB): the corpus is reduced map-side to a CUMULATIVE
    HISTOGRAM — groupBy (lang, n_tokens) → count — before any window
    runs, so the lang-partitioned running count's frames hold the
    DISTINCT token-count values (bounded by the document-length
    domain, corpus-independent), never the documents themselves
    (a per-row row_number would put each language's whole corpus
    share through one task). The value at rank k is the smallest
    n_tokens whose running count reaches k —
    identical to the rn == k pick because duplicates of the picked
    value are value-identical."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", F.size(toks()).alias("n_tokens")
    )
    hist = docs.groupBy("lang", "n_tokens").agg(
        F.count(F.lit(1)).alias("c")
    )
    wl = Window.partitionBy("lang")
    r = hist.select(
        "lang",
        "n_tokens",
        F.sum("c").over(wl.orderBy("n_tokens")).alias("cum"),
        F.sum("c").over(wl).alias("n"),
    )
    picks = [
        F.min(
            F.when(
                F.col("cum")
                >= F.expr(f"({num} * n + {den - 1}) div {den}"),
                F.col("n_tokens"),
            )
        ).alias(f"{label}_tokens")
        for label, num, den in QUANTILES
    ]
    return r.groupBy("lang").agg(F.max("n").alias("n_docs"), *picks)


_SQL_QUANTILE_PICKS = ",\n       ".join(
    f"max(case when rn = ({num} * n + {den - 1}) // {den} "
    f"then n_tokens end) {label}_tokens"
    for label, num, den in QUANTILES
)

ORACLE["corpus_length_quantiles"] = f"""
with d as (
  select doc_id, lang, len({sql_toks('text')}) n_tokens from documents),
r as (
  select lang, n_tokens,
         row_number() over (partition by lang
                            order by n_tokens, doc_id) rn,
         count(*) over (partition by lang) n
  from d)
select lang, max(n) n_docs,
       {_SQL_QUANTILE_PICKS}
from r
group by lang
"""


# ------------------------------------------------------ corpus_zipf_slope
ZIPF_TOP = 100  # vocabulary ranks fitted (head of the distribution)
_ZIPF_SCALE = 1 << 20  # fixed-point unit for the OLS sums

# Per-language Zipf slope — the corpus-health diagnostic: natural
# language runs ≈ −1 on the log-rank/log-frequency line, while
# synthetic/templated/deduplicated-to-death corpora bend away from it.
# OLS over the top ZIPF_TOP vocabulary ranks, x = ln(rank), y = ln(count):
# slope = (R·Σxy − Σx·Σy) / (R·Σxx − Σx²). Each per-rank term is floored
# to 2^20 fixed point before the bigint sums; one double division at the
# end. Rank ties break on the token.
ORACLE["corpus_zipf_slope"] = f"""
with freq as (
  select lang, tok, count(*) cnt
  from (select lang, unnest({sql_toks('text')}) tok from documents)
  group by 1, 2),
top as (
  select lang, cnt, rank from (
    select lang, cnt,
           row_number() over (partition by lang
                              order by cnt desc, tok asc) rank
    from freq)
  where rank <= {ZIPF_TOP}),
terms as (
  select lang,
         cast(floor(ln(cast(rank as double)) * {_ZIPF_SCALE}) as bigint) fx,
         cast(floor(ln(cast(cnt as double)) * {_ZIPF_SCALE}) as bigint) fy,
         cast(floor(ln(cast(rank as double)) * ln(cast(cnt as double))
                    * {_ZIPF_SCALE}) as bigint) fxy,
         cast(floor(ln(cast(rank as double)) * ln(cast(rank as double))
                    * {_ZIPF_SCALE}) as bigint) fxx
  from top),
agg as (
  select lang, count(*) n_terms,
         cast(sum(fx) as bigint) sx, cast(sum(fy) as bigint) sy,
         cast(sum(fxy) as bigint) sxy, cast(sum(fxx) as bigint) sxx
  from terms group by lang)
select lang, n_terms,
       cast(n_terms * sxy * {_ZIPF_SCALE} - sx * sy as double)
         / cast(n_terms * sxx * {_ZIPF_SCALE} - sx * sx as double)
         zipf_slope
from agg
"""


# ------------------------------------------------------ quality_buckets
QB_BINS = 10  # fixed-width quality deciles over the score's [0,1] range


@_q("quality_buckets")
def quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score bucketing for curriculum / quality-weighted
    sampling: assign every document to a FIXED-width decile of the
    [0,1] quality score, then report per-bucket volume, the corpus
    share, and the flattening resample weight (uniform-over-buckets /
    actual share — the weight that equalizes bucket probability mass,
    the standard quality-mixing move before temperature scaling).

    Buckets are fixed thresholds, NOT rank deciles, deliberately: a
    rank decile (ntile / percent_rank over a global order) funnels the
    whole corpus through one sort partition — the exact anti-pattern a
    100 TB pipeline can't run — and its boundaries drift with every
    corpus revision. Fixed thresholds make bucket assignment a pure
    map (zero shuffle before the 10-row aggregate) and keep bucket
    meaning stable across corpus versions, which is what production
    filters (CCNet perplexity cutoffs, Gopher quality bands) do.

    Determinism: bucket = least(floor(quality·10), 9) is exact-double
    in both engines (same formula text); shares/weights are one
    division on integer-derived doubles, rounded to 12 decimals
    (corpus_mix_weights policy).

    Scale (100 TB): one narrow projection + one 10-row hash aggregate;
    the normalizing window runs over the 10-row aggregate, never the
    corpus."""
    from pyspark.sql.window import Window

    b = F.least(
        F.floor(F.col("quality") * QB_BINS).cast("int"), F.lit(QB_BINS - 1)
    )
    agg = (
        _scored_memo(spark, sf_dir)
        .select(b.alias("bucket"), "n_tokens", "quality")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("quality").alias("min_quality"),
            F.max("quality").alias("max_quality"),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    share = F.col("n_docs").cast("double") / F.sum("n_docs").over(w).cast(
        "double"
    )
    return agg.select(
        "bucket",
        "n_docs",
        "n_tokens",
        F.round(share, 12).alias("doc_share"),
        F.round(F.lit(1.0 / QB_BINS) / share, 12).alias("flatten_weight"),
        "min_quality",
        "max_quality",
    )


ORACLE["quality_buckets"] = f"""
with scored as ({_SQL_SCORED}),
agg as (
  select least(cast(floor(quality * {QB_BINS}) as int), {QB_BINS - 1}) bucket,
         count(*) n_docs,
         cast(sum(n_tokens) as bigint) n_tokens,
         min(quality) min_quality,
         max(quality) max_quality
  from scored
  group by 1)
select bucket, n_docs, n_tokens,
       round(cast(n_docs as double) / cast(sum(n_docs) over () as double), 12)
         doc_share,
       round({1.0 / QB_BINS}
             / (cast(n_docs as double)
                / cast(sum(n_docs) over () as double)), 12) flatten_weight,
       min_quality, max_quality
from agg
"""


# ---------------------------------------------- corpus_source_divergence
_JS_SCALE = 1 << 20  # fixed-point unit for deterministic JS-term sums
DIV_VOCAB_CAP = 100_000  # top-K tokens by global count kept in the grid

# Pairwise Jensen-Shannon divergence between the per-source token
# unigram distributions — the corpus-drift / source-similarity
# diagnostic used to spot near-duplicate crawls, schedule mixing, or
# flag a source whose distribution shifted between snapshots. A dense
# source×vocab grid with zero-fill gives every pair the same support,
# and each summand is floored to 2^20 fixed point before the bigint sum.
# The vocabulary is capped to the top DIV_VOCAB_CAP tokens by global
# count, so the grid and the |vocab|·|sources|² pair expansion stay
# bounded at any corpus size; the cap is inert at the test scales.


def divergence_oracle_sql(cap: int = DIV_VOCAB_CAP) -> str:
    """Oracle text parametrized on the vocab cap so the binding-cap
    pytest pin can compare a small-cap run against the same SQL."""
    return f"""
-- vocabulary capped to the top-{cap} tokens by global count
-- (tie-break: count desc, token asc); distributions renormalized over
-- the capped support.  Inert at gated scale (|vocab| < cap).
with counts as (
  select source, tok, count(*) c
  from (select source, unnest({sql_toks('text')}) tok from documents)
  group by source, tok),
vocab as (
  select tok from (
    select tok, sum(c) gc from counts group by tok
    order by gc desc, tok limit {cap})),
sources as (select distinct source from counts),
dense as (
  select s.source, v.tok, coalesce(c.c, 0) c
  from sources s
  cross join vocab v
  left join counts c on c.source = s.source and c.tok = v.tok),
tot as (select source, sum(c) n from dense group by source),
p as (
  select d.source, d.tok, cast(d.c as double) / t.n p
  from dense d join tot t on d.source = t.source),
terms as (
  select a.source src_a, b.source src_b,
         cast(floor((
           (case when a.p > 0
                 then a.p * ln(a.p / ((a.p + b.p) / 2.0)) else 0.0 end)
           + (case when b.p > 0
                   then b.p * ln(b.p / ((a.p + b.p) / 2.0)) else 0.0 end)
         ) / 2.0 * {_JS_SCALE}) as bigint) fp
  from p a join p b on a.tok = b.tok
  where a.source < b.source)
select src_a, src_b,
       cast(sum(fp) as double) / {float(_JS_SCALE)} js_divergence
from terms
group by src_a, src_b
"""


ORACLE["corpus_source_divergence"] = divergence_oracle_sql()


# ----------------------------------------------------- corpus_source_overlap
OVL_N = 3  # shingle width of the compared vocabularies


@_q("corpus_source_overlap")
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise EXACT vocabulary Jaccard between every source pair —
    the cross-source contamination / overlap matrix a mixture designer
    reads before setting corpus_mix_weights (two sources with ~1.0
    trigram-vocab Jaccard are the same crawl twice; near-0 means
    genuinely disjoint registers).

    Plan: distinct (source, trigram) vocabulary — a fraction of the
    corpus token stream — then a self-equi-join on the trigram key,
    co-partitioned on one exchange of the (deduplicated) vocab, and a
    |sources|^2-bounded aggregate. A shingle present in all S sources
    emits S*(S-1)/2 pairs, so the expansion is bounded by the SOURCE
    count squared per vocabulary entry — never doc x doc. At 100 TB
    the vocab frame is the term dictionary (quadratic only in the ~
    dozens of sources), the same shape as corpus_source_divergence's
    grid but computed from the join side.

    Jaccard = inter / (n_a + n_b - inter), one double division.

    The distinct vocabulary is localCheckpoint'd — THREE plan
    branches read it (sizes and both join sides) and each re-ran the
    tokenize + explode + distinct pass un-materialized."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = docs.select(
        "source", F.explode(ngrams(toks(), OVL_N)).alias("gram")
    ).distinct().localCheckpoint()
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n_vocab"))
    a = vocab.select(F.col("source").alias("src_a"), "gram")
    b = vocab.select(F.col("source").alias("src_b"), "gram")
    inter = (
        a.join(b, "gram")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz = F.broadcast(sizes)  # |sources| rows — a post-aggregate dim
    return (
        inter.join(sz.withColumnRenamed("source", "src_a"), "src_a")
        .withColumnRenamed("n_vocab", "n_a")
        .join(
            sz.withColumnRenamed("source", "src_b").withColumnRenamed(
                "n_vocab", "n_b"
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_inter",
            "n_a",
            "n_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), F.col("src_a"), F.col("src_b"))
    )


ORACLE["corpus_source_overlap"] = f"""
with vocab as (
  select distinct source, unnest({sql_ngrams(sql_toks('text'), OVL_N)}) gram
  from documents),
sizes as (select source, count(*) n_vocab from vocab group by 1),
inter as (
  select a.source src_a, b.source src_b, count(*) n_inter
  from vocab a join vocab b on a.gram = b.gram and a.source < b.source
  group by 1, 2)
select src_a, src_b, n_inter, sa.n_vocab n_a, sb.n_vocab n_b,
       cast(n_inter as double) / (sa.n_vocab + sb.n_vocab - n_inter) jaccard
from inter
join sizes sa on sa.source = src_a
join sizes sb on sb.source = src_b
order by jaccard desc, src_a, src_b
"""


# ----------------------------------------------- pipeline_near_dedup_corpus
def _survivor_labels(
    spark: SparkSession, sf_dir: str, surviving: DataFrame
) -> DataFrame:
    """(doc_id, cluster_id): connected components over the MinHash
    near-dup pairs among the `surviving` docs — the chain both near-dup
    compositions share. Per-doc signatures and shingle arrays depend
    only on a doc's own text, so the survivors' rows of the full-corpus
    ingest artifacts ARE the subset's values: the sigs semi-join keeps
    non-survivors out of the band buckets (the gram arrays need no
    filter: candidate ids are all survivors)."""
    sigs = _minhash_sigs_memo(spark, sf_dir).join(
        surviving.select("doc_id"), "doc_id", "left_semi"
    )
    pairs = minhash_pairs(
        sigs,
        _gram_index_memo(spark, sf_dir)["arrays"].select("doc_id", "grams"),
    ).select("doc_a", "doc_b")
    return connected_components(
        surviving.select("doc_id"), _symmetric_edges(pairs)
    )


# oracle twin of _survivor_labels, the CTE prefix of both compositions
_SQL_SURVIVOR_LABELS = (
    _sql_closure(
        _minhash_sql_parts(source="surviving"),
        "doc_a",
        "doc_b",
        "doc_id",
        "surviving",
        head=f"""scored as ({_SQL_SCORED}),
surviving as (select * from scored where quality >= {QUALITY_MIN}),
""",
    )
    + """,
labels as (select a doc_id, min(b) cluster_id from reach group by a)"""
)


@_q("pipeline_near_dedup_corpus")
def pipeline_near_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL near-dup curation pipeline in one gated query — the
    chain a production corpus actually runs, composed from the gated
    stages: quality score → threshold cut → banded MinHash-LSH
    near-dup pairs OVER THE SURVIVORS → connected components →
    canonical (min-doc_id) keeper per cluster → per-language yield
    report. Where pipeline_clean_corpus deduplicates exact fingerprint
    matches, this composition removes near-duplicate CLUSTERS, the
    step that actually shrinks a crawled corpus.

    Plan: ZERO tokenizer passes — the scored frame is the
    quality_scores ingest artifact, and the MinHash signatures and
    shingle arrays are the per-doc ingest artifacts dedup_minhash
    serves (see _survivor_labels); then the dedup_minhash band join on
    the survivors, the pointer-jumping CC loop on the resulting edge
    list, and two rollup aggregates. Every stage's scale story is
    documented on its own operator; the composition adds only a
    broadcast-size label join.

    Oracle: the same chain as SQL — scored/surviving CTEs feeding the
    parametrized MinHash chain (source='surviving') and the
    recursive-CTE closure, then the identical rollup. Per language:
    total docs, quality-cut count, near-dup-cut count, kept count,
    kept tokens."""
    scored = _scored_memo(spark, sf_dir)
    surviving = scored.where(F.col("quality") >= QUALITY_MIN)
    labels = _survivor_labels(spark, sf_dir, surviving)
    kept = surviving.join(
        labels.where(F.col("doc_id") == F.col("cluster_id")).select(
            "doc_id"
        ),
        "doc_id",
    )
    tot = scored.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    surv = surviving.groupBy("lang").agg(F.count(F.lit(1)).alias("n_surv"))
    keptagg = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").cast("long").alias("n_tokens_kept"),
    )
    return (
        tot.join(surv, "lang", "left")
        .join(keptagg, "lang", "left")
        .select(
            "lang",
            "n_docs",
            (F.col("n_docs") - F.coalesce("n_surv", F.lit(0))).alias(
                "n_quality_cut"
            ),
            (
                F.coalesce("n_surv", F.lit(0))
                - F.coalesce("n_kept", F.lit(0))
            ).alias("n_neardup_cut"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("n_tokens_kept", F.lit(0)).alias("n_tokens_kept"),
        )
        .orderBy("lang")
    )


ORACLE["pipeline_near_dedup_corpus"] = f"""{_SQL_SURVIVOR_LABELS},
kept as (
  select s.* from surviving s
  join labels l on s.doc_id = l.doc_id and s.doc_id = l.cluster_id),
tot as (select lang, count(*) n_docs from scored group by 1),
surv as (select lang, count(*) n_surv from surviving group by 1),
keptagg as (
  select lang, count(*) n_kept,
         cast(sum(n_tokens) as bigint) n_tokens_kept
  from kept group by 1)
select t.lang, n_docs,
       n_docs - coalesce(n_surv, 0) n_quality_cut,
       coalesce(n_surv, 0) - coalesce(n_kept, 0) n_neardup_cut,
       coalesce(n_kept, 0) n_kept,
       coalesce(n_tokens_kept, 0) n_tokens_kept
from tot t
left join surv using (lang)
left join keptagg using (lang)
order by lang
"""


# -------------------------------------------------- corpus_health_report
@_q("corpus_health_report")
def corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE curation health dashboard — the one-page report a
    pipeline owner reads before admitting a source into the mixture,
    composing the gated signals: volume (docs, tokens), quality-cut
    exposure (docs below QUALITY_MIN), exact-duplicate rate
    (non-keeper docs per normalized-text fingerprint group), held-out
    split size, and benchmark contamination (train docs flagged by the
    5-gram overlap check). Every column is an integer count, so the
    report is hash-exact with no float policy needed.

    Plan: one scored pass (+ fingerprint, map-side), one window over
    the fingerprint partition for keeper marking, the
    decontaminate_ngram broadcast-index join for flags, then a single
    per-source aggregate — the report costs one corpus pass plus the
    decon check it embeds; nothing is per-pair beyond the inverted-
    index join documented on decontaminate_ngram."""
    from pyspark.sql.window import Window

    # scored+source+fp are quality_scores artifact columns — the
    # report's only live corpus-scale work is the decon check it embeds
    base = _scored_memo(spark, sf_dir)
    w = Window.partitionBy("fp")
    base = base.withColumn("keeper", F.min("doc_id").over(w))
    flagged = decontaminate_ngram(spark, sf_dir).select(
        F.col("train_id").alias("doc_id"), F.lit(1).alias("contaminated")
    )
    return (
        base.join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum(
                (F.col("quality") < QUALITY_MIN).cast("long")
            ).alias("n_low_quality"),
            F.sum(
                (F.col("doc_id") != F.col("keeper")).cast("long")
            ).alias("n_exact_dup"),
            F.sum(
                (F.col("doc_id") % DECON_EVAL_MOD == 0).cast("long")
            ).alias("n_eval"),
            F.sum(F.coalesce("contaminated", F.lit(0)))
            .cast("long")
            .alias("n_contaminated"),
        )
        .orderBy("source")
    )


ORACLE["corpus_health_report"] = f"""
with scored as ({_SQL_SCORED}),
base as (
  select s.doc_id, d.source, s.n_tokens, s.quality,
         md5(lower(trim(d.text))) fp
  from scored s join documents d using (doc_id)),
keep as (select fp, min(doc_id) keeper from base group by 1),
shingled as (
  select doc_id, unnest({sql_ngrams(sql_toks('text'), DECON_N)}) gram
  from documents),
pairs as (
  select t.doc_id train_id, e.doc_id eval_id, count(*) n_shared
  from (select * from shingled where doc_id % {DECON_EVAL_MOD} != 0) t
  join (select * from shingled where doc_id % {DECON_EVAL_MOD} = 0) e
    using (gram)
  group by 1, 2
  having count(*) >= {DECON_MIN_SHARED}),
flagged as (select distinct train_id doc_id from pairs)
select source,
       count(*) n_docs,
       cast(sum(n_tokens) as bigint) n_tokens,
       cast(sum(case when quality < {QUALITY_MIN} then 1 else 0 end)
            as bigint) n_low_quality,
       cast(sum(case when b.doc_id != keeper then 1 else 0 end)
            as bigint) n_exact_dup,
       cast(sum(case when b.doc_id % {DECON_EVAL_MOD} = 0 then 1 else 0 end)
            as bigint) n_eval,
       cast(sum(case when f.doc_id is not null then 1 else 0 end)
            as bigint) n_contaminated
from base b
join keep using (fp)
left join flagged f on b.doc_id = f.doc_id
group by source
order by source
"""


# ------------------------------------------------ sample_mixture_budget
MIXB_GLOBAL = 20_000  # global token budget split across sources
MIXB_SCALE = 10**12  # fixed-point for weight -> budget conversion


@_q("sample_mixture_budget")
def sample_mixture_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXTURE-WEIGHTED token-budget sampling over the CLEANED corpus —
    the draw step of a pretraining run, composed from the gated
    stages: quality cut + exact-dedup keepers (pipeline_clean_corpus's
    rule), temperature-scaled source weights (corpus_mix_weights's
    w_s ∝ tokens^0.7), a per-source token budget carved from the
    global budget, and the deterministic hash-order walk
    (sample_token_budget's rule) that admits documents while the
    running total fits. Output: per-source budget, selected docs,
    selected tokens.

    Determinism at the weight→budget boundary: the float weight is
    converted ONCE to fixed point (round(w * 10^12) as bigint — round
    on identical doubles is identical) and the budget is pure bigint
    arithmetic (GLOBAL * W div 10^12), so no float multiply can
    straddle an integer boundary differently across engines.

    Scale: the weight/budget frame is |sources| rows (broadcast); the
    selection cumsum goes through ranks.keyed_prefix_sum (two-phase
    distributed cumsum) — a handful-of-sources
    partitioned window would funnel each source's whole cleaned share
    through one task."""
    from pyspark.sql.window import Window

    from duckdb_wasm_spark.ranks import keyed_prefix_sum

    # scored+source+fp served from the quality_scores artifact
    scored = _scored_memo(spark, sf_dir).where(
        F.col("quality") >= QUALITY_MIN
    )
    wfp = Window.partitionBy("fp")
    clean = (
        scored.withColumn("_min_id", F.min("doc_id").over(wfp))
        .where(F.col("doc_id") == F.col("_min_id"))
        .select("doc_id", "source", "n_tokens")
    )
    # corpus_mix_weights' weight over the artifact's per-doc token counts
    powered = F.pow(F.col("n_tokens").cast("double"), F.lit(MIX_ALPHA))
    w = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    weights = (
        _scored_memo(spark, sf_dir)
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("n_tokens"))
        .select("source", F.round(powered / F.sum(powered).over(w), 12).alias("w"))
    )
    budgets = weights.select(
        "source",
        F.expr(
            f"{MIXB_GLOBAL} * cast(round(w * {MIXB_SCALE}) "
            f"as bigint) div {MIXB_SCALE}"
        ).alias("budget_tokens"),
    )
    cum = keyed_prefix_sum(
        clean.withColumn("_ok", _hash_order()[0]),
        ["_ok", "doc_id"],
        "n_tokens",
        keys=["source"],
    )
    sel = (
        cum.join(F.broadcast(budgets), "source")
        .withColumn("cum_tokens", F.col("cum"))
        .where(F.col("cum_tokens") <= F.col("budget_tokens"))
    )
    return (
        sel.groupBy("source")
        .agg(
            F.any_value("budget_tokens").alias("budget_tokens"),
            F.count(F.lit(1)).alias("n_selected"),
            F.sum("n_tokens").cast("long").alias("n_tokens_selected"),
        )
        .orderBy("source")
    )


ORACLE["sample_mixture_budget"] = f"""
with scored as ({_SQL_SCORED}),
surviving as (
  select s.doc_id, d.source, s.n_tokens,
         md5(lower(trim(d.text))) fp
  from scored s join documents d using (doc_id)
  where s.quality >= {QUALITY_MIN}),
clean as (
  select doc_id, source, n_tokens
  from (select *, min(doc_id) over (partition by fp) _min_id
        from surviving)
  where doc_id = _min_id),
w as (
  select source,
         round(pow(cast(n_tokens as double), {MIX_ALPHA})
               / sum(pow(cast(n_tokens as double), {MIX_ALPHA})) over (),
               12) mix_weight
  from (select source,
               cast(sum(len({sql_toks('text')})) as bigint) n_tokens
        from documents group by source)),
budgets as (
  select source,
         {MIXB_GLOBAL} * cast(round(mix_weight * {MIXB_SCALE}) as bigint)
           // {MIXB_SCALE} budget_tokens
  from w),
sel as (
  select c.source, c.n_tokens, b.budget_tokens,
         cast(sum(c.n_tokens) over (partition by c.source
                                    order by {_SQL_HASH_ORDER}
                                    rows unbounded preceding) as bigint)
           cum_tokens
  from clean c join budgets b using (source))
select source,
       any_value(budget_tokens) budget_tokens,
       count(*) n_selected,
       cast(sum(n_tokens) as bigint) n_tokens_selected
from sel
where cum_tokens <= budget_tokens
group by source
order by source
"""


# ------------------------------------------------- corpus_token_regression
REG_FP = 1 << 20  # fixed-point unit for the residual-square sums

# Closed-form distributed OLS, the one-pass "model fit is an aggregate"
# pattern: regress per-doc DISTINCT-token count (the Heaps-law curve,
# nonlinear in length, so the fit has real residuals) on (n_chars,
# n_spaces) via the normal equations. Pass 1 is one aggregate of exact
# bigint moments; the 3×3 system is solved by Cramer's rule in doubles
# from those identical moments; pass 2 crosses the 1-row betas into the
# corpus and floors each squared residual to 2^20 fixed point before the
# per-source bigint sum. Output: n_docs, rmse and the shared betas.
ORACLE["corpus_token_regression"] = f"""
with base as (
  select doc_id, source,
         cast(length(text) as bigint) x1,
         cast(length(text) - length(replace(text, ' ', '')) as bigint) x2,
         cast(length(list_distinct(string_split(text, ' ')))
              as bigint) y
  from documents),
m as (
  select cast(count(*) as bigint) n,
         cast(sum(x1) as bigint) s1, cast(sum(x2) as bigint) s2,
         cast(sum(y) as bigint) sy,
         cast(sum(x1 * x1) as bigint) s11,
         cast(sum(x1 * x2) as bigint) s12,
         cast(sum(x2 * x2) as bigint) s22,
         cast(sum(x1 * y) as bigint) s1y,
         cast(sum(x2 * y) as bigint) s2y
  from base),
dets as (
  select
    cast(n as double) * (cast(s11 as double) * cast(s22 as double)
                         - cast(s12 as double) * cast(s12 as double))
    - cast(s1 as double) * (cast(s1 as double) * cast(s22 as double)
                            - cast(s12 as double) * cast(s2 as double))
    + cast(s2 as double) * (cast(s1 as double) * cast(s12 as double)
                            - cast(s11 as double) * cast(s2 as double))
      det,
    cast(sy as double) * (cast(s11 as double) * cast(s22 as double)
                          - cast(s12 as double) * cast(s12 as double))
    - cast(s1 as double) * (cast(s1y as double) * cast(s22 as double)
                            - cast(s12 as double) * cast(s2y as double))
    + cast(s2 as double) * (cast(s1y as double) * cast(s12 as double)
                            - cast(s11 as double) * cast(s2y as double))
      det0,
    cast(n as double) * (cast(s1y as double) * cast(s22 as double)
                         - cast(s12 as double) * cast(s2y as double))
    - cast(sy as double) * (cast(s1 as double) * cast(s22 as double)
                            - cast(s12 as double) * cast(s2 as double))
    + cast(s2 as double) * (cast(s1 as double) * cast(s2y as double)
                            - cast(s1y as double) * cast(s2 as double))
      det1,
    cast(n as double) * (cast(s11 as double) * cast(s2y as double)
                         - cast(s1y as double) * cast(s12 as double))
    - cast(s1 as double) * (cast(s1 as double) * cast(s2y as double)
                            - cast(s1y as double) * cast(s2 as double))
    + cast(sy as double) * (cast(s1 as double) * cast(s12 as double)
                            - cast(s11 as double) * cast(s2 as double))
      det2
  from m),
betas as (
  select det0 / det b0, det1 / det b1, det2 / det b2 from dets),
scored as (
  select source,
         cast(floor(
           (cast(y as double) - (b0 + b1 * cast(x1 as double)
                                 + b2 * cast(x2 as double)))
           * (cast(y as double) - (b0 + b1 * cast(x1 as double)
                                   + b2 * cast(x2 as double)))
           * {float(REG_FP)}) as bigint) sqfp,
         b0, b1, b2
  from base cross join betas)
select source,
       cast(count(*) as bigint) n_docs,
       round(sqrt(cast(sum(sqfp) as double) / cast(count(*) as double)
                  / {float(REG_FP)}), 12) rmse,
       round(any_value(b0), 12) b0,
       round(any_value(b1), 12) b1,
       round(any_value(b2), 12) b2
from scored
group by source
order by source
"""


# ---------------------------------------------- sample_weighted_priority
WPRI_K = 40  # docs kept per source

# Deterministic weighted-priority sampling per source, the
# Efraimidis–Spirakis shape: each row gets a priority from (hash,
# weight) and each source keeps its top-K by priority, which is
# mergeable across partitions. u = the 60-bit md5 fold of the doc id,
# priority = u / n_chars: one IEEE division on identical doubles, so the
# selected set is hash-exact (true A-ES uses u^(1/w), whose pow() would
# differ by an ulp between engines).
ORACLE["sample_weighted_priority"] = f"""
select source, doc_id, n_chars, rk from (
  select source, doc_id, n_chars,
         row_number() over (
           partition by source
           order by cast(('0x' || substr(md5('wpri ' || cast(doc_id as
                     varchar)), 1, 15))::bigint as double)
                    / cast(n_chars as double) asc,
                    doc_id asc) rk
  from documents)
where rk <= {WPRI_K}
"""


# ----------------------------------------------- pipeline_canonical_best
@_q("pipeline_canonical_best")
def pipeline_canonical_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: the near-dup clusters of
    pipeline_near_dedup_corpus, but each cluster keeps its BEST member
    (quality desc, doc_id asc) instead of the min-id CC root — the
    keeper rule production curation actually uses (among N crawls of
    the same page, keep the cleanest copy, not the first-seen one).
    Output: one row per kept document with its cluster id, quality,
    token count, and the cluster size it won.

    Determinism: quality is the shared exact-arithmetic score (same
    expression both engines); the keeper key (quality desc, doc_id) is
    total; cluster ids are the CC min-labels, bit-identical to the
    recursive-CTE closure.

    Plan (100 TB): identical chain to pipeline_near_dedup_corpus
    (scored pass, survivor MinHash-LSH pairs, pointer-jumping CC) plus
    ONE window over the cluster_id partition — high-cardinality
    (clusters ≈ documents; the giant-cluster hazard is bounded by the
    LSH bands the pairs come from), executed as a rank-1 group limit."""
    from pyspark.sql.window import Window

    surviving = _scored_memo(spark, sf_dir).where(
        F.col("quality") >= QUALITY_MIN
    )
    labels = _survivor_labels(spark, sf_dir, surviving)
    member = surviving.select(
        "doc_id", "lang", "n_tokens", "quality"
    ).join(labels, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    csize = Window.partitionBy("cluster_id")
    return (
        member.withColumn("rk", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(csize))
        .where(F.col("rk") == 1)
        .select(
            "cluster_id",
            "doc_id",
            "lang",
            "n_tokens",
            "quality",
            "cluster_size",
        )
    )


ORACLE["pipeline_canonical_best"] = f"""{_SQL_SURVIVOR_LABELS},
member as (
  select s.doc_id, s.lang, s.n_tokens, s.quality, l.cluster_id
  from surviving s join labels l on s.doc_id = l.doc_id),
ranked as (
  select *,
         row_number() over (partition by cluster_id
                            order by quality desc, doc_id asc) rk,
         count(*) over (partition by cluster_id) cluster_size
  from member)
select cluster_id, doc_id, lang, n_tokens, quality,
       cast(cluster_size as bigint) cluster_size
from ranked where rk = 1
"""


register_texts(QUERIES, ORACLE)
