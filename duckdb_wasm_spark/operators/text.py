"""Text-analysis operators over the `documents` table.

Every query ships a DuckDB oracle text built from the same primitives
as its plan (md5 hashing, the `_text` tokenizer, fixed-point float
sums), so results hash-match exactly.

Ten queries run their own oracle text through the dialect translator
(`plans/_util.register_texts`): text_stats, text_langid, text_tokens,
text_vocab_topk, text_repetition, text_pii_scan, text_gopher_flags,
text_ngram_entropy, text_pmi_topk and text_robust_stats. The rest keep
a DataFrame plan: text_fingerprint, text_tfidf_topk, text_lm_score,
text_dup_spans, text_bpe_pair_counts, text_bpe_merge and corpus_novelty
because their text measured 1.8x or more slower at sf0.1, and
text_bm25_topk because it serves a persisted index.

Determinism: integer counts divided as doubles, identical operation
order in both engines (see plans/_util.py for the policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_wasm_spark.operators._text import (
    ngrams,
    ngrams_all,
    sql_ngrams,
    sql_ngrams_all,
    sql_str_list,
    sql_toks,
    toks,
    STOPWORDS,
)
from duckdb_wasm_spark.plans._util import register_texts, registrar
from duckdb_wasm_spark.tables import load_table

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


_q = registrar(QUERIES)


# ----------------------------------------------------------- text_stats
# Per-document statistics + a composite quality score:
# quality = 0.3·TTR + 0.4·min(1, n_tokens/50) + 0.3·(1 − stopword_ratio).
# The ratios are nullif-guarded, so a zero-token doc gets NULL ratios in
# both engines (Spark's x/0 would be NaN, which sorts above every double).
ORACLE["text_stats"] = f"""
with d as (
  select doc_id,
         len({sql_toks('text')}) n_tokens,
         len(list_distinct({sql_toks('text')})) n_distinct,
         list_sum(list_transform({sql_toks('text')}, x -> length(x))) char_sum,
         len(list_filter({sql_toks('text')},
             x -> list_contains({sql_str_list(STOPWORDS['en'])}, x))) n_stop,
         length(text) n_chars
  from documents)
select doc_id, n_tokens, n_distinct, n_chars,
       cast(n_distinct as double) / nullif(n_tokens, 0) as ttr,
       cast(char_sum as double) / nullif(n_tokens, 0) as avg_token_len,
       cast(n_stop as double) / nullif(n_tokens, 0) as stopword_ratio,
       0.3 * (cast(n_distinct as double) / nullif(n_tokens, 0))
         + 0.4 * least(1.0, cast(n_tokens as double) / 50.0)
         + 0.3 * (1.0 - cast(n_stop as double) / nullif(n_tokens, 0))
         as quality
from d
"""


# ---------------------------------------------------------- text_langid
_LANGS = sorted(STOPWORDS)  # deterministic tie-break: alphabetical

# N-gram-free language-ID heuristic: per-language function-word hit
# ratio, argmax with alphabetical tie-break, compared to the labeled
# `lang` column.


def _langid_sql() -> str:
    hits = ",\n         ".join(
        f"len(list_filter({sql_toks('text')}, "
        f"x -> list_contains({sql_str_list(STOPWORDS[lang])}, x))) hit_{lang}"
        for lang in _LANGS
    )
    scores = ", ".join(
        f"cast(hit_{lang} as double) / n as score_{lang}" for lang in _LANGS
    )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in _LANGS) + ")"
    guess = "case " + " ".join(
        f"when score_{lang} = {best} then '{lang}'" for lang in _LANGS
    ) + " end"
    return f"""
with d as (
  select doc_id, lang, len({sql_toks('text')}) n,
         {hits}
  from documents),
s as (select doc_id, lang, {scores} from d)
select doc_id, lang, {', '.join(f'score_{l}' for l in _LANGS)},
       {guess} as guess,
       ({guess}) = lang as is_match
from s
"""


ORACLE["text_langid"] = _langid_sql()


# ----------------------------------------------------- text_fingerprint
@_q("text_fingerprint")
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact (md5 of normalized text), vocabulary
    (md5 of the sorted distinct-token list), and min-shingle (lexicographic
    min of per-trigram md5 — a 1-function MinHash).

    Plan shape: the min-shingle runs as explode → codegen md5 → min()
    hash-agg (map-side combining) rather than an interpreted per-row
    array fold; the narrow fingerprints join back on doc_id."""
    docs = load_table(spark, sf_dir, "documents").withColumn("_t", toks())
    t = F.col("_t")
    narrow = docs.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp_exact"),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(t)))).alias(
            "fp_vocab"
        ),
    )
    min_shingle = (
        docs.select("doc_id", F.explode(ngrams(t, 3)).alias("gram"))
        .groupBy("doc_id")
        .agg(F.min(F.md5(F.col("gram"))).alias("fp_min_shingle"))
    )
    # left join: a doc with <3 tokens has no shingles → NULL fingerprint,
    # matching the oracle's list_min over an empty list
    return narrow.join(min_shingle, "doc_id", "left").select(
        "doc_id", "fp_exact", "fp_vocab", "fp_min_shingle"
    )


ORACLE["text_fingerprint"] = f"""
select doc_id,
       md5(lower(trim(text))) fp_exact,
       md5(array_to_string(list_sort(list_distinct({sql_toks('text')})), ' '))
         fp_vocab,
       list_min(list_transform({sql_ngrams(sql_toks('text'), 3)},
                               g -> md5(g))) fp_min_shingle
from documents
"""


# ---------------------------------------------------------- text_tokens
_RE_TOKEN = "[a-z0-9]+"  # same semantics in Java regex and DuckDB RE2

# Token counting: whitespace tokens vs regex word tokens (the BPE-ish
# lower-alnum run splitter) + chars-per-token ratio.
ORACLE["text_tokens"] = f"""
select doc_id,
       len({sql_toks('text')}) n_ws_tokens,
       len(regexp_extract_all(text, '{_RE_TOKEN}')) n_re_tokens,
       length(text) n_chars,
       cast(length(text) as double) / len({sql_toks('text')}) chars_per_token
from documents
"""


# ------------------------------------------------------- text_vocab_topk
VOCAB_K = 100

# Corpus vocabulary: the K most frequent tokens with document frequency
# — the first step of any tokenizer/vocab build. Ties break on the token
# so the cut is total.
ORACLE["text_vocab_topk"] = f"""
select tok, count(*) n, count(distinct doc_id) df
from (select doc_id, unnest({sql_toks('text')}) tok from documents)
group by tok
order by n desc, tok asc
limit {VOCAB_K}
"""


# ------------------------------------------------------ text_repetition
# Gopher-style repetition signals per document: the share of bigram
# occurrences taken by the single most frequent bigram, and the
# duplicate-trigram fraction (1 − distinct/total). High values flag
# boilerplate / looping generations for pretraining filtering. Docs
# with <2 tokens have no bigrams: the left join gives NULL fractions.
ORACLE["text_repetition"] = f"""
with d as (
  select doc_id, {sql_toks('text')} t from documents),
n as (
  select doc_id, len(t) n_tokens,
         greatest(len(t) - 1, 0) n_bigrams,
         greatest(len(t) - 2, 0) n_trigrams,
         len({sql_ngrams('t', 3)}) n_distinct_trigrams
  from d),
g as (select doc_id, unnest({sql_ngrams_all('t', 2)}) gram from d),
c as (select doc_id, gram, count(*) cnt from g group by doc_id, gram),
top as (select doc_id, max(cnt) top_bigram_n from c group by doc_id)
select n.doc_id, n_tokens, n_bigrams, n_trigrams, n_distinct_trigrams,
       top_bigram_n,
       case when n_bigrams > 0
            then cast(top_bigram_n as double) / n_bigrams end top_bigram_frac,
       case when n_trigrams > 0
            then cast(1.0 as double)
                 - cast(n_distinct_trigrams as double) / n_trigrams
            end dup_trigram_frac
from n left join top using (doc_id)
"""


# -------------------------------------------------------- text_tfidf_topk
TFIDF_TOPK = 3


@_q("text_tfidf_topk")
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-K tokens by TF-IDF — the classic keyword /
    salient-term extractor a curation pipeline runs before clustering
    or topic labeling.

    score = (tf_cnt / doc_len) · ln(N / df), computed from four integer
    counts with one double expression applied identically in both
    engines, rounded past the libm-ulp zone (same policy as
    extra_stats' corr); ranking orders by the ROUNDED score so the cut is
    identical too, ties broken on the token.

    Plan (100 TB): the TF and df tables come from the disk-persisted
    lexical index (_text_index_memo, shared with text_bm25_topk;
    the index build materializes the token ARRAY
    first, then size+explodes the attribute: carrying size(toks())
    through the explode re-runs the tokenizer per exploded row, the
    text_repetition trap, measured 1.86s vs 0.54s at sf0.1 for the
    counts stage alone). df is BROADCAST back (measured 0.98s vs
    1.04s for the count-over-window form once the
    explode trap was fixed — the earlier 1.94-vs-2.19 window win was
    the trap's cost dominating both shapes; at a vocab too large to
    broadcast, flip back to the window form); N is a 1-row broadcast
    scalar (BNLJ-allowlisted); top-K per doc is one doc-partitioned
    window. Total: 2.06s → 0.98s at sf0.1."""
    from pyspark.sql.window import Window

    idx = _text_index_memo(spark, sf_dir)
    counts = idx["tf"].select(
        "doc_id", F.col("dl").alias("doc_len"), "tok",
        F.col("tf").alias("tf_cnt"),
    )
    dfs = idx["dfs"]
    n_docs = idx["stats"].select("n_docs")
    scored = (
        counts.join(F.broadcast(dfs), "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            F.round(
                (F.col("tf_cnt").cast("double") / F.col("doc_len"))
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                12,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TFIDF_TOPK)
        .select("doc_id", "rk", "tok", "tfidf")
    )


ORACLE["text_tfidf_topk"] = f"""
with toks as (
  select doc_id, len({sql_toks('text')}) doc_len,
         unnest({sql_toks('text')}) tok
  from documents),
counts as (
  select doc_id, doc_len, tok, count(*) tf_cnt
  from toks group by 1, 2, 3),
dfs as (select tok, count(*) df from counts group by 1),
n as (select count(*) n_docs from documents),
scored as (
  select doc_id, tok,
         round((cast(tf_cnt as double) / doc_len)
               * ln(cast(n_docs as double) / df), 12) tfidf
  from counts join dfs using (tok) cross join n),
ranked as (
  select doc_id, tok, tfidf,
         row_number() over (partition by doc_id
                            order by tfidf desc, tok asc) rk
  from scored)
select doc_id, rk, tok, tfidf
from ranked
where rk <= {TFIDF_TOPK}
"""


# ---------------------------------------------------------- text_pii_scan
# Java-regex ∩ RE2 common subset (no lookaround/backrefs) so both
# engines match identical spans
_PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PII_PHONE = r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
_PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


# PII pre-redaction scan: per-document counts of email / phone / IPv4
# regex matches plus a redacted text length — the detection pass a
# training-data pipeline runs before masking. The patterns live in the
# Java∩RE2 subset, so both engines count identical spans.
ORACLE["text_pii_scan"] = f"""
select doc_id,
       len(regexp_extract_all(text, '{_PII_EMAIL}')) n_emails,
       len(regexp_extract_all(text, '{_PII_PHONE}')) n_phones,
       len(regexp_extract_all(text, '{_PII_IPV4}')) n_ipv4,
       length(regexp_replace(
           regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g')) redacted_len
from documents
"""


# ------------------------------------------------------ text_gopher_flags
GOPHER_MIN_TOKENS = 10
GOPHER_MAX_TOKENS = 10_000
GOPHER_WORD_LEN_LO = 2.0
GOPHER_WORD_LEN_HI = 12.0
GOPHER_MAX_SYMBOL_RATIO = 0.25
GOPHER_MIN_ALPHA_RATIO = 0.6

# Gopher-style document-level filter rules as boolean flags plus the
# final keep verdict: token-count bounds, mean word length in range,
# symbol-to-token ratio, alphabetic-token fraction. The flag columns let
# a pipeline audit WHICH rule rejected each document (the standard way
# these rule suites are tuned); `keep` is their AND. Ratios are
# nullif-guarded like text_stats, and ok_count is false for zero-token
# docs, so `keep` stays false under three-valued AND.
ORACLE["text_gopher_flags"] = f"""
with d as (
  select doc_id,
         len({sql_toks('text')}) n_tokens,
         list_sum(list_transform({sql_toks('text')}, x -> length(x)))
           char_sum,
         len(list_filter({sql_toks('text')},
                         x -> regexp_matches(x, '^[a-z]+$'))) n_alpha,
         len(regexp_extract_all(text, '[#$%^*=~|]')) n_symbols
  from documents)
select doc_id,
       n_tokens >= {GOPHER_MIN_TOKENS}
         and n_tokens <= {GOPHER_MAX_TOKENS} ok_count,
       cast(char_sum as double) / nullif(n_tokens, 0)
           >= {GOPHER_WORD_LEN_LO}
         and cast(char_sum as double) / nullif(n_tokens, 0)
           <= {GOPHER_WORD_LEN_HI}
         ok_word_len,
       cast(n_symbols as double) / nullif(n_tokens, 0)
           <= {GOPHER_MAX_SYMBOL_RATIO}
         ok_symbols,
       cast(n_alpha as double) / nullif(n_tokens, 0)
           >= {GOPHER_MIN_ALPHA_RATIO}
         ok_alpha,
       (n_tokens >= {GOPHER_MIN_TOKENS}
         and n_tokens <= {GOPHER_MAX_TOKENS})
         and (cast(char_sum as double) / nullif(n_tokens, 0)
                >= {GOPHER_WORD_LEN_LO}
              and cast(char_sum as double) / nullif(n_tokens, 0)
                <= {GOPHER_WORD_LEN_HI})
         and (cast(n_symbols as double) / nullif(n_tokens, 0)
              <= {GOPHER_MAX_SYMBOL_RATIO})
         and (cast(n_alpha as double) / nullif(n_tokens, 0)
              >= {GOPHER_MIN_ALPHA_RATIO})
         keep
from d
"""


# ------------------------------------------------------- text_lm_score
LM_ALPHA = 0.4  # add-alpha smoothing for unseen continuations


@_q("text_lm_score")
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained bigram-LM fluency score per document — the
    cheap KenLM-style proxy pipelines use to rank text quality: the
    mean smoothed continuation probability P(w2|w1) over the
    document's bigrams, with add-alpha smoothing over the corpus
    vocabulary. (Mean probability, not mean log-probability: ln()
    differs by an ulp between the JVM and libm, which flips
    round-half boundaries — every operation here is an IEEE
    correctly-rounded +,*,/ on integer-derived doubles, so the score
    is bit-identical across engines with no transcendental in sight;
    the ordering it induces is the same fluency ranking.)

    Determinism: each bigram's probability-mass contribution k·p is
    rounded to 12 decimals (tie risk is measure-zero on a raw double)
    and summed EXACTLY as decimal(28,12) (a plain double sum would be
    partition-order-dependent); the sum's scaled value fits in 53 bits
    so the decimal→double conversion is exact, and the final division
    is one correctly-rounded IEEE op — no post-division rounding,
    which WOULD tie-break differently per engine (a 12-scale decimal
    over a small n lands exactly on .5 boundaries ~1/n of the time).

    Plan (100 TB): one explode into a (doc, prefix, bigram) hash
    aggregate; corpus-wide bigram/prefix counts are count-over-window
    passes on the SAME pipeline (no second tokenizer run — the tfidf
    lesson); vocab size is a 1-row broadcast scalar
    (BNLJ-allowlisted).

    LIFECYCLE: the corpus-self-trained LM is an
    ingest-time artifact exactly like the BM25 lexical index — the
    per-document scored frame is DISK-PERSISTED (_lm_artifact), so
    this query AND corpus_ppl_buckets (which previously re-ran the
    whole bigram-LM lineage per call, 1.76s of its 3.29s wall) serve
    the same build-once frames; every double in it is an exact
    parquet round-trip of the deterministic decimal-summed score."""
    return _lm_artifact(spark, sf_dir)["scores"]


def _lm_artifact(spark: SparkSession, sf_dir: str):
    """DISK-PERSISTED bigram-LM document scores: one frame "scores" = (doc_id, n_bigrams, avg_prob) — the
    text_lm_score output. Served "raw" (per-doc-sized, both consumers
    shuffle it by doc_id/lang anyway)."""
    from pyspark.sql.window import Window

    from duckdb_wasm_spark.artifacts import persisted_frames

    def _build() -> dict[str, DataFrame]:
        docs = load_table(spark, sf_dir, "documents")
        bg = docs.select(
            "doc_id", F.explode(ngrams_all(toks(), 2)).alias("bigram")
        ).withColumn("w1", F.split(F.col("bigram"), " ").getItem(0))
        per_doc = bg.groupBy("doc_id", "w1", "bigram").agg(
            F.count(F.lit(1)).alias("k")
        )
        c_bigram = F.sum("k").over(Window.partitionBy("bigram"))
        c_prefix = F.sum("k").over(Window.partitionBy("w1"))
        vocab = docs.select(
            F.explode(toks()).alias("tok")
        ).agg(F.count_distinct("tok").alias("v"))
        scored = (
            per_doc.withColumn("cb", c_bigram)
            .withColumn("cp", c_prefix)
            .crossJoin(F.broadcast(vocab))
            .select(
                "doc_id",
                "k",
                F.round(
                    F.col("k").cast("double")
                    * (
                        (F.col("cb").cast("double") + F.lit(LM_ALPHA))
                        / (
                            F.col("cp").cast("double")
                            + F.lit(LM_ALPHA) * F.col("v")
                        )
                    ),
                    12,
                ).alias("kp"),
            )
        )
        scores = (
            scored.groupBy("doc_id")
            .agg(
                F.sum("k").alias("n_bigrams"),
                # NO final round: sum is an exact decimal(28,12) whose
                # scaled value fits in 53 bits (exact as double in both
                # engines), and one IEEE division is correctly rounded —
                # identical doubles. Rounding HERE would tie-break
                # differently per engine: a 12-scale decimal divided by
                # a small n lands exactly on .5×10^-12 boundaries with
                # probability ~1/n.
                (
                    F.sum(
                        F.col("kp").cast("decimal(28,12)")
                    ).cast("double")
                    / F.sum("k")
                ).alias("avg_prob"),
            )
        )
        return {"scores": scores}

    return persisted_frames(
        spark,
        "lm_bigram",
        sf_dir,
        ("documents",),
        _build,
        layout={"scores": "raw"},
    )


ORACLE["text_lm_score"] = f"""
with bg as (
  select doc_id, unnest({sql_ngrams_all(sql_toks('text'), 2)}) bigram
  from documents),
b2 as (
  select doc_id, bigram, string_split(bigram, ' ')[1] w1 from bg),
per_doc as (
  select doc_id, w1, bigram, count(*) k from b2 group by 1, 2, 3),
cb as (select bigram, sum(k) cb from per_doc group by 1),
cp as (select w1, sum(k) cp from per_doc group by 1),
vocab as (
  select count(distinct tok) v
  from (select unnest({sql_toks('text')}) tok from documents)),
scored as (
  select doc_id, k,
         round(cast(k as double)
               * ((cast(cb as double) + {LM_ALPHA})
                  / (cast(cp as double) + {LM_ALPHA} * v)), 12) kp
  from per_doc join cb using (bigram) join cp using (w1) cross join vocab)
select doc_id, cast(sum(k) as bigint) n_bigrams,
       cast(sum(cast(kp as decimal(28,12))) as double) / sum(k) avg_prob
from scored
group by doc_id
"""


# -------------------------------------------------------- text_dup_spans
DUP_SPAN_N = 8  # span width (tokens): long enough to mean real reuse


@_q("text_dup_spans")
def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span fraction per document: the share of a document's
    distinct 8-gram shingles that also appear in at least one OTHER
    document — the Gopher/RefinedWeb "duplicated n-gram fraction"
    signal used to drop boilerplate-heavy documents that survive
    whole-document dedup.

    Determinism: integer counts; the single division is one IEEE op on
    integer-derived doubles, rounded to 12 decimals (policy of
    corpus_mix_weights).

    Scale (100 TB): identical shape to text_tfidf_topk's df pass — one
    explode into a count-over-window by gram (hash-partitioned,
    combining), then one hash aggregate back to doc_id; cost follows
    total shingle volume, never pairs. Since shingles are DISTINCT per
    doc, the window count IS the document frequency."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id", F.explode(ngrams(toks(), DUP_SPAN_N)).alias("gram")
    )
    dfw = Window.partitionBy("gram")
    per = g.withColumn("df", F.count(F.lit(1)).over(dfw))
    return (
        per.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("df") >= 2).cast("int")).alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.round(
                F.col("n_dup_spans").cast("double")
                / F.nullif(F.col("n_spans"), F.lit(0)).cast("double"),
                12,
            ).alias("dup_frac"),
        )
    )


ORACLE["text_dup_spans"] = f"""
with g as (
  select doc_id, unnest({sql_ngrams(sql_toks('text'), DUP_SPAN_N)}) gram
  from documents),
d as (
  select doc_id, count(*) over (partition by gram) df from g)
select doc_id, count(*) n_spans,
       cast(sum(case when df >= 2 then 1 else 0 end) as bigint) n_dup_spans,
       round(cast(sum(case when df >= 2 then 1 else 0 end) as double)
             / nullif(count(*), 0), 12) dup_frac
from d
group by doc_id
"""


# ----------------------------------------------------- text_ngram_entropy
ENTROPY_N = 3  # shingle width for the entropy estimate
_ENT_SCALE = 1 << 20  # fixed-point unit for deterministic entropy sums

# Per-document trigram Shannon entropy — the information-density quality
# signal curation pipelines use to separate natural prose (high entropy)
# from boilerplate/template/spam text (low): docs whose n-gram
# distribution is concentrated score near 0 even when plain dup-fraction
# misses the repetition structure. Each -p·ln(p) term is floored to 2^20
# fixed point before the bigint sum, so the sum is order-independent and
# bit-identical in both engines.
ORACLE["text_ngram_entropy"] = f"""
with g as (
  select doc_id, unnest({sql_ngrams_all('t', ENTROPY_N)}) gram
  from (select doc_id, {sql_toks('text')} t from documents)),
c as (select doc_id, gram, count(*) cnt from g group by 1, 2),
w as (
  select doc_id, cnt, cast(sum(cnt) over (partition by doc_id) as bigint) n
  from c),
t as (
  select doc_id, n,
         cast(floor(-((cast(cnt as double) / cast(n as double))
                      * ln(cast(cnt as double) / cast(n as double)))
                    * {_ENT_SCALE}) as bigint) fp
  from w)
select doc_id, cast(max(n) as bigint) n_grams,
       count(*) n_distinct,
       cast(sum(fp) as double) / {float(_ENT_SCALE)} entropy
from t
group by doc_id
"""


# ----------------------------------------------------- text_bpe_pair_counts
BPE_TOP_PAIRS = 20  # merge candidates reported (the first BPE iteration)


@_q("text_bpe_pair_counts")
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE vocabulary induction: corpus-wide adjacent
    CHARACTER-pair frequencies, top BPE_TOP_PAIRS as merge candidates
    (full BPE iterates merge→recount; the counting pass shown here is
    the part that touches the 100 TB corpus — each later iteration
    recounts over re-tokenized text with the same plan shape).

    Plan: the pair ARRAY is built per row inside the generator
    expression (char-split + shifted-slice zip — array construction is
    the generator arg, so nothing re-evaluates per output row), then
    ONE corpus-wide (pair) map-side-combining hash aggregate —
    vocabulary-sized output — and a TOP-K by (count desc, pair asc),
    which Spark executes as TakeOrderedAndProject, not a global sort.
    Ties break on the pair so the cut is total in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _char_pair_counts(docs.select("text"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(BPE_TOP_PAIRS)
    )


def _char_pair_counts(frame: DataFrame) -> DataFrame:
    """(pair, n) adjacent-char-pair counts of a `text` column.

    split-to-chars + shifted-slice zip, NOT substr(text, i, 2) per
    position: UTF8String substr walks from the string start, so the
    per-position form is O(len²) per document — measured 2.16s vs
    1.13s at sf0.1 for the linear char-array form, identical output."""
    d = frame.where(F.length("text") >= 2).select(
        F.expr("split(text, '')").alias("cs")
    )
    m = F.greatest(F.size(F.col("cs")) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice("cs", 1, m),
        F.slice(F.col("cs"), 2, m),
        lambda x, y: F.concat(x, y),
    )
    return (
        d.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------- text_bpe_merge
def _sql_pair_counts(src: str) -> str:
    """DuckDB (pair, n) adjacent-char-pair counts over `src` (a CTE
    with a text column) — oracle mirror of _char_pair_counts."""
    return f"""
  select pair, count(*) n from (
    select unnest(list_transform(range(1, greatest(length(text), 1)),
                  i -> substr(text, i, 2))) pair
    from {src}
    where length(text) >= 2)
  group by pair"""


ORACLE["text_bpe_pair_counts"] = f"""
with g as ({_sql_pair_counts('documents')})
select pair, n
from g
order by n desc, pair asc
limit {BPE_TOP_PAIRS}
"""


@_q("text_bpe_merge")
def text_bpe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE full BPE induction iteration — count → pick the best merge →
    APPLY it corpus-wide → recount: the loop body a distributed BPE
    trainer runs per vocabulary entry (text_bpe_pair_counts is the
    count half; this closes the loop). The winning pair (max count,
    tie → pair asc, so the pick is total) is fused into the single
    placeholder symbol chr(1) by greedy left-to-right non-overlapping
    replace — exactly how BPE applies a merge — and the returned
    top-BPE_TOP_PAIRS table of the NEXT iteration's candidates carries
    the applied merge as merged_pair (pairs containing chr(1) are the
    candidates that would extend it to a 3-char symbol).

    Scale (100 TB): each iteration is two linear corpus passes (count,
    recount-after-replace) + one vocabulary-sized TakeOrdered; the
    winning pair is a broadcast single-row scalar (the allowlisted
    crossJoin pattern), never a corpus shuffle. Real trainers amortize
    by batching non-interacting merges per pass — same plan shape.

    Determinism: counts are integers; replace() is greedy
    left-to-right non-overlapping in both engines (overlapping runs
    like 'aaa' fuse leftmost-first, the BPE rule)."""
    docs = load_table(spark, sf_dir, "documents")
    best = (
        _char_pair_counts(docs.select("text"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(1)
        .select(F.col("pair").alias("merged_pair"))
    )
    merged = docs.crossJoin(F.broadcast(best)).select(
        "merged_pair",
        F.expr("replace(text, merged_pair, chr(1))").alias("text"),
    )
    return (
        _char_pair_counts(merged)
        .crossJoin(F.broadcast(best))
        .select("merged_pair", "pair", "n")
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(BPE_TOP_PAIRS)
    )


ORACLE["text_bpe_merge"] = f"""
with c1 as ({_sql_pair_counts('documents')}),
best as (
  select pair merged_pair from c1 order by n desc, pair asc limit 1),
m as (
  select replace(text, (select merged_pair from best), chr(1)) as "text"
  from documents),
c2 as ({_sql_pair_counts('m')})
select (select merged_pair from best) merged_pair, pair, n
from c2
order by n desc, pair asc
limit {BPE_TOP_PAIRS}
"""


# ----------------------------------------------------------- text_pmi_topk
PMI_MIN_COUNT = 5  # bigram support floor (rare-pair PMI is noise)
PMI_TOP = 20

# Top collocations by pointwise mutual information — PMI(x,y) =
# ln(N·c_xy / (c_x·c_y)) over adjacent token pairs, support-floored at
# PMI_MIN_COUNT. The classic collocation / multiword-expression signal
# (also the "glued boilerplate" detector: templated corpora show
# extreme-PMI pairs a quality pipeline flags for tokenizer-vocab or
# filter decisions). Counts are exact; the one ln() per output row is
# rounded to 12 decimals and the top-K ties break on the pair.
ORACLE["text_pmi_topk"] = f"""
with toked as (select {sql_toks('text')} t from documents),
pc as (
  select pair, count(*) c_xy
  from (select unnest({sql_ngrams_all('t', 2)}) pair from toked)
  group by pair
  having count(*) >= {PMI_MIN_COUNT}),
uni as (
  select tok, count(*) c
  from (select unnest(t) tok from toked)
  group by tok),
total as (
  select count(*) n_bigrams
  from (select unnest({sql_ngrams_all('t', 2)}) pair from toked))
select pc.pair, pc.c_xy, ux.c c_x, uy.c c_y,
       round(ln(cast((select n_bigrams from total) as double)
                * cast(pc.c_xy as double)
                / (cast(ux.c as double) * cast(uy.c as double))), 12) pmi
from pc
join uni ux on ux.tok = string_split(pc.pair, ' ')[1]
join uni uy on uy.tok = string_split(pc.pair, ' ')[2]
order by pmi desc, pc.pair asc
limit {PMI_TOP}
"""


# ------------------------------------------------------ text_robust_stats
# Per-source robust length statistics: median and MAD, the
# outlier-robust location and scale a curation pipeline reports next to
# the mean (a crawl of 10^6 identical short docs shifts a mean, barely
# a median). Both are holistic: the exact median aggregate buffers each
# group's values, which holds while one source's lengths (8 bytes/doc)
# fit a task; past that, key on (source, shard) and merge, or read
# sketch_hist_quantiles, the mergeable estimator. Medians of bigints are
# exact doubles (a value, or the mean of two integers), so both engines
# agree bit-for-bit, and MAD inherits that over half-integer deviations.
ORACLE["text_robust_stats"] = """
with med as (
  select source, count(*) n_docs,
         cast(median(n_chars) as double) median_chars
  from documents group by 1),
mad as (
  select d.source,
         cast(median(abs(d.n_chars - m.median_chars)) as double) mad_chars
  from documents d join med m using (source)
  group by 1)
select m.source, m.n_docs, m.median_chars, a.mad_chars
from med m join mad a using (source)
order by source
"""


# ----------------------------------------------------- shared lexical index
def _text_index_memo(spark: SparkSession, sf_dir: str):
    """DISK-PERSISTED lexical index over `documents` — the TF table,
    the document-frequency (vocabulary) table, and the corpus stats
    scalar frame that BM25 and TF-IDF both start from
    (text_bm25_topk rebuilt all three per call at 3.4s warm; a
    BM25 index IS a production artifact — Lucene/ES materialize
    exactly these postings + norms + stats on ingest and serve every
    query from them). Frames:

    - "tf":    (doc_id, dl, tok, tf) — one row per distinct token per
               document with its in-doc frequency and the doc length.
    - "dfs":   (tok, df) — vocabulary-sized document frequencies.
    - "stats": 1 row (n_docs, avgdl).
    - "impacts": (tok, doc_id, term) — the per-posting Okapi BM25
               term contribution round(idf·tf_part, 12), which is a
               pure function of (tf, dl, df, N, avgdl) and therefore
               QUERY-INDEPENDENT: precomputing it on ingest is the
               impact-ordered-index idea (Anh & Moffat 2006; Lucene
               stores the same per-posting impacts), and it turns
               BM25 retrieval into join + sum + top-k with zero
               query-time arithmetic beyond the score sum.

    All frames reload RAW (plain scans, no materialization job): each
    consumer references each frame once and shuffles/broadcasts it
    anyway. Reload ≡ rebuild parity is pinned in
    tests/test_artifacts.py.

    At 100 TB the index is written BUCKETED by tok (posting-list
    locality: a query panel's term joins co-locate with their
    postings and the df/impact joins are bucket-local), exactly as a
    production search index shards by term; the frames here are small
    enough that plain parquet + broadcast covers every consumer."""
    from duckdb_wasm_spark.artifacts import persisted_frames

    def _build() -> dict[str, DataFrame]:
        docs = load_table(spark, sf_dir, "documents")
        ta = docs.select("doc_id", toks().alias("ta")).localCheckpoint()
        tf = (
            ta.select(
                "doc_id",
                F.size("ta").alias("dl"),
                F.explode("ta").alias("tok"),
            )
            .groupBy("doc_id", "dl", "tok")
            .agg(F.count(F.lit(1)).alias("tf"))
            .localCheckpoint()
        )
        dfs = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        stats = ta.agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum(F.size("ta")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avgdl"),
        )
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs").cast("double") - F.col("df") + 0.5)
            / (F.col("df").cast("double") + 0.5)
        )
        tf_part = (
            F.col("tf").cast("double") * (BM25_K1 + 1.0)
        ) / (
            F.col("tf").cast("double")
            + BM25_K1
            * (
                1.0
                - BM25_B
                + BM25_B * F.col("dl").cast("double") / F.col("avgdl")
            )
        )
        impacts = (
            tf.join(F.broadcast(dfs), "tok")
            .crossJoin(F.broadcast(stats))
            .select(
                "tok", "doc_id", F.round(idf * tf_part, 12).alias("term")
            )
        )
        return {"tf": tf, "dfs": dfs, "stats": stats, "impacts": impacts}

    return persisted_frames(
        spark,
        "text_index",
        sf_dir,
        ("documents",),
        _build,
        layout={
            "tf": "raw", "dfs": "raw", "stats": "raw", "impacts": "raw"
        },
    )


# ------------------------------------------------------- text_bm25_topk
# Okapi BM25 (Robertson & Walker 1994) constants — the standard values
BM25_K1 = 1.2
BM25_B = 0.75
BM25_NQ = 25  # query panel: the first 25 documents (more-like-this)
BM25_QTOK = 8  # distinct query terms = first 8 tokens of the doc
BM25_TOPK = 5


@_q("text_bm25_topk")
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-K retrieval over the corpus — the lexical ranking
    function every retrieval-augmented pipeline and every
    dedup-by-retrieval pass starts from (Okapi BM25, Robertson &
    Walker 1994). Query panel = "more-like-this": for each of the
    first BM25_NQ documents, the distinct set of its first BM25_QTOK
    tokens queries the rest of the corpus; per query the BM25_TOPK
    best documents (self excluded) are returned.

      score(q, d) = Σ_{t ∈ q∩d} ln(1 + (N − df + 0.5)/(df + 0.5))
                    · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Determinism (the text_lm_score discipline): every input to the
    per-term score is an exact integer (tf, df, dl, N) or the exact
    integer ratio avgdl = Σdl/N evaluated identically in both
    engines; the one ln() rides a 12-decimal round (the tfidf-topk
    ulp policy), and per-(query, doc) scores sum the rounded terms
    EXACTLY as decimal(28,12) — a double Σ over a hash aggregate
    would be partition-order-dependent. The final rank key
    (score desc, doc_id asc) is total.

    Plan (100 TB): the TF table, the vocabulary df table, and the
    corpus stats come from the disk-persisted lexical index
    (_text_index_memo — built once on ingest, served to every query,
    the Lucene/ES lifecycle: rebuilding all three per call was 3.4s
    warm); df is the vocabulary-sized table broadcast
    back (flip to a shuffle join at a vocab beyond broadcast); the
    query-term table is
    a ≤ NQ·QTOK-row broadcast, so candidate generation is one
    postings-style equi-join on the term — cost follows the panel's
    posting lists, never corpus × corpus; corpus stats (N, avgdl) ride
    one 1-row broadcast scalar (BNLJ-allowlisted); top-K per query is
    a rank ≤ K window over the panel's candidates (WindowGroupLimit
    caps per-partition state at K)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    idx = _text_index_memo(spark, sf_dir)
    # only the NQ-doc query panel is tokenized at query time (the
    # doc_id < NQ filter pushes into the scan); the per-posting term
    # contributions are the persisted "impacts" frame, so query-time
    # work is join + decimal sum + top-k
    ta = docs.select("doc_id", toks().alias("ta"))
    q = ta.where(F.col("doc_id") < BM25_NQ).select(
        F.col("doc_id").alias("query_id"),
        F.explode(
            F.array_distinct(F.slice("ta", 1, BM25_QTOK))
        ).alias("tok"),
    )
    scored = (
        F.broadcast(q)
        .join(idx["impacts"], "tok")
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(F.col("term").cast("decimal(28,12)"))
            .cast("double")
            .alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= BM25_TOPK)
        .select("query_id", "rk", "doc_id", "score")
    )


ORACLE["text_bm25_topk"] = f"""
with ta as (
  select doc_id, {sql_toks('text')} ta from documents),
tf as (
  select doc_id, len(ta) dl, tok, count(*) tf
  from (select doc_id, ta, unnest(ta) tok from ta)
  group by 1, 2, 3),
dfs as (select tok, count(*) df from tf group by 1),
stats as (
  select count(*) n_docs,
         cast(sum(len(ta)) as double) / cast(count(*) as double) avgdl
  from ta),
q as (
  select doc_id query_id, unnest(list_distinct(ta[1:{BM25_QTOK}])) tok
  from ta where doc_id < {BM25_NQ}),
scored as (
  select query_id, doc_id,
         cast(sum(cast(round(
           ln(1.0 + (cast(n_docs as double) - df + 0.5)
                    / (cast(df as double) + 0.5))
           * (cast(tf as double) * {BM25_K1 + 1.0})
             / (cast(tf as double)
                + {BM25_K1} * (1.0 - {BM25_B}
                               + {BM25_B} * cast(dl as double) / avgdl)),
           12) as decimal(28,12))) as double) score
  from q join tf using (tok)
  join dfs using (tok) cross join stats
  where doc_id <> query_id
  group by 1, 2),
ranked as (
  select query_id, doc_id, score,
         row_number() over (partition by query_id
                            order by score desc, doc_id asc) rk
  from scored)
select query_id, rk, doc_id, score
from ranked where rk <= {BM25_TOPK}
"""


# ------------------------------------------------------ corpus_novelty
@_q("corpus_novelty")
def corpus_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY against everything ingested before
    it — the crawl-freshness audit an ingest pipeline runs to decide
    when a source has gone stale (novelty collapsing toward 0 means
    new snapshots are re-serving old content; RefinedWeb/FineWeb-class
    pipelines track exactly this curve per dump). A document's novelty
    is the fraction of its DISTINCT trigram shingles whose FIRST
    corpus occurrence (min doc_id — ingest order on the synthetic
    corpus) is the document itself. Output: per (source, novelty
    decile) rollup — doc count and summed novel shingles per cell — the
    curve's shape without a corpus-sized result.

    Determinism: first-occurrence is an integer min; novelty is the
    exact integer pair (novel, total) with the decile bucket computed
    as the integer floor (novel*10)/total clamped to 9; every output
    is an integer aggregate — no floats anywhere.

    Plan (100 TB): one (gram) min-aggregate builds the first-occurrence
    index (vocabulary-sized, grows sublinearly), one equi-join back on
    the gram (postings shape — never corpus x corpus), one (doc) count
    aggregate, one (source, decile) rollup. All hash aggregates with
    map-side combine; nothing sorts the corpus. An incremental ingest
    maintains the same index as a running min.

    The distinct per-doc trigram sets are served from the shared
    gram_index ingest artifact (the identical ngrams(toks(), 3) set
    dedup's posting family reads) instead of re-tokenizing — TWO plan
    branches (the first-occurrence aggregate and the join back) each
    re-ran the explode subtree; the source label joins onto the
    PER-DOC aggregate (one narrow scan), not the gram stream."""
    from duckdb_wasm_spark.operators.dedup import _gram_index_memo

    docs = load_table(spark, sf_dir, "documents")
    grams = (
        _gram_index_memo(spark, sf_dir)["arrays"]
        .select("doc_id", F.explode("grams").alias("gram"))
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("novel"),
        )
        .join(docs.select("doc_id", "source"), "doc_id")
    )
    # integer floor-division in BOTH engines: `/` is double division
    # whose cast ROUNDS in DuckDB but truncates in Spark
    decile = F.least(F.lit(9).cast("long"), F.expr("novel * 10 div total"))
    return per_doc.select("source", decile.alias("decile"), "novel").groupBy(
        "source", "decile"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("novel").cast("long").alias("novel_shingles"),
    )


ORACLE["corpus_novelty"] = f"""
with grams as (
  select doc_id, source, unnest({sql_ngrams(sql_toks('text'), 3)}) gram
  from documents),
first as (select gram, min(doc_id) first_doc from grams group by 1),
per_doc as (
  select doc_id, source, count(*) total,
         cast(count(*) filter (where first_doc = doc_id) as bigint) novel
  from grams join first using (gram)
  group by 1, 2)
select source,
       least(9, (novel * 10) // total) decile,
       count(*) n_docs,
       cast(sum(novel) as bigint) novel_shingles
from per_doc
group by 1, 2
"""


register_texts(QUERIES, ORACLE)
