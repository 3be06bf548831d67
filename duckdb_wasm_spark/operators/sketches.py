"""Probabilistic-sketch operators — the compressed summaries a 100 TB
curation pipeline runs where exact state would not fit. Each reports
its estimate NEXT TO the exact answer, so the gate checks the estimator
itself:

  sketch_hll_distinct        HyperLogLog distinct-shingle estimate per
                             source
  sketch_hll_merge           per-source HLL registers max-merged into
                             one sketch, against a direct global build
  sketch_kmv_distinct        KMV (bottom-k) distinct-shingle estimate
                             per source
  sketch_kmv_jaccard         source-pair vocabulary Jaccard estimated
                             from the KMV sketches
  sketch_cms_heavy_hitters   Count-Min point estimates for the true
                             top-20 shingles (overestimate-only,
                             pytest-pinned)
  sketch_bloom_decontaminate Bloom-filter membership pre-filter for
                             benchmark decontamination (no false
                             negatives, pytest-pinned)
  sketch_hist_quantiles      mergeable fixed-width histogram quantiles

Shared steps, each one Spark helper and one DuckDB helper:
_hll_register_rho / _sql_hll_register_rho (register and rho of a
hash), _hll_estimate / _sql_hll_estimate (the register fold's estimate
and its linear-counting correction), _kmv_bottom / _sql_kmv_bottom (the
per-source bottom-k), _salted_pos / _sql_salted_pos (the CMS counter
and Bloom bit positions). The distinct (source, shingle) vocabulary
and the exact source-pair Jaccard come from pipeline.py, beside
corpus_source_overlap.

Every sketch here is md5-derived and therefore REPRODUCIBLE in the
DuckDB oracle: the "randomness" of register assignment, row hashing and
bit positions is the same 60-bit md5 fold both engines compute
identically (operators/_text.py tok_hash60), so even the approximate
answers are hash-exact across engines — the same discipline as the
MinHash/SimHash/LSH family in operators/dedup.py.

Scale notes (100 TB):
  - HLL state is sources × 256 registers regardless of corpus size; the
    register max is a map-side-combining aggregate, one shuffle by
    (source, register), then a 256-row-per-source fold. This is the
    shape of every production distinct-counter (BigQuery APPROX_*,
    Spark's own approx_count_distinct) — reimplemented openly so the
    oracle can replay it (engine-native HLLs use incompatible hashes).
  - CMS state is d×w = 4×256 counters total, map-side combined; point
    queries touch d rows per key. Heavy-hitter extraction joins the
    top-k frame (bounded) against the tiny sketch — never the corpus.
  - The Bloom bitset is ≤ m = 65536 bits built from the EVAL side
    (tiny by design) and broadcast to the train scan as one bitmask
    row. The win at scale: the broadcast is capped at m bits no matter
    how large the eval suite grows.

Float determinism: the only floating-point output is the HLL estimate;
its register fold is summed as EXACT bigints (2^(53-M_j) is an integer
for M_j ≤ 53) and converted to double once, so the IEEE operation
sequence is identical in both engines (see _hll docstrings).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_wasm_spark.operators._text import (
    expr_tok_hash60,
    ngrams,
    ngrams_all,
    sql_ngrams,
    sql_ngrams_all,
    sql_tok_hash60,
    sql_toks,
    tok_hash60,
    toks,
)
from duckdb_wasm_spark.operators.pipeline import (
    _SQL_VOCAB_SIZES_INTER,
    _source_vocab,
    _sql_source_vocab,
    _sql_vocab_jaccard,
    _vocab_jaccard,
)
from duckdb_wasm_spark.plans._util import registrar
from duckdb_wasm_spark.tables import load_table

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


_q = registrar(QUERIES)


# ------------------------------------------------------ sketch_hll_distinct
HLL_P = 8  # 2^8 = 256 registers
HLL_M = 1 << HLL_P
# bias constant for m >= 128 (Flajolet et al. 2007); computed HERE and
# embedded as the same literal in both engines' texts
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
HLL_N = 3  # shingle width the estimator counts


def _hll_register_rho() -> list[Column]:
    """(register, rho) of the 60-bit hash column `h`: register = h % m;
    the remaining 52 bits v = h div m give rho = 53 - bitlen(v), 53 for
    v = 0. bitlen via length(bin(v)) is integer-exact."""
    return [
        (F.col("h") % HLL_M).alias("register"),
        F.expr(
            f"if(h div {HLL_M} = 0, 53, "
            f"53 - length(bin(h div {HLL_M})))"
        ).alias("rho"),
    ]


def _sql_hll_register_rho(h: str) -> tuple[str, str]:
    """The same (register, rho) expressions in DuckDB over hash `h`
    (bitlen via length(to_base(v, 2)))."""
    return (
        f"{h} % {HLL_M}",
        f"case when {h} // {HLL_M} = 0 then 53\n"
        f"                  else 53 - length(to_base({h} // {HLL_M}, 2)) end",
    )


def _hll_estimate(
    s: DataFrame, out: str, key: tuple = (), extra: tuple = ()
) -> DataFrame:
    """The estimate `out` from the register fold: E = alpha m^2 /
    (s_int / 2^53) over the exact bigint fold `s_int`, then the
    small-range linear-counting correction m ln(m / V) where E <= 2.5m
    and V = `v_zero` empty registers > 0. `key` columns go before it
    and `extra` columns after it."""
    return s.select(
        *key,
        F.expr(
            # alpha is cast to double BEFORE multiplying: a bare
            # decimal literal times 65536 overflows DuckDB's DECIMAL
            # parse and would make the two engines' op sequences differ
            f"cast({HLL_ALPHA!r} as double) * {HLL_M * HLL_M} "
            f"/ (cast(s_int as double) / cast(pow(2, 53) as bigint))"
        ).alias("e_raw"),
        "v_zero",
        *extra,
    ).select(
        *key,
        F.expr(
            f"if(e_raw <= {2.5 * HLL_M!r} and v_zero > 0, "
            f"{HLL_M} * ln({HLL_M} / cast(v_zero as double)), e_raw)"
        ).alias(out),
        *extra,
    )


def _sql_hll_estimate(out: str) -> tuple[str, str]:
    """The same two steps in DuckDB: the `e_raw` select item over
    s_int, and the corrected estimate `out` over e_raw and v_zero."""
    return (
        f"cast({HLL_ALPHA!r} as double) * {HLL_M * HLL_M}\n"
        f"           / (cast(s_int as double) / cast(2 ** 53 as double))"
        " e_raw",
        f"case when e_raw <= {2.5 * HLL_M!r} and v_zero > 0\n"
        f"              then {HLL_M} * ln({HLL_M} / cast(v_zero as double))\n"
        f"              else e_raw end {out}",
    )


@_q("sketch_hll_distinct")
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-trigram estimate per source, next to the
    exact count and relative error — gating the ESTIMATOR, not just a
    number: a wrong register split, rho, or fold changes the estimate
    and fails the hash.

    Construction (per shingle): h = 60-bit md5 fold; register =
    h % 256; the remaining 52 bits v = h // 256 give rho = 53 -
    bitlen(v) (rho = 53 for v = 0) — the 1-based position of the first
    set bit from the top of the 52-bit window. Register state M_j =
    max rho. Estimate E = alpha * m^2 / sum_j 2^(-M_j).

    Determinism: bitlen via length(bin(v)) / length(to_base(v, 2)) —
    integer-exact in both engines; the register fold sums the INTEGERS
    2^(53-M_j) (max 256 * 2^53 < 2^63) and divides by 2^53 once, so
    the float value of the fold is exact and order-independent, and E
    is the same three IEEE ops in both engines. The standard
    small-range linear-counting correction (E <= 2.5m with empty
    registers -> m * ln(m/V)) is implemented in both texts for
    correctness, but its ln() is the one cross-engine non-determinism
    risk — unreachable at the gated scales, where every source carries
    >= 1000 distinct trigrams >= 4m (the estimator sits in its
    bias-corrected sweet spot; a testdata regeneration shrinking
    sources below ~640 distinct shingles would put that ln() on the
    hash-compared path).

    Scale: state is |sources| x 256 registers, corpus-size-free."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE linear pipeline computes the sketch AND the exact count: a
    # register branch hashing every OCCURRENCE beside a separate
    # countDistinct branch, joined back at the end, scans and tokenizes
    # documents twice (Catalyst does not dedupe the common subtree).
    # Register assignment is a pure function of the gram, so max(rho)
    # over occurrences equals max(rho) over DISTINCT (source, gram)
    # rows; and because the register partitions the distinct gram set,
    # the per-register distinct-gram count SUMS to n_exact — the
    # countDistinct branch collapses into one extra aggregate column
    # riding the register rollup. One corpus pass, md5 evaluated once
    # per distinct gram instead of once per occurrence, no join-back.
    hashed = _source_vocab(docs, HLL_N).select(
        "source", tok_hash60(F.col("gram")).alias("h")
    )
    regs = (
        hashed.select("source", *_hll_register_rho())
        .groupBy("source", "register")
        .agg(
            F.max("rho").alias("m_j"),
            F.count(F.lit(1)).alias("n_distinct_reg"),
        )
    )
    # Zero-fill WITHOUT the register grid: exploding a sources×256 grid
    # and left-joining the registers back derives the grid's source
    # list from regs, duplicating the whole tokenize+hash subtree (a
    # second documents scan, since Catalyst does not dedupe common
    # subtrees). A PRESENT register always has m_j >= 1 (rho = 53 -
    # bitlen(v) >= 1 for v < 2^52), so the absent registers are exactly
    # the m_j = 0 ones and contribute a closed form: v_zero = 256 -
    # n_present and s_int gains (256 - n_present) * 2^53 — exact bigint
    # arithmetic, identical fold value, one aggregate instead of
    # explode+join.
    per_source = regs.groupBy("source").agg(
        F.expr(
            "sum(cast(pow(2, 53 - m_j) as bigint)) "
            f"+ ({HLL_M} - count(*)) * cast(pow(2, 53) as bigint)"
        ).alias("s_int"),
        F.expr(f"{HLL_M} - count(*)").alias("v_zero"),
        # the registers partition the distinct gram set, so this IS
        # count(distinct gram) per source — no second corpus pass
        F.sum("n_distinct_reg").alias("n_exact"),
    )
    est = _hll_estimate(per_source, "n_hll", ("source",), ("n_exact",))
    return est.select(
        "source",
        "n_hll",
        "n_exact",
        ((F.col("n_hll") - F.col("n_exact")) / F.col("n_exact")).alias(
            "rel_err"
        ),
    )


_SQL_HLL_REG, _SQL_HLL_RHO = _sql_hll_register_rho("h")
_SQL_HLL_E_RAW, _SQL_HLL_N_HLL = _sql_hll_estimate("n_hll")

ORACLE["sketch_hll_distinct"] = f"""
with grams as (
  select source, unnest({sql_ngrams(sql_toks('text'), HLL_N)}) gram
  from documents),
hashed as (
  select source, {sql_tok_hash60('gram')} h
  from grams),
regs as (
  select source, {_SQL_HLL_REG} register,
         max({_SQL_HLL_RHO}) m_j
  from hashed group by 1, 2),
grid as (
  select source, r.register
  from (select distinct source from regs),
       (select unnest(range(0, {HLL_M})) register) r),
filled as (
  select g.source, coalesce(m_j, 0) m_j
  from grid g left join regs using (source, register)),
per_source as (
  select source,
         sum(cast(2 ** (53 - m_j) as bigint)) s_int,
         sum(case when m_j = 0 then 1 else 0 end) v_zero
  from filled group by 1),
est as (
  select source,
         {_SQL_HLL_E_RAW},
         v_zero
  from per_source),
corrected as (
  select source,
         {_SQL_HLL_N_HLL}
  from est),
exact as (
  select source, count(distinct gram) n_exact from grams group by 1)
select source, n_hll, n_exact,
       (n_hll - n_exact) / n_exact rel_err
from corrected join exact using (source)
"""


# -------------------------------------------------- sketch_cms_heavy_hitters
CMS_D = 4  # hash rows
CMS_W = 256  # counters per row
CMS_TOPK = 20


def _salted_pos(salt: str, gram: str, m: int) -> str:
    """Counter position of `gram` under hash function `salt`: the fold
    of md5(salt || ' ' || gram), mod m — Spark SQL text."""
    key = f"concat('{salt} ', {gram})"
    return f"{expr_tok_hash60(key)} % {m}"


def _sql_salted_pos(salt: str, gram: str, m: int) -> str:
    """Same position in DuckDB."""
    key = f"'{salt} ' || {gram}"
    return f"{sql_tok_hash60(key)} % {m}"


@_q("sketch_cms_heavy_hitters")
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point estimates for the true top-20 trigrams (by
    occurrence), next to exact counts: cms_n >= n_exact always (the
    one-sided CMS guarantee, pytest-pinned), with the overestimate
    column showing the collision error a d=4 x w=256 sketch pays on
    this corpus — the sketch is deliberately small relative to the
    shingle vocabulary so collisions actually occur and the gate
    checks real CMS behavior, not a perfect hash.

    Plan: one shingle pass fans out d=4 (row, counter) updates per
    occurrence, map-side combined into the <= 1024-cell sketch; the
    top-k frame (TakeOrderedAndProject, ties broken by gram) joins the
    sketch on (row, counter) — bounded x bounded, never the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select("doc_id", F.explode(ngrams_all(toks(), 3)).alias("gram"))
    cells = " , ".join(
        f"struct({i} as i, {_salted_pos(f'cms{i}', 'gram', CMS_W)} as col)"
        for i in range(CMS_D)
    )
    # ONE per-gram count frame feeds both the sketch build and the
    # exact top-k, so the corpus is tokenized once (Catalyst does not
    # dedupe common subtrees, and a second derivation of the gram
    # stream re-reads it). Cell updates for one gram all hit the same
    # d cells, so cnt(i, col) = sum of per-gram totals over grams
    # hashing there — the d-way explode and the md5 cell hashes run
    # once per DISTINCT gram over the small checkpointed count frame.
    gc = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .localCheckpoint()
    )
    cms = (
        gc.select(
            F.expr(f"explode(array({cells}))").alias("rc"), "n_exact"
        )
        .groupBy("rc.i", "rc.col")
        .agg(F.sum("n_exact").alias("cnt"))
    )
    top = gc.orderBy(F.col("n_exact").desc(), F.col("gram").asc()).limit(
        CMS_TOPK
    )
    probes = top.select(
        "gram", "n_exact", F.expr(f"explode(array({cells}))").alias("rc")
    ).select("gram", "n_exact", "rc.i", "rc.col")
    return (
        probes.join(cms, ["i", "col"])
        .groupBy("gram")
        .agg(
            F.any_value("n_exact").alias("n_exact"),
            F.min("cnt").alias("cms_n"),
        )
        .select(
            "gram",
            "n_exact",
            "cms_n",
            (F.col("cms_n") - F.col("n_exact")).alias("overestimate"),
        )
    )


_SQL_CMS_CELLS = ", ".join(
    f"{{'i': {i}, 'col': {_sql_salted_pos(f'cms{i}', 'gram', CMS_W)}}}"
    for i in range(CMS_D)
)

ORACLE["sketch_cms_heavy_hitters"] = f"""
with g as (
  select doc_id, unnest({sql_ngrams_all(sql_toks('text'), 3)}) gram
  from documents),
upd as (
  select u.c.i i, u.c.col col
  from g, unnest([{_SQL_CMS_CELLS}]) u(c)),
cms as (select i, col, count(*) cnt from upd group by 1, 2),
top as (
  select gram, count(*) n_exact from g group by 1
  order by n_exact desc, gram limit {CMS_TOPK}),
probes as (
  select gram, n_exact, u.c.i i, u.c.col col
  from top, unnest([{_SQL_CMS_CELLS}]) u(c))
select gram, any_value(n_exact) n_exact, min(cnt) cms_n,
       min(cnt) - any_value(n_exact) overestimate
from probes join cms using (i, col)
group by gram
"""


# ------------------------------------------------ sketch_bloom_decontaminate
BLOOM_K = 7  # hash functions
BLOOM_M = 65536  # bits
BLOOM_N = 5  # shingle width (decontaminate_ngram's DECON_N)
BLOOM_EVAL_MOD = 20  # held-out split (decontaminate_ngram's)


@_q("sketch_bloom_decontaminate")
def sketch_bloom_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bloom-filter membership pre-filter for decontamination, reported
    next to exact membership: per train doc, how many of its distinct
    5-gram shingles the k=7 / m=65536 Bloom filter built from the eval
    split calls "maybe present", vs how many truly are. Bloom admits
    no false negatives (n_bloom_hits >= n_exact_hits, pytest-pinned);
    n_false_pos is the price of compressing the eval shingle set to m
    bits. Same eval split as decontaminate_ngram (doc_id % 20 == 0).

    Scale: the bitset is <= m = 65536 BITS no matter how large the
    eval suite grows — where decontaminate_ngram's broadcast inverted
    index grows with the eval set, the Bloom broadcast is capped.

    Plan: the probe is an m-bit BITSET membership test, not an
    equi-join on exploded hash positions, to shuffle fewer bytes and
    run fewer shuffles. The join form explodes the train gram stream
    7× (one row per hash position), hash-joins it against the
    ≤65536-row set-bit frame and shuffles the hits — ~7× the gram
    stream at this filter's ~75% bit density — into a (train_id,
    gram) aggregate, with two more corpus-wide branches (exact
    semi-join, per-doc counts) re-reading the gram stream. Here ONE
    map-side-aggregated exchange builds the per-(doc, gram) occurrence
    counts — and, as the only exchange the train stream crosses before
    the final per-doc rollup, redistributes the single-row-group scan
    across the cluster so the md5 probe work parallelizes; the eval
    side collapses to a single-row dense 1024×long bitmask broadcast
    on a constant key; each distinct gram probes its 7 positions with
    O(1) array-element bit tests in a projection (no explode, no join,
    no per-gram shuffle); and ONE final per-doc aggregate computes
    n_grams / n_bloom_hits / n_exact_hits together (the eval-membership
    flag rides a broadcast left join of the distinct eval grams).
    Checkpointing the gram counts instead cost more in the write than
    the recompute it saved, and a probe-in-the-scan-stage variant
    without the per-gram aggregate was measured SLOWER (3.2s vs 2.7s
    min-warm): the raw layout's one-row-group scan runs the
    14-md5s-per-gram projection single-threaded.

    Exactness: the join form's per-(train_id, gram) hit count over o
    occurrences × 7 positions equals o·h (h = positions whose bit is
    set, duplicates among the 7 count, as the join counts them), so
    `count == k` ≡ `o·h == k` — the bitmask form tests exactly that
    (ngrams() emits distinct shingles per doc, so o = 1 throughout,
    but the o-form stays independent of that internal). The eval bit
    positions derived from distinct eval grams are the same set as
    from all eval rows."""
    docs = load_table(spark, sf_dir, "documents")
    shingled = docs.select(
        "doc_id", F.explode(ngrams(toks(), BLOOM_N)).alias("gram")
    )
    gcounts = shingled.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).alias("o")
    )
    # tiny shared frame (distinct eval grams): checkpointed so the
    # bitmask build and the membership broadcast share one 5%-corpus
    # pass instead of tokenizing the eval split once per consumer
    ev_grams = (
        gcounts.where(F.col("doc_id") % BLOOM_EVAL_MOD == 0)
        .select("gram")
        .distinct()
        .localCheckpoint()
    )
    poss = [
        _salted_pos(f"bloom{j}", "gram", BLOOM_M) for j in range(BLOOM_K)
    ]
    n_words = BLOOM_M // 64
    mask = (
        ev_grams.select(
            F.expr(f"explode(array({', '.join(poss)}))").alias("pos")
        )
        .distinct()
        .groupBy(F.expr("pos div 64").alias("word"))
        .agg(
            F.expr(
                "bit_or(shiftleft(1L, cast(pos % 64 as int)))"
            ).alias("w")
        )
        .agg(
            F.expr("map_from_entries(collect_list(struct(word, w)))")
            .alias("m")
        )
        .select(
            F.expr(
                f"transform(sequence(0L, {n_words - 1}L), "
                "i -> coalesce(try_element_at(m, i), 0L))"
            ).alias("mask"),
            F.lit(1).alias("k"),
        )
    )
    # h = how many of the gram's k hash positions have their bit set
    # (array duplicates among the k positions count, as an exploded
    # join would count them)
    h = " + ".join(
        f"(shiftright(element_at(mask, cast(({pos}) div 64 as int) + 1), "
        f"cast(({pos}) % 64 as int)) & 1)"
        for pos in poss
    )
    return (
        gcounts.where(F.col("doc_id") % BLOOM_EVAL_MOD != 0)
        .select(F.col("doc_id").alias("train_id"), "gram", "o")
        .withColumn("k", F.lit(1))
        .join(F.broadcast(mask), "k")
        .join(
            F.broadcast(ev_grams.withColumn("in_ev", F.lit(1))),
            "gram",
            "left",
        )
        .select("train_id", "o", "in_ev", F.expr(h).alias("h"))
        .groupBy("train_id")
        .agg(
            F.sum("o").alias("n_grams"),
            F.sum(
                F.when(F.col("o") * F.col("h") == BLOOM_K, 1).otherwise(0)
            ).alias("n_bloom_hits"),
            F.sum(
                F.when(F.col("in_ev") == 1, F.col("o")).otherwise(F.lit(0))
            ).alias("n_exact_hits"),
        )
        .select(
            "train_id",
            "n_grams",
            "n_bloom_hits",
            "n_exact_hits",
            (F.col("n_bloom_hits") - F.col("n_exact_hits")).alias(
                "n_false_pos"
            ),
        )
    )


_SQL_BLOOM_POSS = ", ".join(
    _sql_salted_pos(f"bloom{j}", "gram", BLOOM_M) for j in range(BLOOM_K)
)

ORACLE["sketch_bloom_decontaminate"] = f"""
with shingled as (
  select doc_id, unnest({sql_ngrams(sql_toks('text'), BLOOM_N)}) gram
  from documents),
ev as (select * from shingled where doc_id % {BLOOM_EVAL_MOD} = 0),
train as (select doc_id train_id, gram from shingled
          where doc_id % {BLOOM_EVAL_MOD} != 0),
bits as (
  select distinct u.p pos
  from ev, unnest([{_SQL_BLOOM_POSS}]) u(p)),
probe as (
  select train_id, gram, u.p pos
  from train, unnest([{_SQL_BLOOM_POSS}]) u(p)),
bloom_hits as (
  select train_id, count(*) n_bloom_hits from (
    select train_id, gram
    from probe join bits using (pos)
    group by train_id, gram
    having count(*) = {BLOOM_K})
  group by train_id),
exact_hits as (
  select train_id, count(*) n_exact_hits
  from train semi join (select distinct gram from ev) e using (gram)
  group by train_id),
per_doc as (select train_id, count(*) n_grams from train group by 1)
select p.train_id, n_grams,
       coalesce(n_bloom_hits, 0) n_bloom_hits,
       coalesce(n_exact_hits, 0) n_exact_hits,
       coalesce(n_bloom_hits, 0) - coalesce(n_exact_hits, 0) n_false_pos
from per_doc p
left join bloom_hits using (train_id)
left join exact_hits using (train_id)
"""


# ---------------------------------------------------- sketch_kmv_distinct
KMV_K = 128  # bottom-k size
KMV_N = 3  # shingle width
# 2^60 as an exact double (power of two): dividing the 60-bit hash by
# it is ONE exact-operand IEEE division in both engines
KMV_DENOM = 1 << 60


def _kmv_bottom(vocab: DataFrame) -> DataFrame:
    """(source, gram, h, rn): each source's KMV_K smallest shingle
    hashes of the distinct `vocab`, ties ordered on (h, gram) so the
    k-th element is total-order deterministic even under 60-bit
    collisions. Spark >= 3.5 runs the rank filter as WindowGroupLimit
    (map-side partial top-k per partition BEFORE the shuffle)."""
    hashed = vocab.select(
        "source", "gram", tok_hash60(F.col("gram")).alias("h")
    )
    w = Window.partitionBy("source").orderBy("h", "gram")
    return hashed.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= KMV_K
    )


def _sql_kmv_bottom(vocab: str, cols: str) -> str:
    """The same bottom-k in DuckDB: the `hashed` CTE over the `vocab`
    CTE, then the `bottom` CTE selecting `cols` and rn."""
    return f"""hashed as (
  select source, gram, {sql_tok_hash60('gram')} h
  from {vocab}),
bottom as (
  select {cols},
         row_number() over (partition by source order by h, gram) rn
  from hashed
  qualify rn <= {KMV_K})"""


@_q("sketch_kmv_distinct")
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k / k-minimum-values) distinct-trigram estimate per
    source next to the exact count — the second classic mergeable
    distinct sketch after HLL, gated the same way: the estimator's
    arithmetic is pinned, not just a number.

    Estimator: with h = 60-bit md5 fold mapped to u = h / 2^60 in
    (0,1), the k-th smallest u over the distinct shingle set gives
    E = (k-1) / u_k (Bar-Yossef et al. 2002); sources with fewer than
    k distinct shingles fall back to the exact count (the sketch IS
    the full set there).

    Determinism: u_k = h_k / 2^60 is one IEEE division with a
    power-of-two denominator (exact operand), then E is one more
    division — the identical two-op sequence in both engines.

    Scale: the per-source bottom-k (_kmv_bottom) keeps k rows per
    source at every stage — the mergeable-sketch property executed by
    the engine itself. Merging sketches across splits = keeping the k
    smallest of the union, which is exactly what the group-limit
    does."""
    docs = load_table(spark, sf_dir, "documents")
    grams = _source_vocab(docs, KMV_N)
    per = _kmv_bottom(grams).groupBy("source").agg(
        F.max(F.when(F.col("rn") == KMV_K, F.col("h"))).alias("h_k"),
        F.count(F.lit(1)).alias("n_in"),
    )
    exact = grams.groupBy("source").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        per.join(exact, "source")
        .select(
            "source",
            F.expr(
                f"if(n_in < {KMV_K}, cast(n_exact as double), "
                f"cast({KMV_K - 1} as double) / "
                f"(cast(h_k as double) / cast({KMV_DENOM} as double)))"
            ).alias("n_kmv"),
            "n_exact",
        )
        .select(
            "source",
            "n_kmv",
            "n_exact",
            ((F.col("n_kmv") - F.col("n_exact")) / F.col("n_exact")).alias(
                "rel_err"
            ),
        )
    )


ORACLE["sketch_kmv_distinct"] = f"""
with grams as (
  {_sql_source_vocab(KMV_N)}),
{_sql_kmv_bottom("grams", "source, h")},
per as (
  select source,
         max(case when rn = {KMV_K} then h end) h_k,
         count(*) n_in
  from bottom group by 1),
exact as (
  select source, count(*) n_exact from hashed group by 1),
est as (
  select source,
         case when n_in < {KMV_K} then cast(n_exact as double)
              else cast({KMV_K - 1} as double)
                   / (cast(h_k as double) / cast({KMV_DENOM} as double))
         end n_kmv,
         n_exact
  from per join exact using (source))
select source, n_kmv, n_exact,
       (n_kmv - n_exact) / n_exact rel_err
from est
"""


# ------------------------------------------------------- sketch_hll_merge
@_q("sketch_hll_merge")
def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL MERGEABILITY gate: per-source register vectors max-merged
    into one global sketch must estimate exactly what a direct global
    register build estimates — sketch union is register-wise max, the
    property that lets a 100 TB pipeline build per-split sketches
    map-side and combine them without rescanning. One output row pins
    both estimates bit-for-bit plus the exact global distinct count.

    The two folds are 1-row aggregates crossed into one row (BNLJ
    allowlist: both sides are scalar frames by construction).

    Same register/rho/fold arithmetic as sketch_hll_distinct (module
    header); the merged path groups (source, register) first — the
    map-side-combinable partial state — then maxes registers across
    sources, while the direct path maxes over the raw stream."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "source", F.explode(ngrams(toks(), HLL_N)).alias("gram")
    )
    hashed = grams.select(
        "source", tok_hash60(F.col("gram")).alias("h")
    ).select("source", *_hll_register_rho())
    per_source = hashed.groupBy("source", "register").agg(
        F.max("rho").alias("m_j")
    )
    merged = per_source.groupBy("register").agg(
        F.max("m_j").alias("m_j")
    )
    direct = hashed.groupBy("register").agg(F.max("rho").alias("m_j"))

    def fold(regs: DataFrame, out: str) -> DataFrame:
        grid = spark.range(1).select(
            F.explode(F.sequence(F.lit(0), F.lit(HLL_M - 1))).alias(
                "register"
            )
        )
        filled = grid.join(regs, "register", "left").select(
            F.coalesce(F.col("m_j"), F.lit(0)).alias("m_j")
        )
        s = filled.agg(
            F.expr("sum(cast(pow(2, 53 - m_j) as bigint))").alias("s_int"),
            F.expr("sum(if(m_j = 0, 1, 0))").alias("v_zero"),
        )
        return _hll_estimate(s, out)

    exact = grams.agg(F.countDistinct("gram").alias("n_exact"))
    return (
        fold(merged, "n_merged")
        .crossJoin(F.broadcast(fold(direct, "n_direct")))
        .crossJoin(F.broadcast(exact))
        .select(
            "n_merged",
            "n_direct",
            (F.col("n_merged") == F.col("n_direct")).alias(
                "merge_consistent"
            ),
            "n_exact",
            ((F.col("n_merged") - F.col("n_exact")) / F.col("n_exact")).alias(
                "rel_err"
            ),
        )
    )


def _sql_hll_fold(regs_cte: str, out: str) -> str:
    """DuckDB text of the register->estimate fold (same ops as Spark)."""
    e_raw, corrected = _sql_hll_estimate(out)
    return f"""
  select {corrected}
  from (
    select {e_raw},
           v_zero
    from (
      select sum(cast(2 ** (53 - m_j) as bigint)) s_int,
             sum(case when m_j = 0 then 1 else 0 end) v_zero
      from (
        select coalesce(m_j, 0) m_j
        from (select unnest(range(0, {HLL_M})) register) g
        left join {regs_cte} using (register))))"""


_SQL_MERGE_REG, _SQL_MERGE_RHO = _sql_hll_register_rho(sql_tok_hash60("gram"))

ORACLE["sketch_hll_merge"] = f"""
with grams as (
  select source, unnest({sql_ngrams(sql_toks('text'), HLL_N)}) gram
  from documents),
hashed as (
  select source,
         {_SQL_MERGE_REG} register,
         {_SQL_MERGE_RHO} rho
  from grams),
per_source as (
  select source, register, max(rho) m_j from hashed group by 1, 2),
merged as (select register, max(m_j) m_j from per_source group by 1),
direct as (select register, max(rho) m_j from hashed group by 1),
f_merged as ({_sql_hll_fold('merged', 'n_merged')}),
f_direct as ({_sql_hll_fold('direct', 'n_direct')}),
exact as (select count(distinct gram) n_exact from grams)
select n_merged, n_direct,
       n_merged = n_direct merge_consistent,
       n_exact,
       (n_merged - n_exact) / n_exact rel_err
from f_merged, f_direct, exact
"""


# ----------------------------------------------------- sketch_kmv_jaccard
@_q("sketch_kmv_jaccard")
def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard ESTIMATED FROM KMV SKETCHES,
    reported next to the exact value — the set-operation face of the
    bottom-k sketch (Beyer et al., SIGMOD 2007): where
    sketch_kmv_distinct gates the cardinality estimator, this gates the
    similarity estimator a mixture designer would actually run at
    100 TB in place of corpus_source_overlap's exact self-join.

    Estimator: for sources (a, b) with bottom-k sketches H(A), H(B),
    let U = the k smallest of H(A) ∪ H(B) (dedup by shingle — the same
    md5 hash in both sketches IS the same shingle).  Then
    jaccard_kmv = |{h ∈ U : h ∈ H(A) ∧ h ∈ H(B)}| / |U| — an unbiased
    Jaccard estimate because U is a uniform bottom-k sample of A ∪ B
    and membership in both sketches over U is membership in A ∩ B.
    k_used = |U| < k when the union itself is smaller than k (the
    sketch is then the full set and the estimate is exact).

    Plan: the per-source bottom-k is the WindowGroupLimit rank filter
    of sketch_kmv_distinct (state per source = k rows at every stage).
    Pair expansion touches ONLY sketch rows — |sources| × k, never the
    vocabulary: the tiny source list self-pairs on the < inequality (an
    audited BNLJ — both sides the distinct-source list, dozens of rows
    by construction; tests/test_plan_guards.py BNLJ_ALLOWED), then two
    broadcast equi-joins tag each sketch row onto the pairs whose left
    or right side owns it; union-dedup by shingle, one rank window per
    pair, one aggregate.  At 100 TB the sketches are a dashboard-sized
    frame (dozens of sources × 128 rows) while the exact comparison
    (corpus_source_overlap) shuffles the full term dictionary — that
    cost gap is the point of the operator.  The exact columns ride
    along here only as the gate's calibration target.

    Determinism: integers end-to-end until two final IEEE divisions
    (estimate and error), both engine-exact; bottom-k ties ordered by
    (h, gram) as in sketch_kmv_distinct."""
    docs = load_table(spark, sf_dir, "documents")
    # FOUR plan branches read the distinct per-source vocabulary (the
    # sketch build, the exact sizes, both sides of the exact
    # intersection join) — localCheckpoint it so the tokenize +
    # explode + distinct pass runs once instead of per branch
    vocab = _source_vocab(docs, KMV_N).localCheckpoint()
    bottom = _kmv_bottom(vocab).drop("rn")
    # |S|² pair grid: allowlisted BNLJ — both sides the distinct-source
    # list, dozens of rows at any corpus size (see BNLJ_ALLOWED entry)
    srcs = bottom.select("source").distinct()
    a = srcs.select(F.col("source").alias("src_a"))
    b = srcs.select(F.col("source").alias("src_b"))
    pairs = a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
    tag_a = pairs.join(
        bottom.withColumnRenamed("source", "src_a"), "src_a"
    ).select(
        "src_a",
        "src_b",
        "gram",
        "h",
        F.lit(1).alias("in_a"),
        F.lit(0).alias("in_b"),
    )
    tag_b = pairs.join(
        bottom.withColumnRenamed("source", "src_b"), "src_b"
    ).select(
        "src_a",
        "src_b",
        "gram",
        "h",
        F.lit(0).alias("in_a"),
        F.lit(1).alias("in_b"),
    )
    union_sketch = (
        tag_a.unionByName(tag_b)
        .groupBy("src_a", "src_b", "gram", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wp = Window.partitionBy("src_a", "src_b").orderBy("h", "gram")
    per = (
        union_sketch.withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") <= KMV_K)
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("k_used"),
            F.sum(F.col("in_a") * F.col("in_b"))
            .cast("long")
            .alias("n_both"),
        )
    )
    exact = _vocab_jaccard(vocab).select(
        "src_a", "src_b", F.col("jaccard").alias("jaccard_exact")
    )
    return (
        per.join(exact, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "k_used",
            "n_both",
            (F.col("n_both").cast("double") / F.col("k_used")).alias(
                "jaccard_kmv"
            ),
            F.coalesce(F.col("jaccard_exact"), F.lit(0.0)).alias(
                "jaccard_exact"
            ),
        )
        .withColumn(
            "abs_err", F.abs(F.col("jaccard_kmv") - F.col("jaccard_exact"))
        )
        .orderBy("src_a", "src_b")
    )


ORACLE["sketch_kmv_jaccard"] = f"""
with vocab as (
  {_sql_source_vocab(KMV_N)}),
{_sql_kmv_bottom("vocab", "source, gram, h")},
srcs as (select distinct source from bottom),
pairs as (
  select a.source src_a, b.source src_b
  from srcs a join srcs b on a.source < b.source),
tagged as (
  select p.src_a, p.src_b, bo.gram, bo.h, 1 in_a, 0 in_b
  from pairs p join bottom bo on bo.source = p.src_a
  union all
  select p.src_a, p.src_b, bo.gram, bo.h, 0 in_a, 1 in_b
  from pairs p join bottom bo on bo.source = p.src_b),
union_sketch as (
  select src_a, src_b, gram, h, max(in_a) in_a, max(in_b) in_b
  from tagged group by 1, 2, 3, 4),
per as (
  select src_a, src_b, count(*) k_used,
         cast(sum(in_a * in_b) as bigint) n_both
  from (select *,
               row_number() over (partition by src_a, src_b
                                  order by h, gram) rn
        from union_sketch
        qualify rn <= {KMV_K})
  group by 1, 2),
{_SQL_VOCAB_SIZES_INTER},
exact as (
  {_sql_vocab_jaccard("", "jaccard_exact")})
select p.src_a, p.src_b, p.k_used, p.n_both,
       cast(p.n_both as double) / p.k_used jaccard_kmv,
       coalesce(e.jaccard_exact, 0.0) jaccard_exact,
       abs(cast(p.n_both as double) / p.k_used
           - coalesce(e.jaccard_exact, 0.0)) abs_err
from per p
left join exact e on e.src_a = p.src_a and e.src_b = p.src_b
order by p.src_a, p.src_b
"""


# ---------------------------------------------------- sketch_hist_quantiles
HQ_W = 32  # fixed bin width (chars) — state is ~max(n_chars)/W counters
HQ_QUANTS = (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))


@_q("sketch_hist_quantiles")
def sketch_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE HISTOGRAM quantile sketch next to the exact answer —
    the fourth sketch family (quantiles) after distinct (HLL/KMV),
    frequency (CMS) and membership (Bloom): per-source fixed-width
    histograms of document length are built as map-side-combinable
    counts, MERGED by plain bin-wise addition into the global sketch
    (the mergeability law: sum is associative — the same property
    sketch_hll_merge pins for register-max), and the p50/p90/p99 are
    estimated from the merged bins by integer interpolation, reported
    NEXT TO the exact percentile_disc rank picks with the absolute
    error — the gate checks the estimator itself.

    Why it matters at 100 TB: exact quantiles need a global SORT
    (corpus_length_quantiles pays one per key); the histogram needs
    one hash aggregate over bounded state (~max_len/W counters per
    source) and merges across partitions/days/sources for free —
    this is the production shape (t-digest, KLL) with the same
    deterministic-replay discipline as the rest of this module: fixed
    bins and integer interpolation make even the approximation
    hash-exact across engines. Estimate for target rank t: find the
    first bin with cumulative count >= t, then
    lo + ((t - cum_before) * W) div (cnt + 1) — all-bigint, engine-
    identical; error is bounded by the bin width W by construction
    (pytest-pinned).

    Plan: one narrow scan -> per-source hash agg (the partial
    sketches) -> bin-wise merge agg; the cumulative window runs over
    the ~20-row merged histogram (single partition over BOUNDED
    state, not the corpus); target ranks come from a 3-row quantile
    grid crossed with the 1-row total — scalar frames, BNLJ-
    allowlisted. The exact side (one global sort) exists only as the
    audit baseline."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars"
    )
    # per-source partial sketches (what each executor/day would ship)
    partial = docs.groupBy(
        "source", F.expr(f"n_chars div {HQ_W}").alias("bin")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    # merge: bin-wise addition — the mergeable-sketch law
    hist = partial.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "bin", "cnt", F.sum("cnt").over(wcum).alias("cum")
    )
    total = hist.agg(F.sum("cnt").alias("n"))
    quants = spark.createDataFrame(
        [(label, num, den) for label, num, den in HQ_QUANTS],
        "quantile string, num int, den int",
    )
    targets = quants.join(F.broadcast(total)).select(
        "quantile", "n", F.expr("(num * n + den - 1) div den").alias("t")
    )
    est = targets.join(
        F.broadcast(cum),
        (F.col("cum") >= F.col("t"))
        & (F.col("cum") - F.col("cnt") < F.col("t")),
    ).select(
        "quantile",
        "n",
        "t",
        F.expr(
            f"bin * {HQ_W} + ((t - (cum - cnt)) * {HQ_W}) div (cnt + 1)"
        ).alias("est_chars"),
    )
    # exact audit baseline: percentile_disc rank pick via the
    # TWO-PHASE distributed rank (ranks.global_ranks: a partition-less
    # corpus Window single-tasks the sort). The corpus-sized ranked
    # frame stays distributed; the 3-row est side is the broadcast
    # (a broadcast of the corpus-sized `ranked` frame would not scale).
    from duckdb_wasm_spark.ranks import global_ranks

    ranked = global_ranks(docs.select("n_chars"), ["n_chars"])
    return (
        ranked.join(F.broadcast(est), F.col("rn") == F.col("t"))
        .select(
            "quantile",
            F.col("n").alias("n_docs"),
            F.col("t").alias("target_rank"),
            "est_chars",
            F.col("n_chars").alias("exact_chars"),
            F.expr("abs(est_chars - n_chars)").alias("abs_err"),
        )
        .orderBy("quantile")
    )


_SQL_HQ_QUANTS = ", ".join(
    f"('{label}', {num}, {den})" for label, num, den in HQ_QUANTS
)

ORACLE["sketch_hist_quantiles"] = f"""
with docs as (select source, n_chars from documents),
partial as (
  select source, n_chars // {HQ_W} bin, count(*) cnt
  from docs group by 1, 2),
hist as (select bin, cast(sum(cnt) as bigint) cnt
         from partial group by 1),
cum as (
  select bin, cnt,
         cast(sum(cnt) over (order by bin rows unbounded preceding)
              as bigint) cum
  from hist),
total as (select cast(sum(cnt) as bigint) n from hist),
quants(quantile, num, den) as (values {_SQL_HQ_QUANTS}),
targets as (
  select quantile, n, (num * n + den - 1) // den t
  from quants cross join total),
est as (
  select t.quantile, t.n, t.t,
         c.bin * {HQ_W}
           + ((t.t - (c.cum - c.cnt)) * {HQ_W}) // (c.cnt + 1) est_chars
  from targets t
  join cum c on c.cum >= t.t and c.cum - c.cnt < t.t),
ranked as (
  select n_chars, row_number() over (order by n_chars) rn from docs)
select e.quantile, e.n n_docs, e.t target_rank, e.est_chars,
       r.n_chars exact_chars, abs(e.est_chars - r.n_chars) abs_err
from est e join ranked r on r.rn = e.t
order by e.quantile
"""
