"""LLM-pipeline operators: exact DuckDB-oracle parity (the driver's t2
gate, replicated locally) plus structural properties the oracle can't
express (LSH recall ⊆ exact, stub contracts)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from duckdb_wasm_spark.operators import dedup, multimodal, registry
from duckdb_wasm_spark.testing import assert_parity


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_operator_parity(name, spark, sf_dir, oracle):
    df = registry.QUERIES[name](spark, sf_dir)
    assert_parity(df, registry.ORACLE[name], oracle, name)


def test_minhash_candidates_subset_of_exact(spark, sf_dir):
    """Banded MinHash may MISS pairs (recall < 1) but every pair it
    emits must be a true near-dup pair — candidates are verified with
    the exact Jaccard."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.QUERIES["dedup_ngram_jaccard"](spark, sf_dir).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.QUERIES["dedup_minhash"](spark, sf_dir).collect()
    }
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.5, "minhash recall collapsed"


def test_decode_stub_contract():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"xx", "fake/rgb8")
    img = multimodal.fake_decode(b"abcdef", width=4, height=3)
    assert img.shape == (3, 4, 3) and img.dtype == np.uint8
    # deterministic
    assert (img == multimodal.fake_decode(b"abcdef", 4, 3)).all()


def test_entry_registry_exposes_operators():
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    for name in registry.QUERIES:
        assert name in qs
        assert name in osql


def test_entry_gate_priority_order():
    """The correctness gate walks queries() in insertion order under a
    bounded window (~50 rows/round), so the emission order IS the
    gating policy. Every _GATE_PRIORITY name must exist in the merged
    registry (a typo'd rotation entry would silently lose that query
    its gate slot) and the priority names must lead the registry in
    priority order."""
    import __spark_entry__ as e

    names = list(e.queries())
    unknown = [n for n in e._GATE_PRIORITY if n not in names]
    assert not unknown, (
        f"_GATE_PRIORITY names missing from the registry (typo'd "
        f"rotation entries lose their gate slot silently): {unknown}"
    )
    prio = list(e._GATE_PRIORITY)
    assert names[: len(prio)] == prio, "priority names must lead queries()"


def test_ngram_jaccard_df_cap_is_sound(spark, sf_dir):
    """The max_df skew guard may only shrink the candidate set — every
    pair it emits must also appear in the uncapped exact result."""
    full = {
        (r.doc_a, r.doc_b)
        for r in dedup.QUERIES["dedup_ngram_jaccard"](spark, sf_dir).collect()
    }
    capped_df = dedup.dedup_ngram_jaccard(spark, sf_dir, max_df=50)
    capped = {(r.doc_a, r.doc_b) for r in capped_df.collect()}
    assert capped <= full
    if full:
        assert len(capped) / len(full) >= 0.5, "cap removed most true pairs"


def test_substring_df_cap_is_sound(spark, sf_dir):
    """dedup_substring's posting cap may only shrink the result: capped
    pairs ⊆ uncapped pairs, and per surviving pair every counter
    (lcs run length, run count, match volume) can only go down —
    dropping a hot window removes matches, which shortens or splits
    runs, never extends them. A tiny cap is bound so the filter
    actually fires at sf0.001 (r6 verdict task #4)."""
    full = {
        (r.doc_a, r.doc_b): (r.lcs_tokens, r.n_runs, r.n_window_matches)
        for r in dedup.QUERIES["dedup_substring"](spark, sf_dir).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): (r.lcs_tokens, r.n_runs, r.n_window_matches)
        for r in dedup.dedup_substring(spark, sf_dir, max_df=3).collect()
    }
    assert set(capped) <= set(full)
    for pair, (lcs, runs, vol) in capped.items():
        f_lcs, _f_runs, f_vol = full[pair]
        assert lcs <= f_lcs, f"{pair}: capped LCS grew"
        assert vol <= f_vol, f"{pair}: capped match volume grew"


def test_winnowing_df_cap_is_sound(spark, sf_dir):
    """dedup_winnowing's fingerprint df cap: capped pairs ⊆ uncapped
    pairs with n_shared_fp never larger (r6 verdict task #4)."""
    full = {
        (r.doc_a, r.doc_b): r.n_shared_fp
        for r in dedup.QUERIES["dedup_winnowing"](spark, sf_dir).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.n_shared_fp
        for r in dedup.dedup_winnowing(spark, sf_dir, max_df=3).collect()
    }
    assert set(capped) <= set(full)
    for pair, n in capped.items():
        assert n <= full[pair], f"{pair}: capped shared-fp count grew"


def test_capped_variants_match_oracle_with_binding_cap(spark, sf_dir):
    """The registered capped oracles are exercised at the production cap
    by the driver gate; this pins the PARAMETRIC oracle against Spark
    with a cap small enough to bind at sf0.001, so the capped SQL's
    df-filter semantics (not just the pass-through case) are hash-
    checked too."""
    from duckdb_wasm_spark.testing import assert_parity, duck_con

    con = duck_con(sf_dir)
    assert_parity(
        dedup.dedup_substring(spark, sf_dir, max_df=3),
        dedup.substring_oracle_sql(3),
        con,
        "dedup_substring max_df=3",
    )
    assert_parity(
        dedup.dedup_winnowing(spark, sf_dir, max_df=3),
        dedup.winnowing_oracle_sql(3),
        con,
        "dedup_winnowing max_df=3",
    )


def test_connected_components_long_chain(spark):
    """Round-3 verdict #7: a 20-hop chain must either converge (pointer
    jumping makes that O(log L) rounds) or fail loudly — never silently
    return partially-merged labels."""
    n = 21  # nodes 0..20 in one chain, plus an isolated node 100
    nodes = spark.createDataFrame(
        [(i,) for i in range(n)] + [(100,)], "doc_id long"
    )
    chain = [(i, i + 1) for i in range(n - 1)]
    sym = chain + [(b, a) for a, b in chain]
    edges = spark.createDataFrame(sym, "src long, dst long")
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(nodes, edges).collect()
    }
    assert got == {**{i: 0 for i in range(n)}, 100: 100}
    # insufficient budget → loud failure, not partial labels
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(nodes, edges, max_iters=2)


def test_ngram_jaccard_capped_binding_cap_parity(spark, sf_dir, oracle):
    """Exact oracle parity with a cap that BINDS (max_df=3; max trigram
    df at sf0.001 is ~9, so the registered NGRAM_MAX_DF=100 never fires
    here). Regression for round-3 ADVICE (high): the Spark side sized
    sets BEFORE the df filter while the oracle sizes the post-filter
    capped sets — divergence only visible when the cap removes grams."""
    df = dedup.dedup_ngram_jaccard(spark, sf_dir, max_df=3)
    assert_parity(
        df, dedup.capped_oracle_sql(3), oracle, "ngram_capped_df3"
    )


def test_divergence_vocab_cap_binding_and_inert(spark, sf_dir, oracle):
    """The r9 DIV_VOCAB_CAP must be (a) INERT at gated scale — the
    test-data vocabulary is far below 100k types, so the registered
    query equals the uncapped computation — and (b) REAL when it binds:
    a cap of 20 must restrict the grid AND stay hash-exact against the
    same-cap oracle (deterministic top-K: count desc, tok asc)."""
    from duckdb_wasm_spark.operators import pipeline
    from duckdb_wasm_spark.operators._text import toks
    from duckdb_wasm_spark.plans._util import sql_query
    from duckdb_wasm_spark.tables import load_table

    n_vocab = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(toks()).alias("tok"))
        .select("tok")
        .distinct()
        .count()
    )
    assert n_vocab < pipeline.DIV_VOCAB_CAP  # cap inert at this scale
    # binding cap: exact parity against the identically-capped oracle
    capped_sql = pipeline.divergence_oracle_sql(20)
    df = sql_query("divergence_cap20", capped_sql)(spark, sf_dir)
    assert_parity(df, capped_sql, oracle, "divergence_cap20")
    # and the capped run must differ from the registered (inert) run —
    # proof the cap actually restricts the support
    full = {
        (r.src_a, r.src_b): r.js_divergence
        for r in pipeline.QUERIES["corpus_source_divergence"](
            spark, sf_dir
        ).collect()
    }
    capped = {(r.src_a, r.src_b): r.js_divergence for r in df.collect()}
    assert capped != full


def test_clusters_consistent_with_pairs(spark, sf_dir):
    """Every near-dup pair must land in one cluster, the cluster label
    must be the min member, and exactly one keeper exists per cluster."""
    label = {
        r.doc_id: r.cluster_id
        for r in dedup.QUERIES["dedup_clusters"](spark, sf_dir).collect()
    }
    pairs = dedup.QUERIES["dedup_minhash"](spark, sf_dir).collect()
    for r in pairs:
        assert label[r.doc_a] == label[r.doc_b]
    members: dict = {}
    for doc, lab in label.items():
        members.setdefault(lab, []).append(doc)
    for lab, docs in members.items():
        assert lab == min(docs)


def test_ngram_helpers_edge_lengths(spark):
    """Docs shorter than the shingle width must yield empty gram lists
    (→ NULL repetition fractions downstream), and the Spark and DuckDB
    gram builders must produce the same SET for every edge length. The
    md5 → 60-bit fold's three forms (Column, Spark SQL text, DuckDB)
    must each equal int(md5(s)[:15], 16) on the same texts and a
    non-ASCII string, each plain and salted as a counter key ('cms0 ' || s)."""
    import hashlib

    import duckdb
    from pyspark.sql import functions as F

    from duckdb_wasm_spark.operators._text import (
        expr_tok_hash60,
        ngrams,
        ngrams_all,
        sql_ngrams,
        sql_tok_hash60,
        sql_toks,
        tok_hash60,
        toks,
    )

    texts = ["", "a", "a b", "a b c", "a a a a a", "x y x y x y"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["i", "text"]
    )
    rows = {
        r.i: r
        for r in df.select(
            "i",
            F.size(ngrams_all(toks(), 2)).alias("nb"),
            F.size(ngrams(toks(), 3)).alias("n3"),
            F.size(ngrams(toks(), 5)).alias("n5"),
            F.array_sort(ngrams(toks(), 5)).alias("g5"),
        ).collect()
    }
    # non-distinct bigram counts: max(n-1, 0)
    assert [rows[i].nb for i in range(6)] == [0, 0, 1, 2, 4, 5]
    # distinct trigrams: "a a a a a" collapses to one
    assert [rows[i].n3 for i in range(6)] == [0, 0, 0, 1, 1, 2]
    assert [rows[i].n5 for i in range(6)] == [0, 0, 0, 0, 1, 2]

    con = duckdb.connect()
    for i, t in enumerate(texts):
        got = con.execute(
            f"select list_sort({sql_ngrams(sql_toks('t'), 5)}) "
            f"from (select ? t)",
            [t],
        ).fetchone()[0]
        assert got == rows[i].g5, f"text={t!r}"

    def fold(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    folds = texts + ["naïve 日本語 ü"]
    want = [(i, fold(t), fold("cms0 " + t)) for i, t in enumerate(folds)]
    fdf = spark.createDataFrame(list(enumerate(folds)), ["i", "g"])
    for plain, salted in (
        (
            tok_hash60(F.col("g")),
            tok_hash60(F.concat(F.lit("cms0 "), F.col("g"))),
        ),
        (
            F.expr(expr_tok_hash60("g")),
            F.expr(expr_tok_hash60("concat('cms0 ', g)")),
        ),
    ):
        got = fdf.select("i", plain, salted).collect()
        assert sorted(tuple(r) for r in got) == want
    salted = "'cms0 ' || g"
    for i, t in enumerate(folds):
        got = con.execute(
            f"select {sql_tok_hash60('g')}, {sql_tok_hash60(salted)} "
            "from (select ? g)",
            [t],
        ).fetchone()
        assert (i, *got) == want[i], f"text={t!r}"


def test_zero_token_doc_ratio_parity(spark, tmp_path):
    """Round-4 ADVICE: a zero-token document must yield NULL ratios in
    BOTH engines — Spark's x/0 is NaN/Inf (NaN sorts above every
    double) while DuckDB raw division differs and list_sum of an empty
    list is NULL. The nullif guards make text_stats and
    text_gopher_flags agree on empty/whitespace-only docs, which the
    driver's testdata does not currently contain."""
    import duckdb
    import pandas as pd

    from duckdb_wasm_spark.operators import text
    from duckdb_wasm_spark.testing import assert_parity

    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["hello world the hello", "", "   \t  "],
            "lang": ["en", "en", "en"],
            "source": ["a", "a", "a"],
            "n_chars": [21, 0, 6],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        "create view documents as select * from "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    for name in ("text_stats", "text_gopher_flags"):
        assert_parity(
            text.QUERIES[name](spark, str(tmp_path)),
            text.ORACLE[name],
            con,
            f"{name}_zero_token",
        )


def test_doc_chunking_invariants(spark, sf_dir):
    """Structural invariants of the chunk manifest, independent of the
    oracle: starts advance by exactly CHUNK_STRIDE, every token of a
    document is covered by some chunk, only the final chunk may be
    short, and overlapping chunks share CHUNK_LEN - CHUNK_STRIDE
    tokens."""
    from duckdb_wasm_spark.operators import pipeline
    from duckdb_wasm_spark.operators._text import toks
    from duckdb_wasm_spark.tables import load_table

    n_by_doc = {
        r.doc_id: r.n
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(toks()).alias("n"))
        .collect()
    }
    rows = pipeline.QUERIES["doc_chunking"](spark, sf_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(n_by_doc)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_id)
        n = n_by_doc[doc_id]
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
        for c in chunks:
            assert c.chunk_start == c.chunk_id * pipeline.CHUNK_STRIDE + 1
        # full coverage: last chunk reaches the last token
        last = chunks[-1]
        assert last.chunk_start + last.n_chunk_tokens - 1 == n
        # only the last chunk may be short
        for c in chunks[:-1]:
            assert c.n_chunk_tokens == min(
                pipeline.CHUNK_LEN, n - c.chunk_start + 1
            )
        # chunk text token count agrees with the declared length
        for c in chunks:
            n_text = len(c.chunk_text.split()) if c.chunk_text else 0
            assert n_text == c.n_chunk_tokens


def test_corpus_length_quantiles_vs_numpy(spark, sf_dir):
    """The integer-rank percentile_disc picks must equal the directly
    computed order statistics (value at index ceil(p*n) in the sorted
    (n_tokens, doc_id) sequence)."""
    import math

    from duckdb_wasm_spark.operators import pipeline
    from duckdb_wasm_spark.operators._text import toks
    from duckdb_wasm_spark.tables import load_table

    data = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.size(toks()).alias("n_tokens"))
        .collect()
    )
    by_lang = {}
    for r in data:
        by_lang.setdefault(r.lang, []).append((r.n_tokens, r.doc_id))
    got = {
        r.lang: r.asDict()
        for r in pipeline.QUERIES["corpus_length_quantiles"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(by_lang)
    for lang, vals in by_lang.items():
        vals.sort()
        n = len(vals)
        assert got[lang]["n_docs"] == n
        for label, num, den in pipeline.QUANTILES:
            idx = math.ceil(num * n / den)
            assert got[lang][f"{label}_tokens"] == vals[idx - 1][0], (
                lang,
                label,
            )


def test_ivf_trained_recall(spark, sf_dir):
    """Round-5 verdict task #2 gate: the Lloyd-trained codebook must
    deliver recall@5 >= 0.6 vs sim_topk_brute AND beat the naive
    (first-N-seeds) codebook at the same nprobe. Measured at sf0.01:
    trained 0.704 vs naive 0.664 (nprobe=3, C=8, T=2 — full sweep in
    the sim_topk_ivf_trained docstring)."""
    from pyspark.sql.window import Window

    from duckdb_wasm_spark.operators import similarity as S
    from duckdb_wasm_spark.operators.dedup import dot_fold
    from duckdb_wasm_spark.tables import load_table

    def pairs(df):
        return {
            (r.query_id, r.neighbor_id)
            for r in df.select("query_id", "neighbor_id").collect()
        }

    brute = pairs(S.QUERIES["sim_topk_brute"](spark, sf_dir))
    trained = pairs(S.QUERIES["sim_topk_ivf_trained"](spark, sf_dir))
    recall_trained = len(trained & brute) / len(brute)

    # the naive codebook at the SAME nprobe: seed centroids, no training
    emb = load_table(spark, sf_dir, "embeddings")
    normed = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(dot_fold(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    seeds = normed.where(F.col("vec_id") < S.N_CENTROIDS).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("ec"),
        F.col("nrm").alias("nc"),
    )
    ranked = S._assign_cells(normed, seeds)
    n = ranked.where(F.col("arn") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("en"),
        F.col("nrm").alias("nn"),
        F.col("c_id").alias("cell"),
    )
    q = ranked.where(
        (F.col("arn") <= S.TRAINED_NPROBE) & (F.col("vec_id") < S.N_QUERIES)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("eq"),
        F.col("nrm").alias("nq"),
        F.col("c_id").alias("cell"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    naive = pairs(
        q.join(n, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_fold(F.col("eq"), F.col("en"))
                / (F.col("nq") * F.col("nn"))
            ).alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= S.TOP_K)
    )
    recall_naive = len(naive & brute) / len(brute)
    assert recall_trained >= 0.6, f"trained recall {recall_trained:.3f} < 0.6"
    assert recall_trained > recall_naive, (
        f"training did not improve recall: trained={recall_trained:.3f} "
        f"naive={recall_naive:.3f}"
    )


def test_decode_ppm_bmp_roundtrip():
    """decode_image is REAL for the codec-free formats (round-5 verdict
    task #4): PPM P6 and 24-bit BMP round-trip bit-exact through the
    pure-numpy encode/decode pair; everything else still raises."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    assert (multimodal.decode_image(multimodal.encode_ppm(img), "ppm") == img).all()
    assert (multimodal.decode_image(multimodal.encode_bmp(img), "bmp") == img).all()
    # mime-style fmt strings resolve too
    assert (
        multimodal.decode_image(multimodal.encode_ppm(img), "image/ppm") == img
    ).all()
    # PPM comments in the header are skipped
    commented = b"P6\n# test comment\n7 5\n255\n" + img.tobytes()
    assert (multimodal.decode_image(commented, "ppm") == img).all()
    # BMP row padding: width not divisible by 4
    img2 = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)
    assert (multimodal.decode_image(multimodal.encode_bmp(img2), "bmp") == img2).all()
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG", "png")


def test_decode_ppm_through_map_in_pandas(spark):
    """The real decoder through the REAL Spark plumbing: PPM payloads as
    a BinaryType column, decode + pixel stats inside mapInPandas, stats
    asserted against numpy ground truth computed driver-side."""
    import pandas as pd

    rng = np.random.default_rng(11)
    imgs = {
        i: rng.integers(0, 256, size=(4 + i, 6, 3), dtype=np.uint8)
        for i in range(4)
    }
    rows = [(i, bytearray(multimodal.encode_ppm(img)), "ppm")
            for i, img in imgs.items()]
    df = spark.createDataFrame(rows, "doc_id long, payload binary, fmt string")

    def feats(batches):
        for pdf in batches:
            out = []
            for doc_id, payload, fmt in zip(
                pdf["doc_id"], pdf["payload"], pdf["fmt"]
            ):
                img = multimodal.decode_image(bytes(payload), fmt)
                out.append(
                    (doc_id, img.shape[0], img.shape[1],
                     int(img.sum()), float(img.mean()))
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "h", "w", "px_sum", "px_mean"]
            )

    got = {
        r.doc_id: r.asDict()
        for r in df.repartition(2).mapInPandas(
            feats, "doc_id long, h int, w int, px_sum long, px_mean double"
        ).collect()
    }
    assert set(got) == set(imgs)
    for i, img in imgs.items():
        assert got[i]["h"] == img.shape[0] and got[i]["w"] == img.shape[1]
        assert got[i]["px_sum"] == int(img.sum())
        assert got[i]["px_mean"] == pytest.approx(float(img.mean()))


def test_decode_stats_are_order_sensitive(spark, sf_dir):
    """multimodal_decode_stats' weighted sums must DETECT decoder
    orientation bugs, or the gate proves nothing: a bottom-up flip
    changes row_wsum and a BGR swap changes chan_wsum on asymmetric
    images, while the permutation-invariant px_sum alone would not."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    h = img.shape[0]

    def row_wsum(a):
        return int((a.sum(axis=(1, 2)) * np.arange(1, a.shape[0] + 1)).sum())

    def chan_wsum(a):
        return int((a.sum(axis=(0, 1)) * np.arange(1, 4)).sum())

    flipped, swapped = img[::-1], img[:, :, ::-1]
    assert int(flipped.sum()) == int(img.sum())  # px_sum is blind to both
    assert row_wsum(flipped) != row_wsum(img)
    assert chan_wsum(swapped) != chan_wsum(img)
    # and the real decoders recover the exact orientation
    dec = multimodal.decode_image(multimodal.encode_bmp(img), "bmp")
    assert row_wsum(dec) == row_wsum(img)
    assert chan_wsum(dec) == chan_wsum(img)
    from duckdb_wasm_spark.tables import load_table

    # end-to-end: the registered query's row for doc 0 matches numpy
    row0 = (
        multimodal.QUERIES["multimodal_decode_stats"](spark, sf_dir)
        .where("doc_id = 0")
        .collect()[0]
    )
    text = (
        load_table(spark, sf_dir, "documents")
        .where("doc_id = 0")
        .collect()[0]
        .text
    )
    w0, h0 = multimodal.DS_BASE, multimodal.DS_BASE
    truth = multimodal.fake_decode(text.encode(), w0, h0).astype(np.int64)
    assert row0.fmt == "ppm" and row0.width == w0 and row0.height == h0
    assert row0.px_sum == int(truth.sum())
    assert row0.row_wsum == row_wsum(truth)
    assert row0.chan_wsum == chan_wsum(truth)


def test_sketch_properties(spark, sf_dir):
    """The three md5-derived sketches must honor their structural
    guarantees, not just hash-match: HLL lands within its standard
    error regime, CMS never underestimates, Bloom never yields a
    false negative."""
    from duckdb_wasm_spark.operators import sketches

    hll = sketches.QUERIES["sketch_hll_distinct"](spark, sf_dir).collect()
    assert hll, "no sources"
    for r in hll:
        # 1.04/sqrt(256) ~ 6.5% standard error; 5 sigma of slack
        assert abs(r.rel_err) < 0.33, f"{r.source}: rel_err {r.rel_err}"
        assert r.n_hll > 2.5 * sketches.HLL_M, (
            "estimate fell into the small-range ln-correction regime — "
            "cross-engine determinism no longer guaranteed (see "
            "sketch_hll_distinct's docstring)"
        )

    cms = sketches.QUERIES["sketch_cms_heavy_hitters"](
        spark, sf_dir
    ).collect()
    assert len(cms) == sketches.CMS_TOPK
    assert all(r.overestimate >= 0 for r in cms), "CMS underestimated"
    assert any(r.overestimate > 0 for r in cms) or len(cms) < 5, (
        "sketch so large no collision occurred — w is mis-sized for the "
        "corpus and the gate is not exercising CMS error behavior"
    )

    bloom = sketches.QUERIES["sketch_bloom_decontaminate"](
        spark, sf_dir
    ).collect()
    assert bloom
    for r in bloom:
        assert r.n_bloom_hits >= r.n_exact_hits, (
            f"doc {r.train_id}: Bloom false negative"
        )
        assert r.n_false_pos >= 0
        assert r.n_bloom_hits <= r.n_grams


def test_bloom_bitmask_probe_matches_python_replay(spark, sf_dir):
    """r16 restructure guard: the dense-bitmask membership probe must
    agree with an independent Python replay of the md5 position
    arithmetic. Every per-doc count is recomputed from the raw text
    with hashlib + list slicing only (no Spark expressions): the
    whitespace tokenize, the DISTINCT 5-gram shingles (ngrams() is
    array_distinct, first-occurrence order), the k=7 bit positions,
    and the all-positions-set membership rule."""
    import hashlib

    from duckdb_wasm_spark.operators import sketches
    from duckdb_wasm_spark.tables import load_table

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }

    def grams(text):
        t = [x for x in text.split(" ") if x != ""]
        n = sketches.BLOOM_N
        seen, out = set(), []
        for i in range(max(len(t) - n + 1, 0)):
            g = " ".join(t[i : i + n])
            if g not in seen:
                seen.add(g)
                out.append(g)
        return out

    def positions(g):
        return [
            int(hashlib.md5(f"bloom{j} {g}".encode()).hexdigest()[:15], 16)
            % sketches.BLOOM_M
            for j in range(sketches.BLOOM_K)
        ]

    bits = set()
    ev_set = set()
    for d, text in docs.items():
        if d % sketches.BLOOM_EVAL_MOD == 0:
            for g in grams(text):
                ev_set.add(g)
                bits.update(positions(g))
    expect = {}
    for d, text in docs.items():
        if d % sketches.BLOOM_EVAL_MOD == 0:
            continue
        gs = grams(text)
        if not gs:
            continue
        n_bloom = sum(
            1 for g in gs if all(p in bits for p in positions(g))
        )
        n_exact = sum(1 for g in gs if g in ev_set)
        expect[d] = (len(gs), n_bloom, n_exact)

    got = {
        r.train_id: (r.n_grams, r.n_bloom_hits, r.n_exact_hits)
        for r in sketches.QUERIES["sketch_bloom_decontaminate"](
            spark, sf_dir
        ).collect()
    }
    assert got == expect


def test_pq_rerank_recall(spark, sf_dir):
    """PQ two-stage gate: the exact rerank over the ADC shortlist must
    reach recall@5 >= 0.8 vs sim_topk_brute and strictly beat the
    ADC-only ranking. Measured at sf0.01: rerank 0.928 vs ADC 0.396
    (M=16, K=32, R=50 — sweep in the sim_topk_pq docstring)."""
    from duckdb_wasm_spark.operators import similarity as S

    def pairs(name):
        return {
            (r.query_id, r.neighbor_id)
            for r in S.QUERIES[name](spark, sf_dir)
            .select("query_id", "neighbor_id")
            .collect()
        }

    brute = pairs("sim_topk_brute")
    adc = pairs("sim_topk_pq")
    rerank = pairs("sim_topk_pq_rerank")
    r_adc = len(adc & brute) / len(brute)
    r_rr = len(rerank & brute) / len(brute)
    assert r_rr >= 0.8, f"PQ rerank recall {r_rr:.3f} < 0.8"
    assert r_rr > r_adc, f"rerank ({r_rr:.3f}) must beat ADC ({r_adc:.3f})"


def test_dedup_substring_matches_python_lcs(spark, sf_dir):
    """dedup_substring's lcs_tokens must equal a brute-force O(n·m)
    longest-common-token-substring computed in Python on the raw texts
    — pinning the windows+diagonal-islands reconstruction, for every
    reported pair and for the N-window floor on unreported ones."""
    from duckdb_wasm_spark.operators.dedup import DUP_SUBSTR_N
    from duckdb_wasm_spark.tables import load_table

    rows = dedup.QUERIES["dedup_substring"](spark, sf_dir).collect()
    assert rows, "corpus has no exact-window duplicate pairs"
    texts = {
        r["doc_id"]: [t for t in r["text"].split(" ") if t]
        for r in load_table(spark, sf_dir, "documents").collect()
    }

    def lcs(a, b):
        prev = [0] * (len(b) + 1)
        best = 0
        for x in a:
            cur = [0] * (len(b) + 1)
            for j, y in enumerate(b, 1):
                if x == y:
                    cur[j] = prev[j - 1] + 1
                    if cur[j] > best:
                        best = cur[j]
            prev = cur
        return best

    for r in rows:
        expect = lcs(texts[r["doc_a"]], texts[r["doc_b"]])
        assert r["lcs_tokens"] == expect, (r["doc_a"], r["doc_b"])
        assert r["lcs_tokens"] >= DUP_SUBSTR_N
        assert r["n_window_matches"] >= r["lcs_tokens"] - DUP_SUBSTR_N + 1


def test_ivfpq_recall(spark, sf_dir):
    """IVF-PQ composite gate: recall@5 vs sim_topk_brute must reach the
    probed-cell ceiling region (>= 0.6, the sim_topk_ivf_trained gate)
    and beat the untrained single-cell sim_topk_ivf — i.e. the PQ
    compression inside cells must not cost recall once the exact
    rerank runs. Measured at sf0.01: 0.692 (ivf_trained exact scan at
    nprobe=3 gives 0.704)."""
    from duckdb_wasm_spark.operators import similarity as S

    def pairs(name):
        return {
            (r.query_id, r.neighbor_id)
            for r in S.QUERIES[name](spark, sf_dir)
            .select("query_id", "neighbor_id")
            .collect()
        }

    brute = pairs("sim_topk_brute")
    ivfpq = pairs("sim_topk_ivfpq")
    single = pairs("sim_topk_ivf")
    r = len(ivfpq & brute) / len(brute)
    r_single = len(single & brute) / len(brute)
    assert r >= 0.6, f"IVF-PQ recall {r:.3f} < 0.6"
    assert r > r_single, f"IVF-PQ {r:.3f} <= single-cell IVF {r_single:.3f}"


def test_ivfpq_residual_recall(spark, sf_dir):
    """Residual-encoding IVF-PQ gate: recall@5 vs sim_topk_brute must
    reach the probed-cell ceiling region (>= 0.6) and sit within 0.05
    of the direct-encoding variant. Measured at sf0.01: 0.680 residual
    vs 0.692 direct — a wash at the nprobe=3 ceiling (0.704), the
    honest result on near-isotropic synthetic embeddings where the
    coarse quantizer captures no cluster structure for residuals to
    exploit (see the sim_topk_ivfpq_residual docstring)."""
    from duckdb_wasm_spark.operators import similarity as S

    def pairs(name):
        return {
            (r.query_id, r.neighbor_id)
            for r in S.QUERIES[name](spark, sf_dir)
            .select("query_id", "neighbor_id")
            .collect()
        }

    brute = pairs("sim_topk_brute")
    resid = pairs("sim_topk_ivfpq_residual")
    direct = pairs("sim_topk_ivfpq")
    r = len(resid & brute) / len(brute)
    r_direct = len(direct & brute) / len(brute)
    assert r >= 0.6, f"residual IVF-PQ recall {r:.3f} < 0.6"
    assert r >= r_direct - 0.05, (
        f"residual {r:.3f} more than 0.05 below direct {r_direct:.3f}"
    )


def test_pca_power_rayleigh(spark, sf_dir):
    """embed_pca_power quality gate: the T=3 power-iteration vector
    must capture >= 0.75 of the top eigenvalue's Rayleigh quotient on
    the centered covariance (computed independently in numpy). The
    synthetic spectrum is near-degenerate (gap ratio 0.987), so the
    Rayleigh capture — not direction cosine — is the conditioned
    metric; unit norm is asserted exactly."""
    from duckdb_wasm_spark.operators import similarity as S
    from duckdb_wasm_spark.tables import load_table

    rows = S.QUERIES["embed_pca_power"](spark, sf_dir).collect()
    v = np.array(
        [r["loading"] for r in sorted(rows, key=lambda r: r["pos"])]
    )
    X = np.array(
        [
            r["embedding"]
            for r in load_table(spark, sf_dir, "embeddings").collect()
        ],
        dtype=np.float64,
    )
    Xc = X - X.mean(0)
    C = Xc.T @ Xc
    top = np.linalg.eigvalsh(C)[-1]
    assert abs(np.linalg.norm(v) - 1.0) < 1e-9
    ratio = float(v @ C @ v) / top
    assert ratio >= 0.75, f"Rayleigh capture {ratio:.3f} < 0.75"


def test_embed_covariance_matches_numpy(spark, sf_dir):
    """embed_covariance numerical gate, independent of the SQL oracle:
    every upper-triangle cell must match numpy's population covariance
    of the centered embeddings within the 2^-20 fixed-point floor bias
    (the per-row floor loses < 1 ulp of 2^-20 each, so |err| <= 2^-20),
    the output must be exactly D(D+1)/2 cells, and the trace must equal
    the mean squared centered norm."""
    from duckdb_wasm_spark.operators import similarity as S
    from duckdb_wasm_spark.tables import load_table

    rows = S.QUERIES["embed_covariance"](spark, sf_dir).collect()
    d = 64
    assert len(rows) == d * (d + 1) // 2
    X = np.array(
        [
            r["embedding"]
            for r in load_table(spark, sf_dir, "embeddings").collect()
        ],
        dtype=np.float64,
    )
    Xc = X - X.mean(0)
    C = (Xc.T @ Xc) / len(X)
    tol = 1.0 / (1 << 20)
    for r in rows:
        assert abs(r["cov"] - C[r["i"], r["j"]]) <= tol, (r["i"], r["j"])
    trace = sum(r["cov"] for r in rows if r["i"] == r["j"])
    msn = float((Xc * Xc).sum()) / len(X)
    assert abs(trace - msn) <= d * tol


def test_winnowing_guarantee_covers_substring_pairs(spark, sf_dir):
    """Winnowing theorem, empirically pinned: every doc pair sharing an
    exact token run >= WIN_K + WIN_W - 1 (= 8; dedup_substring pairs
    share >= 12) must share at least one winnowing fingerprint — the
    sampled index may only ADD candidates, never lose a true one."""
    sub = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.QUERIES["dedup_substring"](spark, sf_dir).collect()
    }
    win = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.QUERIES["dedup_winnowing"](spark, sf_dir).collect()
    }
    assert sub, "corpus has no exact-window duplicate pairs"
    assert sub <= win, f"winnowing lost true pairs: {sorted(sub - win)[:5]}"


def test_pagerank_matches_python_fixed_point(spark, sf_dir):
    """Independent oracle for the graph family: rerun the exact bigint
    fixed-point recurrence in pure Python over the collected edge list
    — every rank in the registered top-20 must match bit-for-bit
    (floor division over non-negative ints is engine-independent, so
    any mismatch is a plan bug, not float noise)."""
    from collections import defaultdict

    from duckdb_wasm_spark.operators import graph

    pairs = {
        (r["a"], r["b"])
        for r in graph._trade_pairs(spark, sf_dir).collect()
    }
    out = defaultdict(list)
    for a, b in pairs:
        out[a].append(b)
        out[b].append(a)
    n = len(out)
    rank = {v: graph.PR_SCALE // n for v in out}
    teleport = (15 * graph.PR_SCALE) // (100 * n)
    for _ in range(graph.PR_ITERS):
        inc = defaultdict(int)
        for v, nbrs in out.items():
            c = rank[v] // len(nbrs)
            for w in nbrs:
                inc[w] += c
        rank = {
            v: teleport + (graph.PR_DAMP_NUM * inc[v]) // 100 for v in out
        }
    expected = sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))[
        : graph.PR_TOPK
    ]
    got = [
        (r["node"], r["rank"])
        for r in graph.QUERIES["graph_pagerank"](spark, sf_dir).collect()
    ]
    assert got == expected
    # supplier tagging: odd ids are suppliers by construction
    for r in graph.QUERIES["graph_pagerank"](spark, sf_dir).collect():
        assert r["is_supplier"] == (r["node"] % 2 == 1)


def test_common_neighbors_matches_python(spark, sf_dir):
    """Pure-Python recompute of the capped common-neighbor counts; also
    pins that the CAP is not binding at test scale (so the capped
    result IS the exact answer the SQL oracle states)."""
    from collections import defaultdict
    from itertools import combinations

    from duckdb_wasm_spark.operators import graph

    by_cust = defaultdict(set)
    for r in graph._trade_pairs(spark, sf_dir).collect():
        by_cust[r["a"]].add(r["b"])
    assert max(len(s) for s in by_cust.values()) <= graph.CN_CAP, (
        "CN_CAP binds at test scale — the parity test would no longer "
        "pin the exact answer"
    )
    counts = defaultdict(int)
    for supps in by_cust.values():
        for s1, s2 in combinations(sorted(supps), 2):
            counts[(s1, s2)] += 1
    expected = sorted(
        counts.items(), key=lambda kv: (-kv[1], kv[0])
    )[: graph.CN_TOPK]
    got = [
        ((r["s1"], r["s2"]), r["n_shared"])
        for r in graph.QUERIES["graph_common_neighbors"](
            spark, sf_dir
        ).collect()
    ]
    assert got == expected


def test_kmv_and_hll_merge_properties(spark, sf_dir):
    """Estimator-quality pins the oracle can't express: KMV relative
    error within the theoretical few-sigma band for k=128, the <k
    exact-fallback actually engaged where it should be, and HLL merge
    == direct (bit-equal, not approximately)."""
    from duckdb_wasm_spark.operators import sketches

    rows = sketches.QUERIES["sketch_kmv_distinct"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["n_exact"] < sketches.KMV_K:
            # exact fallback: the sketch holds the whole set
            assert r["n_kmv"] == float(r["n_exact"]), r
        else:
            # std err ~ 1/sqrt(k-2) ~ 8.9%; allow 5 sigma
            assert abs(r["rel_err"]) < 0.45, r
    m = sketches.QUERIES["sketch_hll_merge"](spark, sf_dir).collect()[0]
    assert m["merge_consistent"] is True
    assert m["n_merged"] == m["n_direct"]
    assert abs(m["rel_err"]) < 0.3


def test_lsh_tuning_configs_nest(spark, sf_dir):
    """Theorem pinned: the sweep's configs split the SAME 16-hash
    signature into prefix-aligned bands, and each config's bands
    refine the next coarser one's (a (2,8) band match requires both
    (4,4) halves to match, and so on) — so candidate sets are NESTED:
    cand(2,8) ⊆ cand(4,4) ⊆ cand(8,2) ⊆ cand(16,1), and therefore
    n_candidates and n_true_pos are monotone non-increasing in
    rows_per_band. A banding-key bug (wrong hash slice, band offset)
    breaks the nesting even if each config's counts look plausible."""
    from pyspark.sql import functions as F

    from duckdb_wasm_spark.operators.dedup import (
        LSH_TUNE_CONFIGS,
        _minhash_sigs,
    )
    from duckdb_wasm_spark.tables import load_table

    sigs = _minhash_sigs(
        load_table(spark, sf_dir, "documents")
    ).localCheckpoint()
    cand_sets = {}
    for nb, rpb in LSH_TUNE_CONFIGS:
        band_structs = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"s{b * rpb + r}").cast("string")
                                for r in range(rpb)
                            ],
                        )
                    ).alias("key"),
                )
                for b in range(nb)
            ]
        )
        bands = sigs.select(
            "doc_id", F.explode(band_structs).alias("bk")
        ).select("doc_id", "bk.band", "bk.key")
        a = bands.select(F.col("doc_id").alias("doc_a"), "band", "key")
        b2 = bands.select(F.col("doc_id").alias("doc_b"), "band", "key")
        cand_sets[(nb, rpb)] = {
            (r["doc_a"], r["doc_b"])
            for r in a.join(b2, ["band", "key"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
            .collect()
        }
    ordered = list(LSH_TUNE_CONFIGS)  # (16,1) ... (2,8)
    for coarse, fine in zip(ordered, ordered[1:]):
        assert cand_sets[fine] <= cand_sets[coarse], (fine, coarse)
    # and the registered sweep's counts must agree with these sets
    from duckdb_wasm_spark.operators import dedup

    rows = {
        (r["n_bands"], r["rows_per_band"]): r["n_candidates"]
        for r in dedup.QUERIES["dedup_lsh_tuning"](spark, sf_dir).collect()
    }
    for cfg, cand in cand_sets.items():
        assert rows[cfg] == len(cand), cfg


def test_near_dedup_corpus_accounting(spark, sf_dir):
    """The yield report's columns must account for every document:
    n_quality_cut + n_neardup_cut + n_kept == n_docs per language,
    totals match the raw corpus, and kept docs are exactly the
    CC keepers of the surviving set (cross-checked against the
    component operators the composition is built from)."""
    from duckdb_wasm_spark.operators import pipeline
    from duckdb_wasm_spark.tables import load_table

    rows = pipeline.QUERIES["pipeline_near_dedup_corpus"](
        spark, sf_dir
    ).collect()
    assert rows
    for r in rows:
        assert (
            r["n_quality_cut"] + r["n_neardup_cut"] + r["n_kept"]
            == r["n_docs"]
        ), r
        assert r["n_kept"] >= 0 and r["n_tokens_kept"] >= 0, r
    total = sum(r["n_docs"] for r in rows)
    assert total == load_table(spark, sf_dir, "documents").count()
    # survivors come from the same quality rule the scored pass states
    surv = (
        pipeline._scored(load_table(spark, sf_dir, "documents"))
        .where(F.col("quality") >= pipeline.QUALITY_MIN)
        .count()
    )
    assert sum(r["n_docs"] - r["n_quality_cut"] for r in rows) == surv


def test_kmv_jaccard_estimator_properties(spark, sf_dir):
    """Sketch-union Jaccard pins the oracle can't express: the estimate
    is a [0,1] fraction of at most k sampled union elements; when the
    union fits inside the sketch (k_used < k) the sample IS the union
    and the estimate must equal the exact Jaccard bit-for-bit; and on
    every pair the error stays inside the 5-sigma binomial band for
    k=128 (sigma = sqrt(J(1-J)/k) <= 0.0442)."""
    from duckdb_wasm_spark.operators import sketches

    rows = sketches.QUERIES["sketch_kmv_jaccard"](spark, sf_dir).collect()
    assert rows
    n_sources = len({r["src_a"] for r in rows} | {r["src_b"] for r in rows})
    assert len(rows) == n_sources * (n_sources - 1) // 2
    for r in rows:
        assert 0 < r["k_used"] <= sketches.KMV_K
        assert 0.0 <= r["jaccard_kmv"] <= 1.0
        if r["k_used"] < sketches.KMV_K:
            assert r["jaccard_kmv"] == r["jaccard_exact"], r
        else:
            assert r["abs_err"] < 0.25, r


def test_triangle_count_structure(spark, sf_dir):
    """Graph-theory pins the oracle can't express: transitivity is a
    [0,1] ratio, the triangle count is bounded by C(n,3), and when the
    edge budget admits the COMPLETE projection (n_edges = C(n,2), the
    sf0.001 case) every wedge closes — transitivity exactly 1.0 and
    n_triangles exactly C(n,3). An orientation bug (double-counted or
    missed triangles) breaks the complete-graph identity loudly."""
    from duckdb_wasm_spark.operators import graph

    r = graph.QUERIES["graph_triangle_count"](spark, sf_dir).collect()[0]
    n = r["n_nodes"]
    assert r["n_edges"] <= graph.TRI_EDGES
    assert 0.0 <= r["transitivity"] <= 1.0
    assert r["n_triangles"] <= n * (n - 1) * (n - 2) // 6
    if r["n_edges"] == n * (n - 1) // 2:
        assert r["transitivity"] == 1.0
        assert r["n_triangles"] == n * (n - 1) * (n - 2) // 6


def test_scd2_intervals_tile_and_account(spark, sf_dir):
    """SCD2 invariants: per user, versions are 1..K dense, intervals
    are half-open and TILE the timeline (valid_to == next valid_from),
    exactly one current row per user, consecutive versions change
    state (runs are maximal), and run lengths account for every event
    the user has."""
    from duckdb_wasm_spark.operators import temporal
    from duckdb_wasm_spark.tables import load_table

    rows = temporal.QUERIES["events_scd2"](spark, sf_dir).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    totals = {
        r.user_id: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(__import__("pyspark.sql.functions", fromlist=["F"]).count("*").alias("n"))
        .collect()
    }
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r.version)
        assert [r.version for r in rs] == list(range(1, len(rs) + 1))
        assert sum(r.n_events for r in rs) == totals[uid]
        assert sum(1 for r in rs if r.is_current) == 1
        assert rs[-1].is_current and rs[-1].valid_to_us is None
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to_us == b.valid_from_us
            assert a.state != b.state  # runs are maximal
            assert a.valid_from_us < a.valid_to_us


def test_kcore_is_core(spark, sf_dir):
    """Every node the peel returns keeps >= K in-core neighbors (the
    defining property), and the operator's internal fixpoint assertion
    ran (a partial core would have raised)."""
    from duckdb_wasm_spark.operators import graph

    rows = graph.QUERIES["graph_kcore"](spark, sf_dir).collect()
    assert rows, "core unexpectedly empty at test SF"
    for r in rows:
        assert r.min_deg >= graph.KCORE_K
        assert r.n_nodes >= 1 and r.max_deg >= r.min_deg


def test_hist_quantile_error_bound(spark, sf_dir):
    """The histogram estimate can never miss by more than one bin: the
    true rank-t value lives in the picked bin [lo, lo+W) and the
    estimate is interpolated inside the same bin, so |est - exact| < W
    ... unless the exact value sits in a DIFFERENT bin, which the
    cum/cum-cnt bracketing makes impossible. Pin it."""
    from duckdb_wasm_spark.operators import sketches

    rows = sketches.QUERIES["sketch_hist_quantiles"](spark, sf_dir).collect()
    assert {r.quantile for r in rows} == {q for q, _, _ in sketches.HQ_QUANTS}
    for r in rows:
        assert r.abs_err < sketches.HQ_W
        assert 1 <= r.target_rank <= r.n_docs


def test_zonemap_skip_is_semantics_preserving(spark, sf_dir):
    """Every matching row lives in a surviving chunk (rows_matched <=
    rows_scanned), the ts-clustered layout actually skips chunks, and
    the selected fraction is the designed ~20%."""
    from duckdb_wasm_spark.plans import micro
    from duckdb_wasm_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    r = micro.QUERIES["source_zonemap_skip"](spark, sf_dir).collect()[0]
    n = ev.count()
    assert r.rows_matched <= r.rows_scanned
    assert 0 < r.n_chunks_skipped < r.n_chunks
    # event_id may not be dense: expected chunk count is the number of
    # distinct event_id div ZM_CHUNK values, not ceil(n / ZM_CHUNK).
    expected_chunks = (
        ev.select(F.expr(f"event_id div {micro.ZM_CHUNK}")).distinct().count()
    )
    assert r.n_chunks == expected_chunks
    # rank picks: hi-rank - lo-rank rows selected = ~n/5
    assert abs(r.rows_matched - n // 5) <= 2


def test_quantization_audit_bounds(spark, sf_dir):
    """SQ8 on 64-dim unit-ish vectors must preserve cosine to ~1e-4
    (the audit's reason to exist: prove the trade is cheap), and the
    storage ratio it reports must be the real fp32/int8 ratio."""
    from duckdb_wasm_spark.operators import similarity as sim

    rows = sim.QUERIES["embed_quantization_audit"](spark, sf_dir).collect()
    assert rows, "audit emitted no labels"
    for r in rows:
        assert 0.999 < r.min_recon_cos <= r.avg_recon_cos <= 1.0
        assert r.bytes_fp32 == r.n_vecs * 256
        assert r.bytes_int8 == r.n_vecs * 72
        assert r.bytes_fp32 / r.bytes_int8 > 3.5


def test_incremental_ingest_consistent_with_full_dedup(spark, sf_dir):
    """The asymmetric probe must agree with the full self-join: every
    ingest dup (new, dup_of) is one of dedup_minhash's verified pairs
    (same signatures, same bands, same verify threshold), dup_of lives
    in the index slice, and the output covers exactly the batch."""
    from duckdb_wasm_spark.operators.dedup import INGEST_MOD

    out = dedup.QUERIES["dedup_incremental_ingest"](spark, sf_dir).collect()
    batch = {r.new_id for r in out}
    assert all(i % INGEST_MOD == INGEST_MOD - 1 for i in batch)
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.QUERIES["dedup_minhash"](spark, sf_dir).collect()
    }
    for r in out:
        if r.is_dup:
            assert r.dup_of % INGEST_MOD != INGEST_MOD - 1
            key = (min(r.new_id, r.dup_of), max(r.new_id, r.dup_of))
            assert key in pairs, f"ingest dup {key} unknown to full dedup"
        else:
            assert r.dup_of is None and r.jaccard is None


def test_int8_quantization_elementwise_error_bound():
    """Property pin for the SQ8 law embed_quantization_audit relies on:
    for any vector, |x_i - recon_i| <= s/127 * 0.5 + eps elementwise
    (floor(v+0.5) rounds to the nearest grid point), so the cosine
    drift the audit reports is bounded by construction, not by luck."""
    import numpy as np

    rng = np.random.RandomState(7)
    for _ in range(50):
        x = rng.randn(64).astype(np.float32).astype(np.float64)
        s = np.abs(x).max()
        if s == 0:
            continue
        q = np.floor(x / s * 127.0 + 0.5)
        recon = q * s / 127.0
        assert np.abs(q).max() <= 127
        assert np.abs(x - recon).max() <= s / 127.0 * 0.5 + 1e-12


def test_session_memos_are_per_session_and_consistent(spark, sf_dir):
    """Every session memo (graph._edges, dedup._emb_sigs_memo /
    _lsh_pairs_memo, similarity._trained_centroids_memo /
    _pq_encoded_memo) must return the SAME materialization on repeated
    calls (that is the contract the bench wins rest on) and must agree
    row-for-row with a fresh derivation."""
    from duckdb_wasm_spark.operators import graph
    from duckdb_wasm_spark.operators.dedup import (
        _emb_signatures,
        _emb_sigs_memo,
    )
    from duckdb_wasm_spark.tables import load_table

    e1 = graph._edges(spark, sf_dir, "cs")
    e2 = graph._edges(spark, sf_dir, "cs")
    assert e1 is e2  # one materialization per (session, sf_dir, shape)
    fresh = (
        graph._trade_pairs(spark, sf_dir)
        .select(F.col("a").alias("cust"), F.col("b").alias("supp"))
    )
    assert e1.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(e1).count() == 0

    s1 = _emb_sigs_memo(spark, sf_dir)
    s2 = _emb_sigs_memo(spark, sf_dir)
    assert s1 is s2
    from duckdb_wasm_spark.operators.dedup import _emb_corpus_bits

    fresh_sigs = _emb_signatures(
        load_table(spark, sf_dir, "embeddings"),
        _emb_corpus_bits(spark, sf_dir),
    )
    assert s1.exceptAll(fresh_sigs).count() == 0
    assert fresh_sigs.exceptAll(s1).count() == 0

    from duckdb_wasm_spark.operators.dedup import _lsh_pairs_memo, _probe_pairs

    p1 = _lsh_pairs_memo(spark, sf_dir)
    p2 = _lsh_pairs_memo(spark, sf_dir)
    assert p1 is p2
    fresh_pairs = _probe_pairs(s1, _emb_corpus_bits(spark, sf_dir))
    assert p1.exceptAll(fresh_pairs).count() == 0
    assert fresh_pairs.exceptAll(p1).count() == 0

    from duckdb_wasm_spark.operators.similarity import (
        _pq_encoded,
        _pq_encoded_memo,
        _trained_centroids,
        _trained_centroids_memo,
        dot_fold,
    )

    c1 = _trained_centroids_memo(spark, sf_dir)
    c2 = _trained_centroids_memo(spark, sf_dir)
    assert c1 is c2
    emb = load_table(spark, sf_dir, "embeddings")
    normed = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(dot_fold("embedding", "embedding")).alias("nrm"),
    )
    fresh_cent = _trained_centroids(normed)
    assert c1.exceptAll(fresh_cent).count() == 0
    assert fresh_cent.exceptAll(c1).count() == 0

    enc1 = _pq_encoded_memo(spark, sf_dir)
    enc2 = _pq_encoded_memo(spark, sf_dir)
    assert enc1[0] is enc2[0] and enc1[1] is enc2[1]
    fresh_codes, fresh_qd = _pq_encoded(spark, sf_dir)
    assert enc1[0].exceptAll(fresh_codes).count() == 0
    assert fresh_codes.exceptAll(enc1[0]).count() == 0
    assert enc1[1].exceptAll(fresh_qd).count() == 0
    assert fresh_qd.exceptAll(enc1[1]).count() == 0

    from duckdb_wasm_spark.operators.similarity import _residual_index_memo

    idx1 = _residual_index_memo(spark, sf_dir)
    idx2 = _residual_index_memo(spark, sf_dir)
    assert all(a is b for a, b in zip(idx1, idx2))
    # codes cover exactly the corpus (N vectors x PQ_M codes) — the
    # value-level agreement is pinned by the oracle replica, which
    # replays training fresh in DuckDB and hash-compares the result
    n = load_table(spark, sf_dir, "embeddings").count()
    from duckdb_wasm_spark.operators.similarity import PQ_M

    assert idx1[3].count() == n * PQ_M

    from duckdb_wasm_spark.operators import similarity as S

    S.QUERIES["ivf_incremental_ingest"](spark, sf_dir)
    ing1 = spark.__dict__["_dws_disk_artifacts"][
        ("ingest_centroids", sf_dir)
    ]["cent"]
    S.QUERIES["ivf_incremental_ingest"](spark, sf_dir)
    assert (
        spark.__dict__["_dws_disk_artifacts"][
            ("ingest_centroids", sf_dir)
        ]["cent"]
        is ing1
    )
    # value-level check: the memoized ingest codebook equals a fresh
    # derivation over the resident (non-batch) vectors (r10 ADVICE —
    # the other memos get this exceptAll discipline; match it here)
    resident = normed.where(
        ~(F.col("vec_id") % S.INGEST_MOD == 0)
    )
    fresh_ing = _trained_centroids(
        resident, seed_where=F.col("vec_id") < S.INGEST_SEED_BOUND
    )
    assert ing1.exceptAll(fresh_ing).count() == 0
    assert fresh_ing.exceptAll(ing1).count() == 0


def test_probe_mask_order_matches_recall_flip_count():
    """knn_graph_recall tags each probe mask with its flip count by the
    mask's position in _probe_masks(bits) — 0 at position 0, 1 up to
    position `bits`, 2 after — so at every band width the masks must
    be distinct and each mask's popcount must be that flip count."""
    for bits in range(dedup.HP_BITS_MIN, dedup.HP_BITS_MAX + 1):
        masks = dedup._probe_masks(bits)
        assert len(set(masks)) == len(masks), bits
        for pos, mask in enumerate(masks):
            flips = 0 if pos == 0 else 1 if pos <= bits else 2
            assert bin(mask).count("1") == flips, (bits, pos, mask)


def test_lsh_candidate_growth_is_subquadratic(spark, sf_dir):
    """The scale law the r10 adaptive-bit multiprobe rewrite exists to
    guarantee (r9 verdict #1): doubling the corpus must grow the
    LSH candidate-pair set SUB-quadratically (< 4x; the fixed-4-bit
    config was ~N^2/16 i.e. 4x per doubling), because _hp_bits adds a
    bit per doubling and keeps expected bucket occupancy in
    (0.25, 0.5]. Max bucket occupancy is pinned O(1)-small too — the
    direct witness that no bucket join can go quadratic."""
    from duckdb_wasm_spark.operators.dedup import _hp_bits

    rows = {
        r["subset"]: r
        for r in dedup.QUERIES["lsh_candidate_growth"](
            spark, sf_dir
        ).collect()
    }
    full, half = rows["full"], rows["half"]
    assert full["n_vectors"] >= 2 * half["n_vectors"] - 1
    assert full["bits"] == _hp_bits(full["n_vectors"])
    assert half["bits"] == _hp_bits(half["n_vectors"])
    growth = full["n_candidates"] / max(1, half["n_candidates"])
    assert growth < 4.0, (
        f"candidate growth {growth:.2f}x per corpus doubling — the "
        f"quadratic regime the adaptive band width must prevent"
    )
    assert full["max_bucket"] <= 64, full["max_bucket"]
    assert half["max_bucket"] <= 64, half["max_bucket"]


def test_knn_graph_recall_default_config(spark, sf_dir):
    """The swept operating points must include the index's DEFAULT
    config (HP_BANDS, HP_MAX_FLIPS), its measured recall@5 must hold
    the floor the family claims (>= 0.9 at this SF — measured 0.986 at
    N=500, 0.936 at N=2000), and recall must be monotone
    non-decreasing in probe radius at full band count (candidate sets
    are nested by construction)."""
    from duckdb_wasm_spark.operators import dedup

    rows = dedup.QUERIES["knn_graph_recall"](spark, sf_dir).collect()
    by_cfg = {(r["n_bands"], r["max_flips"]): r for r in rows}
    assert (dedup.HP_BANDS, dedup.HP_MAX_FLIPS) in by_cfg
    default = by_cfg[(dedup.HP_BANDS, dedup.HP_MAX_FLIPS)]
    assert default["recall"] >= 0.9, default
    radii = [
        by_cfg[(dedup.HP_BANDS, f)]
        for f in range(dedup.HP_MAX_FLIPS + 1)
        if (dedup.HP_BANDS, f) in by_cfg
    ]
    for lo, hi in zip(radii, radii[1:]):
        assert hi["recall"] >= lo["recall"]
        assert hi["n_candidates"] >= lo["n_candidates"]


def test_skew_stress_cap_binds_and_bounds(spark, sf_dir):
    """The boilerplate skew must be REAL (raw max df ~ 0.3*N, far over
    the cap) and the cap must HOLD (no kept gram above NGRAM_MAX_DF) —
    the executed proof behind the capped family's bounded-fan-out
    claim (r9 verdict task #5)."""
    row = dedup.QUERIES["dedup_skew_stress"](spark, sf_dir).collect()[0]
    assert row["n_boiler_docs"] * 10 >= row["n_docs"] * 2  # >= 20% hit
    assert row["max_df_raw"] >= row["n_boiler_docs"], (
        "boilerplate trigrams must reach every boilerplate doc"
    )
    assert row["max_df_raw"] > dedup.NGRAM_MAX_DF, (
        "skew did not exceed the cap — the stress is not stressing"
    )
    assert row["max_df_kept"] <= dedup.NGRAM_MAX_DF, (
        "a gram over the df cap survived into the candidate join"
    )
    assert row["n_grams_capped_out"] >= 1
