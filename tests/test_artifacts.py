"""Unit tests for the disk-persisted index-artifact store
(duckdb_wasm_spark/artifacts.py): the lifecycle properties the
ANN/LSH consumers rely on — build-once, reload value-identical,
session-memo identity, fingerprint invalidation on source change,
supersession of stale fingerprints, torn builds never served — tested
directly against a scratch source table in a private store (`store`)
so a regression cannot hide behind the operator gates; then
reload ≡ rebuild for each real kind against the shared store."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark
import pytest
from pyspark.sql import functions as F

from duckdb_wasm_spark import artifacts


@pytest.fixture()
def scratch_sf(tmp_path, spark):
    """A miniature sf_dir with one 'embeddings' table."""
    d = tmp_path / "sf"
    d.mkdir()
    spark.range(20).select(
        F.col("id").alias("vec_id"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.parquet(str(d / "embeddings.parquet"))
    return str(d)


@pytest.fixture()
def store(tmp_path, monkeypatch):
    """An empty artifact store private to the test."""
    root = tmp_path / "store" / "index_artifacts"
    monkeypatch.setattr(artifacts, "_ROOT", str(root))
    return str(root)


def test_build_once_then_reload_identical(spark, scratch_sf, store):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return {
            "a": spark.range(5).select(F.col("id").alias("x")),
            "b": spark.range(3).select((F.col("id") + 10).alias("y")),
        }

    got1 = artifacts.persisted_frames(
        spark, "t_basic", scratch_sf, ("embeddings",), build
    )
    assert calls["n"] == 1
    assert sorted(r["x"] for r in got1["a"].collect()) == [0, 1, 2, 3, 4]
    # same session: memo identity, no rebuild, no re-read
    got2 = artifacts.persisted_frames(
        spark, "t_basic", scratch_sf, ("embeddings",), build
    )
    assert calls["n"] == 1
    assert got2 is got1
    # repeated [name] returns the identical DataFrame object
    assert got1["a"] is got1["a"]
    # meta defaults to an empty dict when no meta_build was given
    assert got1.meta == {}
    # not a dict: a stray .get cannot silently skip a frame's supplier
    with pytest.raises(AttributeError):
        got1.get("a")
    # fresh "session" (drop the memo): reload from disk, still no build
    spark.__dict__.pop("_dws_disk_artifacts")
    got3 = artifacts.persisted_frames(
        spark, "t_basic", scratch_sf, ("embeddings",), build
    )
    assert calls["n"] == 1
    assert sorted(r["y"] for r in got3["b"].collect()) == [10, 11, 12]


def test_fingerprint_invalidates_on_source_change(spark, scratch_sf, store):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return {"a": spark.range(2).select(F.col("id").alias("x"))}

    artifacts.persisted_frames(
        spark, "t_stale", scratch_sf, ("embeddings",), build
    )
    fp1 = artifacts._fingerprint(scratch_sf, ("embeddings",))
    # regenerate the source table (the driver does this between
    # rounds): mtime/size change -> new fingerprint -> rebuild, and
    # the superseded fingerprint dir is deleted
    src = os.path.join(scratch_sf, "embeddings.parquet")
    os.utime(src, (1, 1))
    fp2 = artifacts._fingerprint(scratch_sf, ("embeddings",))
    assert fp2 != fp1
    spark.__dict__.pop("_dws_disk_artifacts")
    artifacts.persisted_frames(
        spark, "t_stale", scratch_sf, ("embeddings",), build
    )
    assert calls["n"] == 2
    src_dir = os.path.join(
        store, "t_stale", artifacts._source_key(scratch_sf)
    )
    got = sorted(
        d for d in os.listdir(src_dir) if not d.startswith("_")
    )
    assert got == [fp2], "superseded fingerprint not cleaned"


def test_partial_build_is_not_served(spark, scratch_sf, store):
    """A dir without the commit marker (torn build: the process died
    mid-write) must rebuild, never serve partial frames."""
    fp = artifacts._fingerprint(scratch_sf, ("embeddings",))
    base = os.path.join(store, "t_torn", artifacts._source_key(scratch_sf), fp)
    os.makedirs(os.path.join(base, "a"))  # no marker
    pq.write_table(
        pa.table({"x": [100, 101]}),
        os.path.join(base, "a", "part-00000-stray.parquet"),
    )
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return {"a": spark.range(4).select(F.col("id").alias("x"))}

    got = artifacts.persisted_frames(
        spark, "t_torn", scratch_sf, ("embeddings",), build
    )
    assert calls["n"] == 1
    assert sorted(r["x"] for r in got["a"].collect()) == [0, 1, 2, 3]


def test_two_source_dirs_coexist_and_dead_sources_prune(
    spark, tmp_path, store
):
    """Artifacts for DIFFERENT sf_dirs of the same kind must coexist
    (the flat first cut wiped sf0.01's store whenever sf0.1 built);
    source keys whose directory vanished (a test's temporary corpus)
    are pruned on the next build."""
    dirs = []
    for name in ("sfA", "sfB"):
        d = tmp_path / name
        d.mkdir()
        spark.range(5).select(F.col("id").alias("vec_id")).coalesce(
            1
        ).write.parquet(str(d / "embeddings.parquet"))
        dirs.append(str(d))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return {"a": spark.range(3).select(F.col("id").alias("x"))}

    for d in dirs:
        artifacts.persisted_frames(
            spark, "t_coex", d, ("embeddings",), build
        )
    assert calls["n"] == 2
    # both coexist: a fresh session serves BOTH without rebuilding
    spark.__dict__.pop("_dws_disk_artifacts")
    for d in dirs:
        artifacts.persisted_frames(
            spark, "t_coex", d, ("embeddings",), build
        )
    assert calls["n"] == 2, "coexisting artifact was wiped"
    # kill sfA's source dir: the next build prunes its subtree
    shutil.rmtree(dirs[0])
    spark.__dict__.pop("_dws_disk_artifacts")
    c = tmp_path / "sfC"
    c.mkdir()
    spark.range(2).select(F.col("id").alias("vec_id")).coalesce(
        1
    ).write.parquet(str(c / "embeddings.parquet"))
    artifacts.persisted_frames(
        spark, "t_coex", str(c), ("embeddings",), build
    )
    kind_dir = os.path.join(store, "t_coex")
    keys = set(os.listdir(kind_dir))
    assert artifacts._source_key(dirs[0]) not in keys, "dead source kept"
    assert artifacts._source_key(dirs[1]) in keys
    assert artifacts._source_key(str(c)) in keys


def test_layout_respread_hash_partitions_named_frames(
    spark, scratch_sf, store
):
    """The `layout` spec (graph edge frames) must bring named frames
    back hash-partitioned on the given columns and leave unnamed frames
    round-robin — and reload must stay value-identical either way."""

    def build():
        return {
            "keyed": spark.range(40).select(
                (F.col("id") % 7).alias("k"), F.col("id").alias("v")
            ),
            "plain": spark.range(9).select(F.col("id").alias("x")),
        }

    got = artifacts.persisted_frames(
        spark,
        "t_layout",
        scratch_sf,
        ("embeddings",),
        build,
        layout={"keyed": ["k"]},
    )
    # hash partitioning: all rows of one key land in one partition
    parts = (
        got["keyed"]
        .select("k", F.spark_partition_id().alias("pid"))
        .groupBy("k")
        .agg(F.count_distinct("pid").alias("np"))
        .collect()
    )
    assert all(r["np"] == 1 for r in parts), parts
    assert sorted(r["x"] for r in got["plain"].collect()) == list(range(9))
    # values identical to a fresh build
    fresh = build()
    assert got["keyed"].exceptAll(fresh["keyed"]).count() == 0
    assert fresh["keyed"].exceptAll(got["keyed"]).count() == 0


def test_graph_edges_reload_equals_rebuild(spark, sf_dir):
    """The disk-persisted graph edge frames (r11 verdict #4) must
    serve exactly what a fresh derivation computes, for every shape
    the family consumes."""
    from duckdb_wasm_spark.operators import graph
    from duckdb_wasm_spark.tables import load_table

    served_cs = graph._edges(spark, sf_dir, "cs")
    fresh_cs = graph._trade_pairs(spark, sf_dir).select(
        F.col("a").alias("cust"), F.col("b").alias("supp")
    )
    assert served_cs.exceptAll(fresh_cs).count() == 0
    assert fresh_cs.exceptAll(served_cs).count() == 0

    served_deg = graph._edges(spark, sf_dir, "deg_sym")
    sym = graph._edges(spark, sf_dir, "sym")
    fresh_deg = (
        sym.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .select(F.col("src").alias("node"), "outdeg")
    )
    assert served_deg.exceptAll(fresh_deg).count() == 0
    assert fresh_deg.exceptAll(served_deg).count() == 0

    served_symw = graph._edges(spark, sf_dir, "symw")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    wsym = pairs.selectExpr("a src", "b dst", "w").unionByName(
        pairs.selectExpr("b src", "a dst", "w")
    )
    fresh_symw = wsym.unionByName(
        wsym.select("src")
        .distinct()
        .selectExpr("src", "src dst", "cast(1 as bigint) w")
    )
    assert served_symw.exceptAll(fresh_symw).count() == 0
    assert fresh_symw.exceptAll(served_symw).count() == 0


def test_kmeanspp_cand_reload_equals_rebuild(spark, sf_dir):
    """The disk-persisted k-means|| candidate set (r11 verdict #4) must
    serve exactly what a fresh derivation of the KPP_T oversampling
    rounds computes."""
    from duckdb_wasm_spark.operators import similarity as sim

    served = sim._kmeanspp_cand_memo(spark, sf_dir).select("cid")
    fresh = sim._kmeanspp_cand_build(spark, sf_dir).select("cid")
    assert served.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(served).count() == 0


def test_cc_labels_reload_equals_rebuild(spark, sf_dir):
    """The disk-persisted cluster-assignment tables (r12) must serve
    exactly the labels a fresh pointer-jumping run computes, for both
    candidate generators."""
    from duckdb_wasm_spark.operators import dedup
    from duckdb_wasm_spark.operators.dedup import connected_components

    for kind, builder in (
        ("cc_labels_minhash", dedup._minhash_cc_nodes_edges),
        ("cc_labels_emb", dedup._emb_cc_nodes_edges),
    ):
        served = dedup._cc_labels_memo(
            spark,
            sf_dir,
            kind,
            ("documents",) if "minhash" in kind else ("embeddings",),
            lambda: builder(spark, sf_dir),
        )
        nodes, edges = builder(spark, sf_dir)
        fresh = connected_components(nodes, edges)
        assert served.exceptAll(fresh).count() == 0, kind
        assert fresh.exceptAll(served).count() == 0, kind


def test_text_index_reload_equals_rebuild(spark, sf_dir):
    """The disk-persisted lexical index (r12 verdict #2 — the TF/df/
    stats frames BM25 and TF-IDF are served from) must serve exactly
    what a fresh tokenize + aggregate computes."""
    from duckdb_wasm_spark.operators import text as text_ops
    from duckdb_wasm_spark.operators._text import toks
    from duckdb_wasm_spark.tables import load_table

    idx = text_ops._text_index_memo(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    ta = docs.select("doc_id", toks().alias("ta"))
    fresh_tf = (
        ta.select(
            "doc_id", F.size("ta").alias("dl"), F.explode("ta").alias("tok")
        )
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    assert idx["tf"].exceptAll(fresh_tf).count() == 0
    assert fresh_tf.exceptAll(idx["tf"]).count() == 0
    fresh_dfs = fresh_tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    assert idx["dfs"].exceptAll(fresh_dfs).count() == 0
    assert fresh_dfs.exceptAll(idx["dfs"]).count() == 0
    stats = idx["stats"].collect()
    assert len(stats) == 1
    n_docs = docs.count()
    assert stats[0]["n_docs"] == n_docs
    got_avgdl = stats[0]["avgdl"]
    exp_avgdl = (
        ta.agg(F.sum(F.size("ta"))).collect()[0][0] / n_docs
    )
    assert got_avgdl == exp_avgdl


def test_graph_edges_meta_n_nodes(spark, sf_dir):
    """The n_nodes scalar persisted in the graph edge artifact's
    metadata (r12 verdict #1) must equal a live count of the degree
    frame — PageRank's teleport arithmetic depends on it."""
    from duckdb_wasm_spark.operators import graph

    art = graph._edges_artifact(spark, sf_dir)
    assert art.meta["n_nodes"] == art["deg_sym"].count()


def test_semdedup_growth_occupancy_reload_equals_rebuild(spark, sf_dir):
    """The persisted per-subset occupancy frames behind
    semdedup_cell_growth (r12 verdict #1) must match a fresh
    train + assign + count for BOTH subsets."""
    from duckdb_wasm_spark.artifacts import persisted_frames
    from duckdb_wasm_spark.operators import selection
    from duckdb_wasm_spark.operators.similarity import (
        _assign_cells,
        _trained_centroids,
    )

    # trigger/load the artifact through the public query
    selection.QUERIES["semdedup_cell_growth"](spark, sf_dir).collect()
    occ = spark.__dict__["_dws_disk_artifacts"][
        ("semdedup_growth", sf_dir)
    ]
    for label, mod, c in selection.SEMDEDUP_GROWTH_SUBSETS:
        if mod == 1:
            assigned = selection._semdedup_ranked_memo(
                spark, sf_dir
            ).select("cell")
        else:
            normed_sub = selection._normed(spark, sf_dir).where(
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
        fresh = assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("m")
        )
        served = occ[f"mem_{label}"]
        assert served.exceptAll(fresh).count() == 0, label
        assert fresh.exceptAll(served).count() == 0, label


def test_gram_index_reload_equals_rebuild(spark, sf_dir):
    """The disk-persisted trigram-shingle index must serve exactly what
    a fresh tokenize computes."""
    from duckdb_wasm_spark.operators import dedup
    from duckdb_wasm_spark.tables import load_table

    idx = dedup._gram_index_memo(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    fresh_arrays = dedup._gram_arrays(docs).select(
        "doc_id", "grams", F.size("grams").alias("n")
    )
    assert idx["arrays"].exceptAll(fresh_arrays).count() == 0
    assert fresh_arrays.exceptAll(idx["arrays"]).count() == 0


def test_code_change_rebuilds(spark, scratch_sf, store, monkeypatch):
    """An edit to the package or a Spark upgrade must rebuild the
    artifact exactly like regenerated source data does: frames bake the
    builders' constants and logic, and Spark's semantics, into the data,
    so a stored frame written by other code or another Spark would be
    served stale (a hand-kept per-builder token once missed such an
    edit)."""
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return {"a": spark.range(4).select(F.col("id").alias("x"))}

    artifacts.persisted_frames(
        spark, "t_code", scratch_sf, ("embeddings",), build
    )
    assert calls["n"] == 1
    # same code, fresh session memo -> reload, no rebuild
    spark.__dict__["_dws_disk_artifacts"].pop(("t_code", scratch_sf))
    artifacts.persisted_frames(
        spark, "t_code", scratch_sf, ("embeddings",), build
    )
    assert calls["n"] == 1
    # other code -> rebuild
    spark.__dict__["_dws_disk_artifacts"].pop(("t_code", scratch_sf))
    monkeypatch.setattr(artifacts, "_CODE", artifacts._CODE + "-edited")
    artifacts.persisted_frames(
        spark, "t_code", scratch_sf, ("embeddings",), build
    )
    assert calls["n"] == 2
    # same code, other Spark -> rebuild
    spark.__dict__["_dws_disk_artifacts"].pop(("t_code", scratch_sf))
    monkeypatch.setattr(pyspark, "__version__", pyspark.__version__ + "-upgraded")
    artifacts.persisted_frames(
        spark, "t_code", scratch_sf, ("embeddings",), build
    )
    assert calls["n"] == 3


def test_code_hash_covers_every_module_and_only_source(tmp_path):
    """_code_hash changes with one byte of any module, nested ones
    included, and ignores compiled caches."""
    pkg = os.path.dirname(artifacts.__file__)
    copy = tmp_path / "pkg"
    shutil.copytree(pkg, copy, ignore=shutil.ignore_patterns("__pycache__"))
    h0 = artifacts._code_hash(str(copy))
    assert h0 == artifacts._code_hash(pkg) == artifacts._CODE
    cache = copy / "operators" / "__pycache__"
    cache.mkdir()
    (cache / "text.cpython-311.pyc").write_bytes(b"\x00compiled")
    assert artifacts._code_hash(str(copy)) == h0
    mod = copy / "operators" / "_text.py"
    src = mod.read_bytes()
    mod.write_bytes(src[:-1] + bytes([src[-1] ^ 1]))
    assert artifacts._code_hash(str(copy)) != h0


def test_meta_build_persists_scalars(spark, scratch_sf, store):
    """meta_build scalars must persist to the _META.json sidecar and
    come back on a reload (fresh session memo) without re-running the
    builder."""
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return {"a": spark.range(7).select(F.col("id").alias("x"))}

    got = artifacts.persisted_frames(
        spark, "t_meta", scratch_sf, ("embeddings",), build,
        meta_build=lambda built: {"n": built["a"].count()},
    )
    assert got.meta == {"n": 7} and calls["n"] == 1
    spark.__dict__["_dws_disk_artifacts"].pop(("t_meta", scratch_sf))
    got2 = artifacts.persisted_frames(
        spark, "t_meta", scratch_sf, ("embeddings",), build,
        meta_build=lambda built: {"n": built["a"].count()},
    )
    assert got2.meta == {"n": 7} and calls["n"] == 1


def test_pca_artifact_reload_equals_rebuild(spark, sf_dir):
    """The disk-persisted PCA trained state (r13 verdict #1 — mu, the
    2^20 fixed-point exact mean, and v, the PCA_ITERS power-iteration
    top component) must equal a pure-Python replay of the documented
    arithmetic on the collected embeddings: floor-to-fixed-point
    sums, left-fold dots with 0.0 init, and the same operation order
    — every op is an IEEE correctly-rounded double op, so the replay
    is bit-exact, not approximate."""
    import math

    from duckdb_wasm_spark.operators import similarity as sim
    from duckdb_wasm_spark.tables import load_table

    art = sim._pca_artifact(spark, sf_dir)
    got_mu = art["mu"].collect()[0]["mu"]
    got_v = art["v"].collect()[0]["v"]

    rows = load_table(spark, sf_dir, "embeddings").collect()
    X = [[float(x) for x in r["embedding"]] for r in rows]
    n = len(X)
    fp = float(sim._FP_SCALE)
    d = len(X[0])
    mu = [
        float(sum(int(math.floor(x[p] * fp)) for x in X)) / float(n) / fp
        for p in range(d)
    ]
    assert got_mu == mu

    def fold_dot(a, b):
        acc = 0.0
        for i in range(len(a)):
            acc = acc + a[i] * b[i]
        return acc

    C = [[x[p] - mu[p] for p in range(d)] for x in X]
    v = [0.125] * d
    for _ in range(sim.PCA_ITERS):
        s = [fold_dot(c, v) for c in C]
        y = [
            float(
                sum(int(math.floor(C[i][p] * s[i] * fp)) for i in range(n))
            )
            / fp
            for p in range(d)
        ]
        nrm = math.sqrt(fold_dot(y, y))
        v = [e / nrm for e in y]
    assert got_v == v

    # the persisted covariance frame (r14: the matrix is trained
    # state like mu/v) must match the same fixed-point replay
    cov_rows = {
        (r["i"], r["j"]): (r["n"], r["cov"]) for r in art["cov"].collect()
    }
    assert len(cov_rows) == d * (d + 1) // 2
    for i in range(d):
        for j in range(i, d):
            s = sum(
                int(math.floor(C[r][i] * C[r][j] * fp)) for r in range(n)
            )
            exp = float(s) / float(n) / fp
            assert cov_rows[(i, j)] == (n, exp)


def test_lm_artifact_reload_equals_rebuild(spark, sf_dir):
    """The disk-persisted bigram-LM score frame (r13 verdict #2) must
    serve exactly what the committed oracle SQL computes — parquet
    round-trips the decimal-summed doubles bit-exactly, so the served
    frame and a fresh DuckDB derivation agree value-for-value."""
    from duckdb_wasm_spark.operators import text as text_ops
    from duckdb_wasm_spark.testing import assert_parity, duck_con

    art = text_ops._lm_artifact(spark, sf_dir)
    con = duck_con(sf_dir)
    assert_parity(
        art["scores"],
        text_ops.ORACLE["text_lm_score"],
        con,
        "lm_artifact_scores",
    )


def test_window_index_reload_equals_rebuild(spark, sf_dir):
    """The disk-persisted positional window index (r13 verdict #5 —
    the sorted posting arrays dedup_substring/_capped/span_removal
    start from) must serve exactly what a fresh tokenize → window →
    groupBy derivation computes, including the deterministic
    (doc_id, pos) sort order inside each array."""
    from duckdb_wasm_spark.operators import dedup
    from duckdb_wasm_spark.operators._text import toks
    from duckdb_wasm_spark.tables import load_table

    n = dedup.DUP_SUBSTR_N
    idx = dedup._window_index_memo(spark, sf_dir)
    fresh = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", toks().alias("tk"))
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
        .groupBy("gram")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "pos"))
            ).alias("ds")
        )
        .select("ds")
    )
    assert idx["posts"].exceptAll(fresh).count() == 0
    assert fresh.exceptAll(idx["posts"]).count() == 0


def test_minhash_sigs_reload_equals_rebuild(spark, sf_dir):
    """The disk-persisted full-corpus MinHash signature frame (r14)
    must serve exactly what a fresh shingle-hash + 16-min derivation
    computes — pure integer arithmetic, so exceptAll is exact."""
    from duckdb_wasm_spark.operators import dedup
    from duckdb_wasm_spark.tables import load_table

    served = dedup._minhash_sigs_memo(spark, sf_dir)
    fresh = dedup._minhash_sigs(load_table(spark, sf_dir, "documents"))
    assert served.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(served).count() == 0


def test_panel_truth_reload_equals_rebuild(spark, sf_dir):
    """The disk-persisted exact panel ground truth (r15, r14 verdict
    #2) must serve exactly what a fresh brute-force derivation
    computes — the sim is the sequential IEEE left fold (dot_fold), so
    the doubles are bit-deterministic and exceptAll is exact — and the
    _META sidecar's per-k truth counts must match the frame, so
    knn_graph_recall's no-job denominator is the real count."""
    from duckdb_wasm_spark.operators import dedup, similarity

    panel = similarity.panel_truth_memo(spark, sf_dir)
    served = panel["truth"]
    panel_k = max(similarity.TOP_K, dedup.KNN_K)
    fresh = similarity._panel_brute_topk(spark, sf_dir, panel_k)
    assert served.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(served).count() == 0
    for k in sorted({similarity.TOP_K, dedup.KNN_K}):
        assert panel.meta[f"n_top{k}"] == served.where(
            F.col("rank") <= k
        ).count()


def test_multifile_reload_parallelism_and_values(spark, scratch_sf, store):
    """A multi-part-file artifact must reload through per-file union
    relations: at least one scan partition per part file BEFORE the
    respread (the conf-free replacement for the old session-global
    maxPartitionBytes flip), and values identical to the build."""

    def build():
        return {
            "k": spark.range(200)
            .repartition(8)
            .select(F.col("id").alias("x"))
        }

    got = artifacts.persisted_frames(
        spark, "t_union", scratch_sf, ("embeddings",), build
    )
    import glob as _glob

    files = _glob.glob(
        os.path.join(store, "t_union", "*", "*", "k", "part-*.parquet")
    )
    assert len(files) > 1, "expected a multi-file artifact"
    # the materialized frame is respread to defaultParallelism and
    # value-identical to the build
    assert got["k"].rdd.getNumPartitions() == (
        spark.sparkContext.defaultParallelism
    )
    assert sorted(r["x"] for r in got["k"].collect()) == list(range(200))
    # the pre-respread union read carries >= one partition per file
    schema = spark.read.parquet(os.path.dirname(files[0])).schema
    from functools import reduce

    from pyspark.sql import DataFrame as _DF

    u = reduce(
        _DF.unionByName,
        [spark.read.schema(schema).parquet(f) for f in files],
    )
    assert u.rdd.getNumPartitions() >= len(files)


def test_quality_scores_reload_equals_rebuild(spark, sf_dir):
    """The disk-persisted per-doc quality features (r15) must serve
    exactly what a fresh scored-pass derivation computes — doc_id,
    lang, source, n_tokens, quality, fp — for every column the eight
    pipeline consumers read."""
    from duckdb_wasm_spark.operators import pipeline as pl
    from duckdb_wasm_spark.tables import load_table

    served = pl._scored_memo(spark, sf_dir).select(
        "doc_id", "lang", "source", "n_tokens", "quality", "fp"
    )
    docs = load_table(spark, sf_dir, "documents")
    fresh = (
        pl._scored(docs)
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "quality",
            F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
        )
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "lang", "source", "n_tokens", "quality", "fp")
    )
    assert served.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(served).count() == 0
