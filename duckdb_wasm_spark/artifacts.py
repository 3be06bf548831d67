"""Disk-persisted index artifacts and the one commit protocol behind
every persisted directory.

The ANN / LSH / dedup / graph / text index builders train or encode
state that a production deployment builds ONCE and serves forever
(FAISS writes an index file; a feature store materializes the codebook
table). `persisted_frames` makes that lifecycle executable: the first
build writes each frame to
`spark-warehouse/index_artifacts/<kind>/<source_key>/<fingerprint>/<frame>`
(the stand-in for the shared warehouse a cluster persists to), and
every later session reloads flat parquet instead of re-training, so
the one-time build cost is paid, and visible, exactly once.

Each of the 21 kinds was weighed against the live recompute it
replaces (scripts/artifact_kinds.py: one consumer per kind, sf0.1,
4 cores, warm medians): serving the kind unpersisted was 1.26×
(lsh_sigs) to 128× (cc_labels_emb) slower, so every kind stays.

Staleness: the fingerprint hashes (mtime_ns, size) of every source
table the artifact derives from, the package code (`_CODE`, every
`*.py` file under the package) and the pyspark version, so regenerated
data, any edit to the package or a Spark upgrade invalidates
automatically: no stored frame was written by another version of the
code or computed by another Spark. The first session after such a
change rebuilds every kind it uses. A build deletes the superseded
fingerprints of its own source directory and the subtrees of source
directories that no longer exist, so the store stays bounded.

Determinism: every builder is deterministic of its source tables
(seeded, order-independent), so reload ≡ rebuild value-for-value;
tests/test_artifacts.py compares a fresh derivation with each served
kind.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import shutil
import threading
from functools import reduce
from typing import Callable

import pyspark
from pyspark.sql import DataFrame, SparkSession

_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "spark-warehouse",
    "index_artifacts",
)
# REENTRANT: artifact builds nest (the residual IVF-PQ build serves
# its coarse codebook through _trained_centroids_memo, itself a
# persisted artifact) — a plain Lock would deadlock the nested call
_LOCK = threading.RLock()
_DONE = "_ALL_PARTS_COMMITTED"


def _code_hash(pkg_dir: str) -> str:
    """md5 over the relative path and bytes of every `*.py` file under
    `pkg_dir`, in sorted order. The whole package, not the builder's
    module: builders call helpers in other modules (the token helpers,
    load_table's timestamp cast, ranks)."""
    h = hashlib.md5()
    for root, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                h.update(os.path.relpath(path, pkg_dir).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


_CODE = _code_hash(os.path.dirname(os.path.abspath(__file__)))


def _fingerprint(
    sf_dir: str, sources: tuple[str, ...], version: str = ""
) -> str:
    """Hash of the source tables' (mtime, size), the package code and
    the pyspark version: persisted frames bake the builders' constants
    and logic, and Spark's own semantics, into the data, so a code edit
    or a Spark upgrade must invalidate the stored artifact exactly like
    regenerated data does. No package caller passes `version`;
    perfbench/spans.py passes its recorded value to label outcomes."""
    parts = [os.path.abspath(sf_dir), _CODE, f"spark:{pyspark.__version__}"]
    for s in sources:
        st = os.stat(os.path.join(sf_dir, f"{s}.parquet"))
        parts.append(f"{s}:{st.st_mtime_ns}:{st.st_size}")
    if version:
        parts.append(f"v:{version}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:16]


def _source_key(sf_dir: str) -> str:
    """Stable per-source-DIRECTORY key: fingerprints nest under it so
    superseding a regenerated table only deletes THAT directory's old
    fingerprints — sf0.01 and sf0.1 artifacts coexist."""
    return hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]


def _prune_dead_sources(kind_dir: str) -> None:
    """Drop source-key subtrees whose sf_dir no longer exists (e.g. a
    test's temporary corpus) so the store stays bounded."""
    try:
        keys = os.listdir(kind_dir)
    except FileNotFoundError:
        return
    for k in keys:
        try:
            with open(os.path.join(kind_dir, k, "_SOURCE_DIR")) as fh:
                src = fh.read().strip()
        except OSError:
            continue
        if not os.path.isdir(src):
            shutil.rmtree(os.path.join(kind_dir, k), ignore_errors=True)


def committed_dir(
    kind_dir: str, sf_dir: str, fp: str, write: Callable[[str], None]
) -> str:
    """`<kind_dir>/<source_key>/<fp>`, written by `write(out)` unless a
    committed copy exists. The `_DONE` marker is written last, so a
    directory without it (a process died mid-write) is never served.
    Builders of one kind are serialized across processes by a flock
    on `<kind_dir>.lock`; the marker re-check after acquisition turns
    the loser into a reader. A build first deletes this source
    directory's superseded fingerprints and the subtrees of source
    directories that are gone; other sources' copies are untouched."""
    src_dir = os.path.join(kind_dir, _source_key(sf_dir))
    out = os.path.join(src_dir, fp)
    marker = os.path.join(out, _DONE)
    if os.path.exists(marker):
        return out
    os.makedirs(os.path.dirname(kind_dir), exist_ok=True)
    with open(f"{kind_dir}.lock", "w") as lf:
        fcntl.flock(lf, fcntl.LOCK_EX)
        try:
            if not os.path.exists(marker):
                shutil.rmtree(src_dir, ignore_errors=True)
                _prune_dead_sources(kind_dir)
                os.makedirs(out, exist_ok=True)
                with open(os.path.join(src_dir, "_SOURCE_DIR"), "w") as fh:
                    fh.write(os.path.abspath(sf_dir))
                write(out)
                with open(marker, "w") as fh:
                    fh.write("ok")
        finally:
            fcntl.flock(lf, fcntl.LOCK_UN)
    return out


class _LazyFrames:
    """An artifact's frames, each materialized (respread +
    localCheckpoint) on its first `[name]` rather than at reload: a
    multi-frame kind (the graph edge store holds 4 shapes) would
    otherwise pay a job per frame its first consumer never reads.
    Repeat lookups return the identical DataFrame object. `in` and
    `keys()` never materialize. `.meta` holds the scalars persisted by
    `meta_build` ({} without one)."""

    def __init__(self, suppliers: dict, meta: dict):
        self._suppliers = suppliers
        self._frames: dict = {}
        self._locks = {n: threading.Lock() for n in suppliers}
        self.meta = meta

    def __getitem__(self, name):
        if name not in self._frames:
            with self._locks[name]:
                if name not in self._frames:
                    self._frames[name] = self._suppliers[name]()
        return self._frames[name]

    def __contains__(self, name):
        return name in self._suppliers

    def keys(self):
        return self._suppliers.keys()


def persisted_frames(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    sources: tuple[str, ...],
    build: Callable[[], dict[str, DataFrame]],
    layout: dict[str, list[str]] | None = None,
    meta_build: Callable[[dict[str, DataFrame]], dict] | None = None,
) -> _LazyFrames:
    """Serve `kind`'s artifact frames for `sf_dir`: from the session
    memo, else from the on-disk parquet layout, else build → persist →
    reload. Thread-safe: the repo runs intra-query thread pools. The
    on-disk copy is keyed by source stats + package code
    (`_fingerprint`), so any edit to the package rebuilds it.

    `meta_build(built_frames) -> dict` computes JSON-serializable
    SCALARS at build time (e.g. the graph node count), persisted in a
    `_META.json` sidecar and served as `.meta`, so consumers that need
    a count of a persisted frame don't pay a count() job per session.

    `layout` names frames that come back HASH-partitioned on the given
    columns (the graph edge frames are join-consumed keyed on src — a
    round-robin reload would re-shuffle them in every consumer);
    the value "raw" serves the plain parquet scan with no respread job,
    right for byte-tiny frames whose consumers shuffle them anyway.
    Every other frame gets a round-robin respread."""
    memo: dict = spark.__dict__.setdefault("_dws_disk_artifacts", {})
    key = (kind, sf_dir)
    if key in memo:
        return memo[key]
    with _LOCK:
        if key in memo:  # raced
            return memo[key]

        def _write(base):
            built = build()
            for name, df in built.items():
                df.write.parquet(os.path.join(base, name))
            if meta_build is not None:
                with open(os.path.join(base, "_META.json"), "w") as fh:
                    json.dump(meta_build(built), fh)

        base = committed_dir(
            os.path.join(_ROOT, kind),
            sf_dir,
            _fingerprint(sf_dir, sources),
            _write,
        )
        names = sorted(
            n for n in os.listdir(base) if os.path.isdir(os.path.join(base, n))
        )
        meta: dict = {}
        meta_path = os.path.join(base, "_META.json")
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                meta = json.load(fh)
        # The artifacts are byte-small (codebooks, codes, signatures,
        # candidate pairs), so a parquet read packs them into ~one
        # input partition and every downstream per-row stage would run
        # serially on it (measured +4.9s on embed_knn_graph at sf0.1).
        # A one-time repartition + localCheckpoint per (session, kind)
        # restores the parallel in-memory shape while the disk copy
        # keeps cold sessions build-free.
        par = spark.sparkContext.defaultParallelism

        def _respread(n):
            path = os.path.join(base, n)
            cols = (layout or {}).get(n)
            if cols == "raw":
                return spark.read.parquet(path)
            # Read each part FILE as its own relation and union them:
            # every file is a leaf scan with >= 1 map task, so the
            # respread's map side runs at the build's file count
            # instead of nearly serial (measured 2.6s vs 1.6s for the
            # 1.2M-row graph edge reload at sf0.1). Shrinking
            # spark.sql.files.maxPartitionBytes would do the same, but
            # that conf is session-global and would leak 1MB scan
            # splits into queries planning on other threads.
            parts = sorted(
                f
                for f in os.listdir(path)
                if f.startswith("part-") and f.endswith(".parquet")
            )
            if len(parts) > 1:
                # schema read ONCE from the directory: a bare per-file
                # read() infers schema per relation — N sequential
                # driver-side footer reads
                schema = spark.read.parquet(path).schema
                df = reduce(
                    DataFrame.unionByName,
                    [
                        spark.read.schema(schema).parquet(
                            os.path.join(path, f)
                        )
                        for f in parts
                    ],
                )
            else:
                df = spark.read.parquet(path)
            return df.repartition(par, *(cols or ())).localCheckpoint()

        memo[key] = _LazyFrames(
            {n: (lambda n=n: _respread(n)) for n in names}, meta
        )
        return memo[key]
