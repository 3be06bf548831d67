"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

The container has no image/audio codecs, so the DECODE step is stubbed
(`decode_image` raises NotImplementedError; `fake_decode` is the
deterministic stand-in) — but everything Spark-side is real and tested:
the BinaryType column, the metadata struct, partition-parallel
Arrow-batched `mapInPandas` feature extraction with a stable schema, and
the oracle-checked outputs.

  multimodal_meta      payload size, md5 checksum and pixel geometry;
                       runs its DuckDB-dialect text through the dialect
                       translator (`plans/_util.register_texts`)
  multimodal_features  mapInPandas over the binary payload: per-batch
                       numpy feature extraction (byte stats + checksum),
                       verified against a DuckDB oracle that recomputes
                       the same values from the source text (payload =
                       utf-8 bytes of ascii text ⇒ codepoints ≡ bytes)

Scale notes (100 TB): payloads stay opaque bytes end-to-end — never
decoded driver-side, never collected; mapInPandas streams Arrow batches
per partition, so feature extraction parallelizes with the scan and the
output is a narrow table. For real media, replace fake_decode with the
codec call; schema/batching/partitioning are unchanged.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_wasm_spark.plans._util import register_texts, registrar
from duckdb_wasm_spark.tables import load_table

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


_q = registrar(QUERIES)


# ------------------------------------------------------------- builders
def with_assets(docs: DataFrame) -> DataFrame:
    """Attach the opaque binary payload + typed metadata struct.
    (Synthetic: payload = utf-8 bytes of the text; metadata geometry is a
    deterministic function of doc_id.)"""
    return docs.select(
        "doc_id",
        "text",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            (F.lit(16) + F.col("doc_id") % 64).cast("int").alias("width"),
            (F.lit(16) + (F.col("doc_id") * 7) % 64).cast("int").alias("height"),
            F.lit(3).alias("channels"),
            F.lit("fake/rgb8").alias("fmt"),
        ).alias("meta"),
    )


def decode_image(payload: bytes, fmt: str) -> np.ndarray:
    """Decode a binary image payload to (height, width, 3) uint8 RGB.

    REAL for the two codec-free formats — pure-numpy parsers, no image library needed:
      - ``ppm``  binary PPM (P6, maxval 255)
      - ``bmp``  24-bit uncompressed BI_RGB, BITMAPINFOHEADER

    Every other format (jpeg/png/webp/...) still raises
    NotImplementedError: those need a codec library (PIL / cv2 /
    ffmpeg) absent from this container; fake_decode remains the
    deterministic stand-in for them. The Spark-side plumbing
    (BinaryType column → mapInPandas batches → feature schema) is
    identical either way — see tests/test_operators.py::
    test_decode_ppm_through_map_in_pandas."""
    f = fmt.rsplit("/", 1)[-1].lower()
    if f == "ppm":
        return _decode_ppm(payload)
    if f == "bmp":
        return _decode_bmp(payload)
    raise NotImplementedError(
        "media decoding unavailable: no codec library in this environment; "
        f"got fmt={fmt!r}, {len(payload)} bytes"
    )


def _ppm_header_tokens(payload: bytes, n: int) -> tuple[list[int], int]:
    """First n whitespace-separated integer tokens after the magic,
    skipping '#' comments; returns (tokens, offset past the single
    whitespace byte that terminates the header)."""
    toks: list[int] = []
    i = 2  # past 'P6'
    while len(toks) < n:
        while i < len(payload) and payload[i:i + 1].isspace():
            i += 1
        if payload[i:i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j:j + 1].isspace():
            j += 1
        toks.append(int(payload[i:j]))
        i = j
    return toks, i + 1  # exactly ONE whitespace byte after maxval


def _decode_ppm(payload: bytes) -> np.ndarray:
    if payload[:2] != b"P6":
        raise ValueError(f"not a binary PPM (P6): magic={payload[:2]!r}")
    (w, h, maxval), off = _ppm_header_tokens(payload, 3)
    if maxval != 255:
        raise ValueError(f"only maxval=255 PPM supported, got {maxval}")
    need = w * h * 3
    px = np.frombuffer(payload, dtype=np.uint8, count=need, offset=off)
    return px.reshape(h, w, 3)


def _decode_bmp(payload: bytes) -> np.ndarray:
    if payload[:2] != b"BM":
        raise ValueError(f"not a BMP: magic={payload[:2]!r}")
    off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or comp != 0:
        raise ValueError(f"only 24-bit BI_RGB BMP supported: bpp={bpp} comp={comp}")
    stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=abs(h) * stride, offset=off
    ).reshape(abs(h), stride)[:, : w * 3].reshape(abs(h), w, 3)
    if h > 0:  # positive height = bottom-up row order
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR → RGB


def encode_ppm(img: np.ndarray) -> bytes:
    """Binary PPM (P6) encoder — the test-side inverse of _decode_ppm."""
    h, w = img.shape[0], img.shape[1]
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def encode_bmp(img: np.ndarray) -> bytes:
    """24-bit BI_RGB BMP encoder (bottom-up) — test-side inverse of
    _decode_bmp."""
    h, w = img.shape[0], img.shape[1]
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # RGB→BGR, flip
    pixels = body.tobytes()
    header = (
        b"BM"
        + (54 + len(pixels)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(pixels).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return header + pixels


def fake_decode(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic stand-in decoder: tile the payload bytes into a
    (height, width, 3) uint8 array — same shape contract as a real
    decoder."""
    need = width * height * 3
    buf = np.frombuffer(payload, dtype=np.uint8)
    reps = -(-need // max(len(buf), 1))
    return np.tile(buf, reps)[:need].reshape(height, width, 3)


# -------------------------------------------------------- multimodal_meta
# Metadata projection: payload byte size, the pixel geometry
# `with_assets` derives from doc_id, and an md5 checksum.
ORACLE["multimodal_meta"] = """
select doc_id,
       octet_length(encode(text)) n_bytes,
       cast(16 + doc_id % 64 as int) width,
       cast(16 + (doc_id * 7) % 64 as int) height,
       cast(16 + doc_id % 64 as int) * cast(16 + (doc_id * 7) % 64 as int)
         * 3 n_samples,
       md5(text) checksum
from documents
"""


# ---------------------------------------------------- multimodal_features
_FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, byte_sum long, mean_byte double, "
    "checksum string"
)


def _extract_features(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Arrow-batched feature extraction over the raw payload bytes.
    Stands where decode→featurize would run for real media."""
    for pdf in batches:
        n_bytes = pdf["payload"].map(len).astype("int64")
        byte_sum = pdf["payload"].map(
            lambda b: int(np.frombuffer(b, dtype=np.uint8).sum())
        ).astype("int64")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n_bytes,
                "byte_sum": byte_sum,
                "mean_byte": byte_sum.astype("float64") / n_bytes,
                "checksum": pdf["payload"].map(
                    lambda b: hashlib.md5(b).hexdigest()
                ),
            }
        )


@_q("multimodal_features")
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads via mapInPandas (the real
    multimodal hot path: Arrow batches, per-partition numpy). Oracle
    recomputes the same features from the ascii source text."""
    assets = with_assets(load_table(spark, sf_dir, "documents"))
    return assets.select("doc_id", "payload").mapInPandas(
        _extract_features, schema=_FEATURE_SCHEMA
    )


ORACLE["multimodal_features"] = """
with b as (
  select doc_id,
         octet_length(encode(text)) n_bytes,
         list_sum(list_transform(
           list_filter(string_split_regex(text, ''), c -> c != ''),
           c -> unicode(c))) byte_sum,
         md5(text) checksum
  from documents)
select doc_id, n_bytes, cast(byte_sum as bigint) byte_sum,
       cast(byte_sum as double) / n_bytes mean_byte,
       checksum
from b
"""


# --------------------------------------------------------------- resize
def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize (floor-index convention: source pixel
    (i·h)//out_h, (j·w)//out_w) — the deterministic downscale a
    thumbnail/preview pipeline runs after decode."""
    h, w = img.shape[0], img.shape[1]
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return img[ys][:, xs, :]


THUMB = 8  # 8×8×3 thumbnails


@_q("multimodal_thumbnail")
def multimodal_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → nearest-neighbor resize → thumbnail stats, the full
    image-pipeline shape (with fake_decode standing in for the codec).
    The oracle recomputes the identical tiled-byte indexing and floor
    resize arithmetic in SQL over the source text's codepoints."""
    assets = with_assets(load_table(spark, sf_dir, "documents"))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        k = THUMB * THUMB * 3
        for pdf in it:
            ids, sums = [], []
            for doc_id, payload, meta in zip(
                pdf["doc_id"], pdf["payload"], pdf["meta"]
            ):
                img = fake_decode(payload, meta["width"], meta["height"])
                thumb = resize_nearest(img, THUMB, THUMB)
                ids.append(doc_id)
                sums.append(int(thumb.sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "thumb_sum": pd.Series(sums, dtype="int64"),
                    "thumb_mean": pd.Series(
                        [s / k for s in sums], dtype="float64"
                    ),
                }
            )

    return assets.select("doc_id", "payload", "meta").mapInPandas(
        batches, "doc_id long, thumb_sum long, thumb_mean double"
    )


ORACLE["multimodal_thumbnail"] = f"""
with dims as (
  select doc_id, text,
         cast(16 + doc_id % 64 as int) w,
         cast(16 + (doc_id * 7) % 64 as int) h,
         octet_length(encode(text)) n
  from documents),
thumbs as (
  select doc_id,
         list_sum(list_transform(range(0, {THUMB * THUMB * 3}), k ->
           unicode(substr(text,
             1 + (((((k // {THUMB * 3}) * h) // {THUMB}) * w
                   + (((k // 3) % {THUMB}) * w) // {THUMB}) * 3
                  + k % 3) % n,
             1)))) s
  from dims)
select doc_id, cast(s as bigint) thumb_sum,
       cast(s as double) / {THUMB * THUMB * 3} thumb_mean
from thumbs
"""


# --------------------------------------------------------- frame sampling
FRAME_BYTES = 192  # 8×8 RGB frames
FRAME_STRIDE = 2  # keep every 2nd frame


@_q("multimodal_frames")
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a binary 'video' payload: slice the byte
    stream into fixed-size frames, keep every FRAME_STRIDE-th one, emit
    per-frame stats — the strided applier a video pipeline runs before
    per-frame featurization (one output row per sampled frame, so the
    table explodes by n_frames/stride, all partition-local)."""
    assets = with_assets(load_table(spark, sf_dir, "documents"))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, frames, sums = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = np.frombuffer(payload, dtype=np.uint8)
                n_frames = len(buf) // FRAME_BYTES
                for f in range(0, n_frames, FRAME_STRIDE):
                    ids.append(doc_id)
                    frames.append(f)
                    sums.append(
                        int(buf[f * FRAME_BYTES:(f + 1) * FRAME_BYTES].sum())
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame": pd.Series(frames, dtype="int32"),
                    "frame_sum": pd.Series(sums, dtype="int64"),
                }
            )

    return assets.select("doc_id", "payload").mapInPandas(
        batches, "doc_id long, frame int, frame_sum long"
    )


# --------------------------------------------------- decode_stats (real codecs)
DS_BASE = 8  # decode-stats geometry: w,h in [8, 15] keeps the oracle cheap


@_q("multimodal_decode_stats")
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decoder gate: synthesize a genuine
    binary PPM (even doc_ids) or 24-bit BMP (odd doc_ids) payload whose
    RGB pixels are the doc's text bytes tiled row-major, then decode it
    back through `decode_image` — the actual `_decode_ppm`/`_decode_bmp`
    parsers, not fake_decode — and emit pixel aggregates. The stats are
    deliberately ORDER-SENSITIVE: `row_wsum` weights each pixel row by
    its 1-based row index (a BMP bottom-up flip bug flips it),
    `chan_wsum` weights each channel (a BGR→RGB bug flips that), so a
    decoder that merely preserves the multiset of bytes cannot pass.
    The oracle recomputes all three sums from the text codepoints with
    the same tiling arithmetic — format-independent, because a CORRECT
    decode of either container recovers the identical RGB array.

    Scale (100 TB): encode and decode are two chained mapInPandas
    stages — partition-local Arrow batches, no shuffle, narrow output;
    swap the synthesis stage for a real media scan and the decode
    stage is unchanged."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def encode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, fmts, payloads = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                w = DS_BASE + doc_id % 8
                h = DS_BASE + (doc_id * 3) % 8
                img = fake_decode(text.encode("utf-8"), w, h)
                fmt = "ppm" if doc_id % 2 == 0 else "bmp"
                payloads.append(
                    encode_ppm(img) if fmt == "ppm" else encode_bmp(img)
                )
                ids.append(doc_id)
                fmts.append(fmt)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "fmt": fmts,
                    "payload": payloads,
                }
            )

    def decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "doc_id": [], "fmt": [], "width": [], "height": [],
                "px_sum": [], "row_wsum": [], "chan_wsum": [],
            }
            for doc_id, fmt, payload in zip(
                pdf["doc_id"], pdf["fmt"], pdf["payload"]
            ):
                img = decode_image(bytes(payload), fmt).astype(np.int64)
                h, w = img.shape[0], img.shape[1]
                out["doc_id"].append(doc_id)
                out["fmt"].append(fmt)
                out["width"].append(w)
                out["height"].append(h)
                out["px_sum"].append(int(img.sum()))
                out["row_wsum"].append(
                    int((img.sum(axis=(1, 2)) * np.arange(1, h + 1)).sum())
                )
                out["chan_wsum"].append(
                    int((img.sum(axis=(0, 1)) * np.arange(1, 4)).sum())
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "fmt": out["fmt"],
                    "width": pd.Series(out["width"], dtype="int32"),
                    "height": pd.Series(out["height"], dtype="int32"),
                    "px_sum": pd.Series(out["px_sum"], dtype="int64"),
                    "row_wsum": pd.Series(out["row_wsum"], dtype="int64"),
                    "chan_wsum": pd.Series(out["chan_wsum"], dtype="int64"),
                }
            )

    encoded = docs.mapInPandas(
        encode_batches, "doc_id long, fmt string, payload binary"
    )
    return encoded.mapInPandas(
        decode_batches,
        "doc_id long, fmt string, width int, height int, "
        "px_sum long, row_wsum long, chan_wsum long",
    )


ORACLE["multimodal_decode_stats"] = f"""
with dims as (
  select doc_id, text,
         cast({DS_BASE} + doc_id % 8 as int) w,
         cast({DS_BASE} + (doc_id * 3) % 8 as int) h,
         octet_length(encode(text)) n
  from documents),
px as (
  select doc_id, w, h,
         list_transform(range(0, w * h * 3), k ->
           unicode(substr(text, 1 + k % n, 1))) b
  from dims)
select doc_id,
       case when doc_id % 2 = 0 then 'ppm' else 'bmp' end fmt,
       w width, h height,
       cast(list_sum(b) as bigint) px_sum,
       cast(list_sum(list_transform(range(0, w * h * 3), k ->
         (1 + k // (w * 3)) * b[k + 1])) as bigint) row_wsum,
       cast(list_sum(list_transform(range(0, w * h * 3), k ->
         (1 + k % 3) * b[k + 1])) as bigint) chan_wsum
from px
"""


ORACLE["multimodal_frames"] = f"""
with docs as (
  select doc_id, text, octet_length(encode(text)) n from documents),
frames as (
  select doc_id, text, unnest(range(0, n // {FRAME_BYTES})) f
  from docs)
select doc_id, cast(f as int) frame,
       cast(list_sum(list_transform(range(0, {FRAME_BYTES}), i ->
         unicode(substr(text, 1 + f * {FRAME_BYTES} + i, 1)))) as bigint)
         frame_sum
from frames
where f % {FRAME_STRIDE} = 0
"""


register_texts(QUERIES, ORACLE)
