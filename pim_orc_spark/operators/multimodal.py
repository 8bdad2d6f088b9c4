"""Multimodal column operators (north star: image/audio/video as opaque
binary columns + typed metadata, processed by Arrow-batched Python).

The container has no image/audio libraries, so the PIL/libvips-class
``decode_image`` entry point is a clearly-marked stub — but the decode
STAGE is not stub-only: four REAL codecs implemented here run
in-container (binary P6 PPM, 24bpp BI_RGB BMP, RIFF/WAVE PCM and
DEFLATE-compressed PNG — numpy + stdlib only), each through the full
encode → binary column → decode → features pipeline with closed-form
SQL oracles, plus the reference's own Snappy block codec
(``snappy_block_decode``) and a decode → perceptual-hash near-dup
engine (``multimodal_phash_dedup``). All of them run on ONE
per-document kernel, ``_docwise``; each codec contributes only its
payload builder, its decoder and its feature reduction. Everything
around them — the binary column schema, Arrow batch shape,
``mapInPandas`` plumbing, partition behavior — is likewise real and
oracle-checked:

- ``multimodal_features`` materializes a binary payload column (the
  UTF-8 bytes of the document text standing in for an image blob) plus
  a metadata struct, then runs an Arrow-batched ``mapInPandas`` feature
  extractor (byte length + rolling checksum). This is the exact
  pipeline shape for real decode/resize/embed stages at 100 TB:
  map-only, no shuffle, Python touched once per batch (10k rows/Arrow
  batch), output schema declared up front.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import partial
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    LongType,
    StructField,
    StructType,
)

from pim_orc_spark.catalog import load_table
from pim_orc_spark.functions.pysnappy import snappy_compress, snappy_decompress
from pim_orc_spark.operators.dedup import hamming_pairs
from pim_orc_spark.plans import spread

# Minimum rows per codec-kernel partition (r17; see plans.spread's
# rows_per_part contract): the image/audio kernels are Arrow-batched
# mapInPandas stages, usually two chained per pipeline, so each
# partition costs TWO Python-worker round trips. Measured on the
# 5000-doc fixture (identical output, interleaved min-of-6): the PNG
# encode+inflate+unfilter pipeline at 32 partitions min 0.85 s vs 8
# partitions 0.49 s - round-trip overhead dominates below ~512 rows
# per partition even for these real-codec kernels. Keyed on parquet
# footer row counts, so past 512 x parallelism rows the fan-out is
# unchanged (real corpora keep full parallelism).
MM_ROWS_PER_PART = 512


def _documents(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """The documents table (projected to ``cols`` when given), spread to
    ``MM_ROWS_PER_PART`` rows per partition: the one source every
    operator of this family scans."""
    d = load_table(spark, sf_dir, "documents")
    return spread(
        spark, d.select(*cols) if cols else d, rows_per_part=MM_ROWS_PER_PART
    )


def _pandas_dtype(field: StructField) -> Any:
    if isinstance(field.dataType, BooleanType):
        return "bool"
    return "int64" if isinstance(field.dataType, LongType) else object


def _docwise_batches(
    batches: Iterator[pd.DataFrame],
    src: str,
    fn: Callable[[Any], tuple],
    schema: StructType,
) -> Iterator[pd.DataFrame]:
    """The per-document kernel behind ``_docwise``: for each row, ``fn``
    of its ``src`` value (an ``int`` doc id or the ``bytes`` payload)
    returns the values of every ``schema`` field after ``doc_id``, in
    order. An empty batch yields an empty frame of the same dtypes."""
    conv = int if src == "doc_id" else bytes
    fields = schema.fields[1:]
    for pdf in batches:
        rows = [fn(conv(v)) for v in pdf[src]]
        cols = list(zip(*rows)) if rows else [()] * len(fields)
        out = {"doc_id": pdf["doc_id"].astype("int64").to_numpy()}
        for f, col in zip(fields, cols):
            out[f.name] = pd.Series(list(col), dtype=_pandas_dtype(f))
        yield pd.DataFrame(out)


def _docwise(
    frame: DataFrame, src: str, fn: Callable[[Any], tuple], schema: StructType
) -> DataFrame:
    """One Arrow-batched ``mapInPandas`` stage that maps each document
    of ``frame`` to one ``schema`` row: ``doc_id``, then ``fn(src)``.
    Every codec stage of this module (encode, decode + features,
    hash, Snappy round trip) is one call; the per-row Python is the
    codec itself, and the per-BYTE work stays inside numpy/zlib."""
    return frame.mapInPandas(
        partial(_docwise_batches, src=src, fn=fn, schema=schema), schema
    )


PAYLOAD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def _codec_decode(
    spark: SparkSession,
    sf_dir: str,
    payload_of: Callable[[int], bytes],
    decode: Callable[[bytes], Any],
    features: Callable[[Any], tuple],
    schema: StructType,
) -> DataFrame:
    """encode → binary column → decode → features over every document:
    ``payload_of`` builds each doc's payload through the real encoder,
    ``decode`` is the real parser, ``features`` reduces its output to
    the exact integers of ``schema``. Map-only: two chained Python
    stages, no shuffle."""
    payloads = _docwise(
        _documents(spark, sf_dir, "doc_id"),
        "doc_id",
        lambda d: (payload_of(d),),
        PAYLOAD_SCHEMA,
    )
    return _docwise(payloads, "payload", lambda p: features(decode(p)), schema)


CHECKSUM_MOD = 997

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("checksum", LongType()),
    ]
)


def decode_image(payload: bytes) -> Any:
    """Decode an image payload into (height, width, channels, pixels).

    STUB: the runtime image libraries are not available in this
    container. The Spark-side plumbing (binary column → Arrow batch →
    per-batch Python) is real; swap this body for PIL/libvips when
    deploying.
    """
    raise NotImplementedError(
        "image decoding requires an image library not present in this "
        "environment; use fake_decode for deterministic tests"
    )


def fake_decode(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for decode: (byte length, rolling
    checksum). Same arithmetic as the oracle SQL. Scalar REFERENCE form
    — the mapInPandas kernels use the vectorized ``_checksums`` fold,
    which must stay bit-identical to this."""
    acc = 0
    for b in payload:
        acc = (acc * 31 + b) % CHECKSUM_MOD
    return len(payload), acc


def _pow31(n: int) -> np.ndarray:
    """31^k mod CHECKSUM_MOD for k in [0, n): one O(max payload length)
    scalar pass per Arrow batch, amortized over every byte in it."""
    out = np.empty(max(n, 1), dtype=np.int64)
    p = 1
    for k in range(len(out)):
        out[k] = p
        p = (p * 31) % CHECKSUM_MOD
    return out


def _checksum_np(codes: np.ndarray, pows: np.ndarray) -> int:
    """Vectorized rolling checksum: fold(acc*31+b) mod m over bytes ==
    Σ b_i · 31^(n-1-i) mod m — one numpy dot per payload, no per-byte
    Python. Every term ≤ 255·(m-1) so the int64 sum is exact up to
    ~3.6e13 bytes per payload."""
    n = len(codes)
    if n == 0:
        return 0
    return int((codes * pows[n - 1 :: -1]).sum() % CHECKSUM_MOD)


def _extract_features(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: one Arrow batch in, one feature frame out.
    Per-row loop over the batch's payloads, but the per-BYTE work — the
    only part that scales with data volume — is a numpy polynomial fold
    (``_checksum_np``); a real deployment swaps that fold for the C
    decoder and keeps the same shape."""
    for pdf in batches:
        payloads = [bytes(p) for p in pdf["payload"]]
        pows = _pow31(max((len(p) for p in payloads), default=0))
        lengths = [len(p) for p in payloads]
        checks = [
            _checksum_np(np.frombuffer(p, dtype=np.uint8).astype(np.int64), pows)
            for p in payloads
        ]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_bytes": pd.Series(lengths, dtype="int64"),
                "checksum": pd.Series(checks, dtype="int64"),
            }
        )


def with_binary_payload(df: DataFrame) -> DataFrame:
    """Attach the opaque binary column + typed metadata struct — the
    canonical multimodal row layout (payload BINARY, meta STRUCT)."""
    return df.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("n_chars").alias("declared_len"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: payload → mapInPandas feature extraction.
    Map-only plan: FileScan → Project(encode) → ArrowEvalPython; scales
    linearly, no shuffle."""
    payloads = with_binary_payload(_documents(spark, sf_dir))
    return payloads.mapInPandas(_extract_features, FEATURE_SCHEMA)


def _extract_features_arrow(batches):
    """mapInArrow kernel: pyarrow RecordBatch in, RecordBatch out —
    no Arrow→pandas→Arrow conversion on either edge, and no per-cell
    Python ``bytes`` boxing either: the variable-width binary column is
    consumed as its TWO raw buffers (int32/int64 offsets + one
    contiguous data buffer) through numpy views, so the only copy is
    the uint8→int64 widening the checksum arithmetic itself needs.
    Same arithmetic as ``_extract_features``, so the two kernels are
    interchangeable and share one oracle."""
    import pyarrow as pa

    for rb in batches:
        ids = rb.column(rb.schema.get_field_index("doc_id")).cast(
            pa.int64()
        )
        arr = rb.column(rb.schema.get_field_index("payload"))
        if arr.null_count:
            # fixture payloads are non-null by construction; a null
            # here means a corrupt upstream — fail loudly, the audit
            # operator owns tolerating damage
            raise ValueError("null payload in mapInArrow feature kernel")
        off_dtype = (
            np.int64 if pa.types.is_large_binary(arr.type) else np.int32
        )
        bufs = arr.buffers()
        offsets = np.frombuffer(bufs[1], dtype=off_dtype)[
            arr.offset : arr.offset + len(arr) + 1
        ]
        data = (
            np.frombuffer(bufs[2], dtype=np.uint8)
            if bufs[2] is not None
            else np.empty(0, dtype=np.uint8)
        )
        lens = np.diff(offsets).astype(np.int64)
        pows = _pow31(int(lens.max()) if len(lens) else 0)
        checks = [
            _checksum_np(
                data[offsets[i] : offsets[i + 1]].astype(np.int64), pows
            )
            for i in range(len(arr))
        ]
        yield pa.RecordBatch.from_arrays(
            [
                ids,
                pa.array(lens, pa.int64()),
                pa.array(checks, pa.int64()),
            ],
            names=["doc_id", "n_bytes", "checksum"],
        )


def multimodal_features_arrow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Arrow-NATIVE twin of ``multimodal_features`` — the one §2.8
    cell (``mapInArrow``) the pandas kernels don't cover: the Python
    stage receives pyarrow RecordBatches directly, the lowest-overhead
    batch transport for byte-dense payload columns. Identical map-only
    plan shape and the identical oracle; a pytest also diffs it
    row-for-row against the pandas twin."""
    payloads = with_binary_payload(_documents(spark, sf_dir)).select(
        "doc_id", "payload"
    )
    return payloads.mapInArrow(_extract_features_arrow, FEATURE_SCHEMA)


# Sized so fixture documents (≤ ~600 bytes) produce several frames each;
# a video deployment would use real frame boundaries from the container
# format instead of fixed byte windows.
FRAME_BYTES = 64
FRAME_STRIDE = 2  # keep every 2nd frame

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("n_bytes", LongType()),
        StructField("checksum", LongType()),
    ]
)


def _sample_frames(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: split each payload into fixed-size frames,
    keep every FRAME_STRIDE-th, emit per-frame features. The streaming
    shape of video frame-sampling: one row in, ~len/(bytes×stride) rows
    out, all inside one Arrow batch."""
    for pdf in batches:
        pows = _pow31(FRAME_BYTES)
        doc_ids, idxs, lens, checks = [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            data = bytes(payload)
            codes = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
            n_frames = (len(data) + FRAME_BYTES - 1) // FRAME_BYTES
            for fi in range(0, n_frames, FRAME_STRIDE):
                chunk = codes[fi * FRAME_BYTES : (fi + 1) * FRAME_BYTES]
                doc_ids.append(int(doc_id))
                idxs.append(fi)
                lens.append(len(chunk))
                checks.append(_checksum_np(chunk, pows))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(doc_ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int64"),
                "n_bytes": pd.Series(lens, dtype="int64"),
                "checksum": pd.Series(checks, dtype="int64"),
            }
        )


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling pipeline over the opaque payload column: fan each
    binary blob out into strided fixed-size frames with per-frame
    features. Map-only (the fan-out happens inside the Arrow batch);
    at 100 TB the same kernel wraps a real video decoder and the
    partitioning/schema/batch shape is unchanged."""
    payloads = with_binary_payload(_documents(spark, sf_dir))
    return payloads.mapInPandas(_sample_frames, FRAME_SCHEMA)


RESIZE_FACTOR = 4  # keep every 4th byte — the decimation stand-in

RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("orig_bytes", LongType()),
        StructField("resized_bytes", LongType()),
        StructField("checksum", LongType()),
    ]
)


def _resize_payloads(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel for the resize stage: decode → transform →
    re-encode, stood in by byte decimation (every RESIZE_FACTOR-th
    byte). A real deployment swaps the body for decode_image →
    interpolate → encode; the batch shape, schema, and map-only plan
    are exactly this."""
    for pdf in batches:
        payloads = [bytes(p) for p in pdf["payload"]]
        pows = _pow31(
            max(
                (
                    (len(p) + RESIZE_FACTOR - 1) // RESIZE_FACTOR
                    for p in payloads
                ),
                default=0,
            )
        )
        ids, orig, resized, checks = [], [], [], []
        for doc_id, data in zip(pdf["doc_id"], payloads):
            small = np.frombuffer(data, dtype=np.uint8)[::RESIZE_FACTOR].astype(
                np.int64
            )
            ids.append(int(doc_id))
            orig.append(len(data))
            resized.append(len(small))
            checks.append(_checksum_np(small, pows))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "orig_bytes": pd.Series(orig, dtype="int64"),
                "resized_bytes": pd.Series(resized, dtype="int64"),
                "checksum": pd.Series(checks, dtype="int64"),
            }
        )


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize pipeline over the opaque payload column — the third stage
    of the brief's decode/feature/resize/frame-sample set. Map-only like
    its siblings: FileScan → Project(encode) → ArrowEvalPython, linear
    at any corpus size, no shuffle."""
    payloads = with_binary_payload(_documents(spark, sf_dir))
    return payloads.mapInPandas(_resize_payloads, RESIZE_SCHEMA)


def multimodal_integrity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Payload/metadata consistency audit — the validation pass a
    multimodal ingest runs before training: per origin, how many
    payloads disagree with their declared metadata length, and the
    worst absolute drift. On this fixture the correct answer is zero
    mismatches (ASCII text ⇒ byte length == declared n_chars); the
    AUDIT is the capability — a corrupted or truncated blob column
    surfaces here before a decoder segfaults an executor.

    Scale shape: pure Catalyst (length(payload) vs meta.declared_len
    — NO Python), map-side partial aggregate, |origins| output rows."""
    p = with_binary_payload(_documents(spark, sf_dir))
    drift = F.abs(
        F.length(F.col("payload")) - F.col("meta.declared_len")
    )
    return (
        p.select(F.col("meta.origin").alias("origin"), drift.alias("drift"))
        .groupBy("origin")
        .agg(
            F.count(F.lit(1)).alias("n_payloads"),
            F.sum(F.when(F.col("drift") != 0, 1).otherwise(0))
            .cast("long")
            .alias("n_mismatched"),
            F.max("drift").cast("long").alias("max_drift"),
        )
    )


# ------------------------------------------------------------------
# Real-codec path: binary PPM (netpbm P6). The container has no PIL /
# libvips (decode_image stays the documented env gate for those), but
# P6 is a real, widely-used image format whose codec needs only the
# stdlib + numpy — so the decode stage of the pipeline can be REAL
# here: a parser that validates magic/header/pixel-plane and fails
# loudly on corruption, not a checksum stand-in.

PPM_MAXVAL = 255


def _ppm_dims(doc_id: int) -> tuple[int, int]:
    """Deterministic per-doc image dimensions (varied, so the decoder's
    reshape is exercised on more than one geometry)."""
    return 8 + doc_id % 5, 6 + doc_id % 3  # (width, height)


def _ppm_pixels(doc_id: int, w: int, h: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 image: each channel an integer
    function of (doc_id, x, y) — closed-form, so the oracle recomputes
    the decoded features in SQL without ever seeing the bytes."""
    y, x = np.mgrid[0:h, 0:w]
    r = (doc_id + 3 * x + 5 * y) % 256
    g = (2 * doc_id + x * y) % 256
    b = (doc_id + x + 7 * y) % 251
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Serialize an (h, w, 3) uint8 array as a binary P6 PPM."""
    h, w, c = pixels.shape
    if c != 3:
        raise ValueError(f"P6 requires 3 channels, got {c}")
    return f"P6\n{w} {h}\n{PPM_MAXVAL}\n".encode("ascii") + pixels.tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """REAL image decode: parse a binary P6 PPM into an (h, w, 3)
    uint8 array. Full header grammar (whitespace-separated dims +
    maxval, '#' comments), strict validation — a corrupted magic,
    malformed header, unsupported maxval, or truncated pixel plane
    raises instead of returning garbage (the failure the integrity
    audit exists to catch BEFORE a decoder hits it)."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM (bad magic)")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            nl = payload.find(b"\n", pos)
            if nl < 0:
                raise ValueError("unterminated header comment")
            pos = nl + 1
            continue
        start = pos
        while pos < len(payload) and payload[pos : pos + 1].isdigit():
            pos += 1
        if start == pos:
            raise ValueError("malformed PPM header")
        vals.append(int(payload[start:pos]))
    w, h, maxval = vals
    if maxval != PPM_MAXVAL:
        raise ValueError(f"unsupported maxval {maxval} (8-bit only)")
    pos += 1  # the single whitespace byte after maxval
    pix = np.frombuffer(payload, dtype=np.uint8, offset=pos)
    if pix.size != w * h * 3:
        raise ValueError(
            f"truncated pixel plane: {pix.size} bytes for {w}x{h}x3"
        )
    return pix.reshape(h, w, 3)


PPM_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def _ppm_payload(doc_id: int) -> bytes:
    return encode_ppm(_ppm_pixels(doc_id, *_ppm_dims(doc_id)))


def _rgb_features(img: np.ndarray) -> tuple[int, ...]:
    """(width, height, sum_r, sum_g, sum_b) of a decoded (h, w, 3)
    image: exact int64 channel sums, which keep the output hash
    bit-stable. Shared by the PPM, BMP and PNG pipelines."""
    img = img.astype(np.int64)
    h, w, _ = img.shape
    return (w, h, *(int(img[:, :, c].sum()) for c in range(3)))


def multimodal_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-CODEC image pipeline: deterministic P6 PPM images are
    built through the real encoder (ingest kernel), then decoded by
    the real parser and reduced to integer channel statistics
    (feature kernel) — encode → binary column → decode → features,
    all Arrow-batched mapInPandas, map-only, no shuffle.

    The oracle never sees a byte: because every pixel is a closed-form
    integer function of (doc_id, x, y), DuckDB recomputes the channel
    sums arithmetically — equality proves the codec round-trip
    (header grammar, geometry, pixel-plane layout) end to end. This
    closes the one gap the stub decode_image left: the family's decode
    stage has now run a real image format in this container."""
    return _codec_decode(
        spark, sf_dir, _ppm_payload, decode_ppm, _rgb_features, PPM_FEATURE_SCHEMA
    )


# Third real codec: BMP (BITMAPFILEHEADER + BITMAPINFOHEADER, 24bpp
# uncompressed). Unlike PPM's trivial layout, BMP's pixel plane is
# BOTTOM-UP, BGR-ordered, with rows padded to 4-byte boundaries — the
# three layout quirks that break naive image readers in practice.

BMP_PIXEL_OFFSET = 54  # 14-byte file header + 40-byte info header


def _bmp_dims(doc_id: int) -> tuple[int, int]:
    """Width 5..10 deliberately crosses the 4-byte row boundary both
    ways (w*3 % 4 takes every value), so padding is always exercised."""
    return 5 + doc_id % 6, 4 + doc_id % 4  # (width, height)


def _bmp_pixels(doc_id: int, w: int, h: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 RGB image — closed-form integer
    functions of (doc_id, x, y), distinct from the PPM set so the two
    codecs' oracles cannot mask each other."""
    y, x = np.mgrid[0:h, 0:w]
    r = (3 * doc_id + 7 * x + y) % 256
    g = (doc_id + 11 * x + 2 * y) % 253
    b = (5 * doc_id + x + 3 * y) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Serialize an (h, w, 3) uint8 RGB array as a 24bpp BI_RGB BMP:
    bottom-up row order, BGR channel order, rows zero-padded to
    4-byte boundaries — the real on-disk layout."""
    import struct

    h, w, c = pixels.shape
    if c != 3:
        raise ValueError(f"24bpp BMP requires 3 channels, got {c}")
    pad = (4 - (w * 3) % 4) % 4
    img_size = (w * 3 + pad) * h
    file_hdr = b"BM" + struct.pack(
        "<IHHI", BMP_PIXEL_OFFSET + img_size, 0, 0, BMP_PIXEL_OFFSET
    )
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    bgr = pixels[:, :, ::-1]
    padb = b"\x00" * pad
    rows = [bgr[yy].tobytes() + padb for yy in range(h - 1, -1, -1)]
    return file_hdr + info_hdr + b"".join(rows)


def decode_bmp(payload: bytes) -> np.ndarray:
    """REAL BMP decode: parse headers, validate the invariants this
    reader supports (BI_RGB 24bpp, single plane, bottom-up), undo the
    padding / row order / channel order, return (h, w, 3) uint8 RGB.
    Corrupt magic, unsupported bpp/compression, or a truncated pixel
    plane raises instead of returning garbage."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP (bad magic)")
    if len(payload) < BMP_PIXEL_OFFSET:
        raise ValueError("truncated BMP headers")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h, planes, bpp, comp = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if hdr_size != 40 or planes != 1:
        raise ValueError("unsupported BMP header")
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={comp}")
    if h <= 0:
        raise ValueError("top-down BMP not supported by this reader")
    if w <= 0:
        raise ValueError(f"invalid BMP width {w}")
    if data_off < BMP_PIXEL_OFFSET or data_off > len(payload):
        # an offset pointing into the headers would silently decode
        # header bytes as pixels — garbage, not an error, without this
        raise ValueError(f"invalid BMP pixel-data offset {data_off}")
    pad = (4 - (w * 3) % 4) % 4
    row_bytes = w * 3 + pad
    if len(payload) < data_off + row_bytes * h:
        raise ValueError(
            f"truncated pixel plane: {len(payload) - data_off} bytes"
            f" for {w}x{h}x3 (+{pad} pad)"
        )
    plane = np.frombuffer(
        payload, dtype=np.uint8, offset=data_off, count=row_bytes * h
    ).reshape(h, row_bytes)
    bgr = plane[:, : w * 3].reshape(h, w, 3)[::-1]  # strip pad, flip
    return bgr[:, :, ::-1].copy()  # BGR → RGB


def _bmp_payload(doc_id: int) -> bytes:
    return encode_bmp(_bmp_pixels(doc_id, *_bmp_dims(doc_id)))


def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-CODEC image pipeline #2 — BMP: same encode → binary column
    → decode → integer-features dataflow as ``multimodal_ppm_decode``
    (map-only Arrow-batched mapInPandas, no shuffle), but the format
    exercises the three layout quirks PPM cannot: bottom-up row order,
    BGR channel order, and 4-byte row padding (widths 5..10 sweep
    every padding residue). The oracle recomputes the channel sums
    from the closed-form pixel functions — equality proves the decoder
    undid all three transforms exactly."""
    return _codec_decode(
        spark, sf_dir, _bmp_payload, decode_bmp, _rgb_features, PPM_FEATURE_SCHEMA
    )


# Audio analogue of the PPM path: RIFF/WAVE PCM, the uncompressed
# audio container every toolchain reads, codec = stdlib + numpy.

WAV_RATE = 8000  # Hz, fixture-sized


def _wav_n_samples(doc_id: int) -> int:
    return 64 + doc_id % 17


def _wav_samples(doc_id: int, n: int) -> np.ndarray:
    """Deterministic int16 PCM: a closed-form integer function of
    (doc_id, i) so the oracle recomputes decoded statistics in SQL."""
    i = np.arange(n, dtype=np.int64)
    return (((doc_id * 31 + i * 7) % 65536) - 32768).astype(np.int16)


def encode_wav(samples: np.ndarray, rate: int = WAV_RATE) -> bytes:
    """Serialize mono int16 PCM as a canonical RIFF/WAVE file."""
    import struct

    data = samples.astype("<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF",
        36 + len(data),
        b"WAVE",
        b"fmt ",
        16,  # PCM fmt chunk size
        1,  # audio format: PCM
        1,  # channels
        rate,
        rate * 2,  # byte rate (16-bit mono)
        2,  # block align
        16,  # bits per sample
        b"data",
        len(data),
    )
    return hdr + data


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """REAL audio decode: parse a RIFF/WAVE container into
    (sample_rate, int16 sample array). Walks the chunk list (so
    extra chunks like LIST/INFO are tolerated, per the RIFF grammar),
    validates magic, PCM format, 16-bit mono, and data-chunk length;
    raises loudly on every corruption class."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file (bad magic)")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("short fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_fmt, channels, rate, _, _, bits = fmt
    if audio_fmt != 1 or channels != 1 or bits != 16:
        raise ValueError(
            f"unsupported encoding (fmt={audio_fmt}, ch={channels}, "
            f"bits={bits}); PCM 16-bit mono only"
        )
    if len(data) % 2:
        raise ValueError("odd data-chunk length for 16-bit samples")
    return rate, np.frombuffer(data, dtype="<i2")


WAV_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_samples", LongType()),
        StructField("sum_amp", LongType()),
        StructField("max_amp", LongType()),
    ]
)


def _wav_payload(doc_id: int) -> bytes:
    return encode_wav(_wav_samples(doc_id, _wav_n_samples(doc_id)))


def _wav_features(decoded: tuple[int, np.ndarray]) -> tuple[int, ...]:
    """(sample_rate, n_samples, sum_amp, max_amp) of a decoded WAV, in
    exact int64 arithmetic."""
    rate, samples = decoded
    s = samples.astype(np.int64)
    return rate, len(s), int(s.sum()), int(np.abs(s).max()) if len(s) else 0


def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-CODEC audio pipeline — the WAV twin of
    multimodal_ppm_decode: deterministic int16 PCM waveforms are
    serialized through a real RIFF/WAVE encoder, decoded by a real
    chunk-walking parser, and reduced to exact integer statistics;
    the oracle recomputes every statistic from the closed-form sample
    function without parsing a byte. Same map-only Arrow-batched
    plan as the image path."""
    return _codec_decode(
        spark, sf_dir, _wav_payload, decode_wav, _wav_features, WAV_FEATURE_SCHEMA
    )


# Fourth real codec — and the first COMPRESSED one: PNG (8-bit RGB,
# zlib DEFLATE + per-scanline prediction filters). The reference is
# literally a block-decompression engine (dpu_decompress.c:224-300
# inflates Snappy blocks; pim_snappy.c feeds them); PPM/BMP/WAV are
# uncompressed containers, so this is the codec that exercises a real
# inflate + predictor-undo path in-container, stdlib zlib + numpy only.

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_dims(doc_id: int) -> tuple[int, int]:
    """Heights 3..6 with per-row filter type (y + doc_id) % 5: across
    the fixture every scanline filter (None/Sub/Up/Average/Paeth)
    appears many times, and widths 4..8 vary the row stride."""
    return 4 + doc_id % 5, 3 + doc_id % 4  # (width, height)


def _png_pixels(doc_id: int, w: int, h: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 RGB — closed-form integer
    functions of (doc_id, x, y), distinct from the PPM/BMP sets so the
    three image oracles cannot mask each other."""
    y, x = np.mgrid[0:h, 0:w]
    r = (7 * doc_id + 2 * x + 9 * y) % 256
    g = (3 * doc_id + 5 * x * y + 1) % 254
    b = (13 * doc_id + 4 * x + y * y) % 255
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    """One PNG chunk: length + type + body + CRC32(type || body)."""
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    """The Paeth predictor exactly as the PNG spec defines it (left,
    up, upper-left; ties prefer left, then up)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(pixels: np.ndarray, doc_id: int = 0) -> bytes:
    """Serialize an (h, w, 3) uint8 RGB array as a real PNG: IHDR
    (8-bit, color type 2, no interlace), scanlines run through the
    spec's prediction filters — row y gets filter (y + doc_id) % 5, so
    None/Sub/Up/Average/Paeth are ALL emitted — then zlib-compressed
    and split across TWO IDAT chunks (the multi-IDAT grammar real
    encoders produce), closed by IEND. Filtering is vectorized per row
    (the encoder predicts from RAW bytes, so there is no sequential
    dependence on the encode side)."""
    import struct
    import zlib

    h, w, c = pixels.shape
    if c != 3:
        raise ValueError(f"this PNG writer is RGB-only, got {c} channels")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = pixels.reshape(h, w * 3).astype(np.int32)
    zero = np.zeros(w * 3, dtype=np.int32)
    lines = []
    for y in range(h):
        cur, prior = raw[y], (raw[y - 1] if y else zero)
        left = np.concatenate([zero[:3], cur[:-3]])
        ul = np.concatenate([zero[:3], prior[:-3]])
        ftype = (y + doc_id) % 5
        if ftype == 0:
            filt = cur
        elif ftype == 1:  # Sub
            filt = cur - left
        elif ftype == 2:  # Up
            filt = cur - prior
        elif ftype == 3:  # Average
            filt = cur - (left + prior) // 2
        else:  # Paeth
            p = left + prior - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prior), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, ul)
            )
            filt = cur - pred
        lines.append(bytes([ftype]) + (filt & 0xFF).astype(np.uint8).tobytes())
    comp = zlib.compress(b"".join(lines), 6)
    half = max(1, len(comp) // 2)  # two IDATs: decoders must concatenate
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", comp[:half])
        + _png_chunk(b"IDAT", comp[half:])
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """REAL compressed-image decode: validate the 8-byte signature,
    walk the chunk list verifying EVERY chunk's CRC32, require the
    profile this reader supports (8-bit RGB, deflate, filter method 0,
    no interlace), concatenate the IDAT bodies, zlib-inflate, undo the
    per-scanline prediction filters (None/Sub/Up/Average/Paeth — the
    reconstruction is sequential in x by data dependence, exactly as
    the spec defines Recon(x) from Recon(x-3)), and return (h, w, 3)
    uint8 RGB. Every corruption class raises: bad signature, CRC
    mismatch, truncated chunk, IHDR not first, unsupported profile,
    corrupt DEFLATE stream, truncated scanlines, invalid filter type,
    missing IEND."""
    import struct
    import zlib

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, ihdr, idat, ended = 8, None, b"", False
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated chunk header")
        (size,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size or pos + 12 + size > len(payload):
            raise ValueError(f"truncated {ctype!r} chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + size)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        if ihdr is None and ctype != b"IHDR":
            raise ValueError("IHDR must be the first chunk")
        if ctype == b"IHDR":
            # a CRC-valid chunk can still be grammatically wrong: the
            # spec fixes IHDR at exactly 13 bytes and exactly one
            # occurrence — both must stay in the ValueError corruption
            # class, not leak as struct.error / silent overwrite
            if ihdr is not None:
                raise ValueError("duplicate IHDR chunk")
            if len(body) != 13:
                raise ValueError(
                    f"IHDR body must be 13 bytes, got {len(body)}"
                )
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            ended = True
            break
        pos += 12 + size
    if not ended:
        raise ValueError("missing IEND chunk")
    w, h, depth, ctype_, comp_m, filt_m, interlace = ihdr
    if (depth, ctype_, comp_m, filt_m, interlace) != (8, 2, 0, 0, 0):
        raise ValueError(
            f"unsupported PNG profile (depth={depth}, color={ctype_}, "
            f"compression={comp_m}, filter={filt_m}, interlace="
            f"{interlace}); 8-bit RGB non-interlaced only"
        )
    if w <= 0 or h <= 0:
        raise ValueError(f"invalid PNG geometry {w}x{h}")
    try:
        data = zlib.decompress(idat)
    except zlib.error as e:
        raise ValueError(f"corrupt IDAT deflate stream: {e}") from e
    stride = w * 3
    if len(data) != h * (1 + stride):
        raise ValueError(
            f"truncated scanlines: {len(data)} bytes for {w}x{h}x3"
        )
    flat = np.frombuffer(data, dtype=np.uint8).astype(np.int32)
    out = np.empty((h, stride), dtype=np.int32)
    prior = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ft = int(flat[y * (1 + stride)])
        row = flat[y * (1 + stride) + 1 : (y + 1) * (1 + stride)]
        if ft == 0:
            rec = row.copy()
        elif ft == 2:  # Up: no in-row dependence — whole-row vector add
            rec = (row + prior) & 0xFF
        elif ft in (1, 3, 4):
            rec = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                a = int(rec[i - 3]) if i >= 3 else 0
                b = int(prior[i])
                c = int(prior[i - 3]) if i >= 3 else 0
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    pred = _paeth(a, b, c)
                rec[i] = (int(row[i]) + pred) & 0xFF
        else:
            raise ValueError(f"invalid scanline filter type {ft}")
        out[y] = rec
        prior = rec
    return out.astype(np.uint8).reshape(h, w, 3)


def _png_payload(doc_id: int) -> bytes:
    return encode_png(_png_pixels(doc_id, *_png_dims(doc_id)), doc_id)


def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-CODEC image pipeline #3 — PNG, the family's first
    COMPRESSED format: the payload column holds genuine
    DEFLATE-compressed, prediction-filtered, CRC-guarded PNG files,
    and the decode kernel runs a real inflate + unfilter, the same
    decompress-then-reconstruct stage the reference's whole engine
    exists to accelerate (dpu_decompress.c:224-300's Snappy inflate).
    Same map-only Arrow-batched encode → binary column → decode →
    integer-features dataflow as the PPM/BMP/WAV paths; the oracle
    recomputes the channel sums from the closed-form pixel functions
    without parsing a byte, so equality proves signature + chunk walk
    + CRC + inflate + all five scanline unfilters end to end."""
    return _codec_decode(
        spark, sf_dir, _png_payload, decode_png, _rgb_features, PPM_FEATURE_SCHEMA
    )


# ---------------------------------------------------------------
# Perceptual-hash image dedup: the multimodal arm of the dedup
# family. A 100 TB media corpus dedupes on content HASHES of decoded
# pixels (re-encodes, metadata edits, and tiny retouches defeat
# byte-level fingerprints); the pipeline is decode → 64-bit
# average-hash → block-pigeonhole candidate join → exact Hamming
# verify — the same candidates-then-verify shape as MinHash/SimHash
# text dedup, with a REAL image decode in the loop.

PHASH_T = 6  # Hamming threshold on the 64-bit hash
PHASH_DUP_EVERY = 10  # doc i with i%10==1 near-duplicates doc i-1
PHASH_MOD = 200  # pixel channel range; +1 perturbation never wraps
PHASH_MULT = 2654435761  # Knuth mix: decorrelates per-doc coefficients
# The phash pigeonhole partition: PHASH_T + 1 = 7 disjoint 9-bit blocks,
# bit-INTERLEAVED (block i = bits {i, i+7, ..., i+56}), not contiguous.
# Bit 63 rides outside every block, which only shrinks the in-block
# difference budget. Adjacent ahash bits are adjacent 8×8 sample
# positions, so contiguous blocks inherit whole-row correlations (a
# near-constant first sample row left block 0 with 2.7 bits of corpus
# entropy and the candidate join admitting 26.4% of all pairs at 5k
# fixture-family images). Stride-7 interleave scatters each block
# across the sample grid: measured 12.4% admission on the same corpus —
# 2.1× fewer verify rows for identical output. The residual density is
# the corpus's limited total hash entropy (~6.5 bits/block), not the
# partition.
PHASH_BLOCKS = [
    " | ".join(
        f"shiftleft(shiftright(phash, {i + 7 * k}) & 1, {k})" for k in range(9)
    )
    for i in range(PHASH_T + 1)
]


PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("phash", LongType()),
    ]
)


def _phash_base(doc_id: int) -> tuple[int, int]:
    """(base image id, dup flag): every PHASH_DUP_EVERY-th doc renders
    its predecessor's image with a +1 brightness nudge on the even
    (x+y) checkerboard — a sub-1% luminance change that flips only the
    hash bits whose sample sits within half a grey level of the mean,
    planting near-dup pairs at a fixed rate."""
    dup = 1 if doc_id % PHASH_DUP_EVERY == 1 else 0
    return doc_id - dup, dup


def _phash_pixels(doc_id: int) -> np.ndarray:
    """Deterministic per-doc image with hash-MIXED gradient
    coefficients and an x·y curvature term: plain per-doc linear
    gradients threshold into a handful of half-plane bit patterns
    (measured: 32% of ALL pairs within Hamming 6 — a degenerate
    corpus), while mixed coefficients + curvature + mod-wrap sawtooth
    give each doc its own level-set geometry."""
    base, dup = _phash_base(doc_id)
    # ≥8 px per axis so the 8×8 sample grid never repeats a position:
    # at 5-10×4-7 the hash space degenerated (measured 7% of ALL pairs
    # within Hamming 6); at 9-16×8-13 the planted pairs separate
    # cleanly (all 50 at distance ≤2, zero background ≤6 in a 4k-pair
    # sample) — while still crossing the BMP 4-byte row padding both
    # ways
    w, h = 9 + base % 8, 8 + base % 6
    m = base * PHASH_MULT
    y, x = np.mgrid[0:h, 0:w]
    r = (m % 97 + (1 + m % 7) * x + (1 + m % 5) * y + (m % 17) * x * y) % PHASH_MOD
    g = (m % 89 + (1 + m % 11) * x + (1 + m % 3) * y + (m % 19) * x * y) % PHASH_MOD
    b = (m % 83 + (1 + m % 13) * x + (1 + m % 2) * y + (m % 23) * x * y) % PHASH_MOD
    p = np.stack([r, g, b], axis=-1).astype(np.int64)
    if dup:
        p = p + ((x + y) % 2 == 0)[..., None]
    return p.astype(np.uint8)


def ahash64(img: np.ndarray) -> int:
    """Subsampled average-hash of a decoded (h, w, 3) image: luminance
    (r+g+b) at the 8×8 grid positions (⌊i·w/8⌋, ⌊j·h/8⌋), bit j·8+i
    set iff the sample exceeds the 64-sample mean. The comparison is
    kept in INTEGERS (L·64 > ΣL) so the oracle reproduces every bit
    exactly; the classic mean-pooled aHash differs only in using cell
    means instead of point samples (point sampling keeps the oracle a
    closed form — the hash's robustness-to-small-edits property is the
    same, and is what the planted perturbation exercises). Returned as
    the SIGNED 64-bit value (bit 63 → negative), matching how a
    BIGINT column stores it in either engine."""
    L = img.astype(np.int64).sum(axis=2)
    h, w = L.shape
    xi = (np.arange(8) * w) // 8
    yj = (np.arange(8) * h) // 8
    s = L[np.ix_(yj, xi)]
    total = int(s.sum())
    hv = 0
    for j in range(8):
        for i in range(8):
            if int(s[j, i]) * 64 > total:
                hv |= 1 << (j * 8 + i)
    return hv - (1 << 64) if hv >= (1 << 63) else hv


def multimodal_phash_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Image near-dup pairs by perceptual hash: encode (real BMP) →
    decode (real parser) → 64-bit average-hash → block-pigeonhole
    candidates → exact Hamming ≤ PHASH_T verify.

    The candidates and the verify are ``dedup.hamming_pairs``, the
    pair kernel ``dedup_simhash_pairs`` shares, over the 7 interleaved
    9-bit blocks of ``PHASH_BLOCKS``: an equi-join on (block index,
    block value), never an all-pairs product, then one XOR+popcount.
    The oracle recomputes every hash bit arithmetically from the
    closed-form pixel functions (all-integer threshold L·64 > ΣL), so
    equality certifies decode + hash + candidate join + verify end to
    end."""
    return phash_pairs_from_ids(spark, _documents(spark, sf_dir, "doc_id"))


def phash_hashes(spark: SparkSession, ids: DataFrame) -> DataFrame:
    """Encode → decode → hash stage of ``multimodal_phash_dedup`` over
    any (doc_id) frame, MATERIALIZED (localCheckpoint): the self-join
    consumes the hash frame on BOTH sides; without a materialization
    each side re-runs the whole Python encode→decode→hash pipeline
    (the same multi-consumer trade _doc_signatures and _bitset_encode
    make). One 16-byte row per doc."""
    payloads = _docwise(
        ids, "doc_id", lambda d: (encode_bmp(_phash_pixels(d)),), PAYLOAD_SCHEMA
    )
    # REAL decode → hash: the BMP parser reconstructs the pixels
    # (bottom-up, BGR, padded rows undone) and the hash is computed from
    # the DECODED array — a corrupted decode flips hash bits and the
    # pair set against the oracle.
    return _docwise(
        payloads, "payload", lambda p: (ahash64(decode_bmp(p)),), PHASH_SCHEMA
    ).localCheckpoint()


def phash_pairs_from_ids(spark: SparkSession, ids: DataFrame) -> DataFrame:
    """The full phash engine over any (doc_id) frame — hash stage, then
    the shared Hamming-ball kernel over ``PHASH_BLOCKS``. Semantics and
    scale notes: see ``multimodal_phash_dedup``."""
    return hamming_pairs(
        phash_hashes(spark, ids), "phash", PHASH_BLOCKS, PHASH_T
    )


# ---------------------------------------------------------------
# The reference's OWN hot algorithm as a runnable, oracle-checked
# operator: Snappy block decompression (SURVEY §2.9 D1/D2 —
# previously config-mapped to Spark's ORC codec settings, now ALSO
# demonstrated as code; kernel + format notes + reference citations
# in functions/pysnappy.py, cross-validated both directions against
# snappy-java in tests).

SNAPPY_RUNS = 24  # byte-runs per synthetic payload


def _snappy_payload(doc_id: int) -> bytes:
    """Closed-form run-length stream: run i is byte (doc_id + 7i) %
    251 repeated 5 + (doc_id·(i+1) + i) % 13 times — every run ≥ 5 BY
    CONSTRUCTION so the encoder emits real COPY elements for every
    doc (a 3-byte floor left doc 0 all-literal and its
    compressed_smaller fact false), and every decompressed-stream
    fact is SQL arithmetic."""
    return b"".join(
        bytes([(doc_id + 7 * i) % 251])
        * (5 + (doc_id * (i + 1) + i) % 13)
        for i in range(SNAPPY_RUNS)
    )


def _snappy_facts(doc_id: int) -> tuple:
    """Compress → decode one doc's payload; facts of the DECODED stream
    plus whether compression shrank it."""
    raw = _snappy_payload(doc_id)
    comp = snappy_compress(raw)
    dec = snappy_decompress(comp)
    wsum = sum(p * b for p, b in enumerate(dec))
    return len(dec), sum(dec), wsum, len(comp) < len(raw)


SNAPPY_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("sum_bytes", LongType()),
        StructField("wsum", LongType()),
        StructField("compressed_smaller", BooleanType()),
    ]
)


def snappy_block_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compress → tag-stream-decode each synthetic run-length payload
    with the pure-Python Snappy block codec and reduce the DECODED
    stream to integer facts (length, byte sum, position-weighted sum —
    the last catches a copy landing at the wrong offset even when the
    byte multiset is right) plus a compression-effectiveness boolean.
    The oracle recomputes all of it arithmetically from the run
    construction — equality certifies the varint preamble, all four
    element families, and the overlapping-copy window logic end to
    end (the same loop dpu_decompress.c:224-300 runs per block).
    Map-only at any corpus size; the per-doc payload is bounded."""
    return _docwise(
        _documents(spark, sf_dir, "doc_id"), "doc_id", _snappy_facts, SNAPPY_SCHEMA
    )


def read_binary_files(
    spark: SparkSession, path: str, pattern: str = "*"
) -> DataFrame:
    """Ingest opaque media FILES via Spark's ``binaryFile`` source —
    (path, modificationTime, length, content) per file. This is how a
    100 TB image/audio corpus actually arrives (an object store of
    files, not a pre-extracted payload column); the synthesized-payload
    operators above share their decode kernels with this path, so the
    only difference is the scan. ``pathGlobFilter`` prunes at FILE
    LISTING time (non-matching files are never opened), the
    binary-source analogue of partition pruning."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(path)
    )


def multimodal_png_dir_features(
    spark: SparkSession, path: str
) -> DataFrame:
    """File-based twin of ``multimodal_png_decode``: read a DIRECTORY
    of ``doc_<id>.png`` files through the binaryFile source, recover
    the document key from the file path (the standard layout-metadata
    join every file-corpus ingest performs), and run the SAME real PNG
    decode kernel. Map-only: listing → scan → project → Arrow-batched
    decode; no shuffle at any corpus size."""
    files = read_binary_files(spark, path, "*.png")
    payloads = files.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.png$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("content").alias("payload"),
    )
    return _docwise(
        payloads,
        "payload",
        lambda p: _rgb_features(decode_png(p)),
        PPM_FEATURE_SCHEMA,
    )


QUERIES = {
    "multimodal_ppm_decode": multimodal_ppm_decode,
    "multimodal_bmp_decode": multimodal_bmp_decode,
    "multimodal_png_decode": multimodal_png_decode,
    "multimodal_wav_decode": multimodal_wav_decode,
    "multimodal_features": multimodal_features,
    "multimodal_features_arrow": multimodal_features_arrow,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_resize": multimodal_resize,
    "multimodal_integrity_audit": multimodal_integrity_audit,
    "multimodal_phash_dedup": multimodal_phash_dedup,
    "snappy_block_decode": snappy_block_decode,
}

# Fixture text is pure ASCII, so UTF-8 bytes == character codes and the
# checksum is expressible in SQL over ascii() codes; n_bytes = strlen.
ORACLES = {
    # pixel channels are closed-form integer functions of
    # (doc_id, x, y) — the oracle enumerates them arithmetically and
    # never parses a byte; equality proves the real codec round-trip
    "multimodal_ppm_decode": """
        WITH dims AS (
          SELECT doc_id,
                 8 + doc_id % 5 AS w,
                 6 + doc_id % 3 AS h
          FROM documents
        ), px AS (
          SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM dims
        ), vals AS (
          SELECT doc_id, w, h, i % w AS x, i // w AS y FROM px
        )
        SELECT doc_id,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(SUM((doc_id + 3 * x + 5 * y) % 256) AS BIGINT)
                 AS sum_r,
               CAST(SUM((2 * doc_id + x * y) % 256) AS BIGINT) AS sum_g,
               CAST(SUM((doc_id + x + 7 * y) % 251) AS BIGINT) AS sum_b
        FROM vals GROUP BY doc_id, w, h
    """,
    "multimodal_bmp_decode": """
        WITH dims AS (
          SELECT doc_id,
                 5 + doc_id % 6 AS w,
                 4 + doc_id % 4 AS h
          FROM documents
        ), px AS (
          SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM dims
        ), vals AS (
          SELECT doc_id, w, h, i % w AS x, i // w AS y FROM px
        )
        SELECT doc_id,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(SUM((3 * doc_id + 7 * x + y) % 256) AS BIGINT)
                 AS sum_r,
               CAST(SUM((doc_id + 11 * x + 2 * y) % 253) AS BIGINT)
                 AS sum_g,
               CAST(SUM((5 * doc_id + x + 3 * y) % 256) AS BIGINT)
                 AS sum_b
        FROM vals GROUP BY doc_id, w, h
    """,
    "multimodal_png_decode": """
        WITH dims AS (
          SELECT doc_id,
                 4 + doc_id % 5 AS w,
                 3 + doc_id % 4 AS h
          FROM documents
        ), px AS (
          SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM dims
        ), vals AS (
          SELECT doc_id, w, h, i % w AS x, i // w AS y FROM px
        )
        SELECT doc_id,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(SUM((7 * doc_id + 2 * x + 9 * y) % 256) AS BIGINT)
                 AS sum_r,
               CAST(SUM((3 * doc_id + 5 * x * y + 1) % 254) AS BIGINT)
                 AS sum_g,
               CAST(SUM((13 * doc_id + 4 * x + y * y) % 255) AS BIGINT)
                 AS sum_b
        FROM vals GROUP BY doc_id, w, h
    """,
    # sample values are closed-form: ((doc_id*31 + i*7) % 65536) - 32768
    "multimodal_wav_decode": f"""
        WITH dims AS (
          SELECT doc_id, 64 + doc_id % 17 AS n FROM documents
        ), sm AS (
          SELECT doc_id, n, unnest(range(0, n)) AS i FROM dims
        ), vals AS (
          SELECT doc_id, n,
                 ((doc_id * 31 + i * 7) % 65536) - 32768 AS amp
          FROM sm
        )
        SELECT doc_id,
               CAST({WAV_RATE} AS BIGINT) AS sample_rate,
               CAST(n AS BIGINT) AS n_samples,
               CAST(SUM(amp) AS BIGINT) AS sum_amp,
               CAST(MAX(abs(amp)) AS BIGINT) AS max_amp
        FROM vals GROUP BY doc_id, n
    """,
    "multimodal_integrity_audit": """
        SELECT source AS origin,
               COUNT(*) AS n_payloads,
               CAST(SUM(CASE WHEN abs(strlen(text) - n_chars) <> 0
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_mismatched,
               CAST(MAX(abs(strlen(text) - n_chars)) AS BIGINT)
                 AS max_drift
        FROM documents GROUP BY source
    """,
    "multimodal_features": f"""
        SELECT doc_id,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               CAST(CASE WHEN strlen(text) = 0 THEN 0 ELSE
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, strlen(text) + 1),
                                    i -> CAST(ascii(text[i:i]) AS BIGINT))),
                   (a, b) -> (a * 31 + b) % {CHECKSUM_MOD})
               END AS BIGINT) AS checksum
        FROM documents
    """,
    # Frames = strided fixed-size byte windows; ASCII text ⇒ substr on
    # characters == slicing bytes, so the frame checksum is the same
    # rolling hash over the chunk's character codes.
    "multimodal_frame_sample": f"""
        WITH frames AS (
          SELECT doc_id, text,
                 unnest(range(0,
                   CAST(ceil(strlen(text) / {FRAME_BYTES}.0) AS BIGINT),
                   {FRAME_STRIDE})) AS frame_idx
          FROM documents
        ), chunks AS (
          SELECT doc_id, frame_idx,
                 substr(text, frame_idx * {FRAME_BYTES} + 1,
                        {FRAME_BYTES}) AS chunk
          FROM frames
        )
        SELECT doc_id, frame_idx,
               CAST(strlen(chunk) AS BIGINT) AS n_bytes,
               CAST(CASE WHEN strlen(chunk) = 0 THEN 0 ELSE
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, strlen(chunk) + 1),
                                    i -> CAST(ascii(chunk[i:i]) AS BIGINT))),
                   (a, b) -> (a * 31 + b) % {CHECKSUM_MOD})
               END AS BIGINT) AS checksum
        FROM chunks
    """,
    # Decimated payload = characters at positions 1, 1+F, 1+2F, ...
    # (ASCII ⇒ byte positions); checksum is the same rolling hash over
    # the kept codes.
    "multimodal_resize": f"""
        WITH kept AS (
          SELECT doc_id,
                 strlen(text) AS orig_bytes,
                 list_transform(
                   range(1, strlen(text) + 1, {RESIZE_FACTOR}),
                   i -> CAST(ascii(text[i:i]) AS BIGINT)) AS codes
          FROM documents
        )
        SELECT doc_id,
               CAST(orig_bytes AS BIGINT) AS orig_bytes,
               CAST(len(codes) AS BIGINT) AS resized_bytes,
               CAST(CASE WHEN len(codes) = 0 THEN 0 ELSE
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT), codes),
                   (a, b) -> (a * 31 + b) % {CHECKSUM_MOD})
               END AS BIGINT) AS checksum
        FROM kept
    """,
}

# the Arrow-native kernel is interchangeable with the pandas one by
# construction — one oracle serves both
ORACLES["multimodal_features_arrow"] = ORACLES["multimodal_features"]

# decompressed-stream facts recomputed from the run construction:
# run i starts at the cumulative length of runs 0..i-1, so the
# position-weighted sum of a constant run v of length l starting at s
# is v·(l·s + l(l−1)/2) — all BIGINT arithmetic
ORACLES["snappy_block_decode"] = f"""
WITH runs AS (
  SELECT doc_id, i,
         (doc_id + 7 * i) % 251 AS v,
         5 + (doc_id * (i + 1) + i) % 13 AS l
  FROM documents, (SELECT unnest(range(0, {SNAPPY_RUNS})) AS i)
), pos AS (
  SELECT doc_id, v, l,
         COALESCE(SUM(l) OVER (
           PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS s
  FROM runs
)
SELECT doc_id,
       CAST(SUM(l) AS BIGINT) AS n_bytes,
       CAST(SUM(v * l) AS BIGINT) AS sum_bytes,
       CAST(SUM(v * (l * s + l * (l - 1) // 2)) AS BIGINT) AS wsum,
       TRUE AS compressed_smaller
FROM pos GROUP BY doc_id
"""

# every hash BIT is recomputed arithmetically (integer threshold
# L·64 > ΣL over the 64 closed-form grid samples), then the same
# Hamming pair relation — equality certifies decode + hash +
# candidate join + verify end to end. Bit 63 is folded in as the
# BIGINT sign term, matching the kernel's signed packing.
ORACLES["multimodal_phash_dedup"] = f"""
WITH p AS (
  SELECT doc_id,
         doc_id - CASE WHEN doc_id % {PHASH_DUP_EVERY} = 1
                       THEN 1 ELSE 0 END AS base,
         CASE WHEN doc_id % {PHASH_DUP_EVERY} = 1 THEN 1 ELSE 0 END AS dup
  FROM documents
), d AS (
  SELECT doc_id, base, dup, 9 + base % 8 AS w, 8 + base % 6 AS h FROM p
), s AS (
  SELECT doc_id, j * 8 + i AS bit,
         ((m % 97 + (1 + m % 7) * x + (1 + m % 5) * y
            + (m % 17) * x * y) % {PHASH_MOD})
           + ((m % 89 + (1 + m % 11) * x + (1 + m % 3) * y
                + (m % 19) * x * y) % {PHASH_MOD})
           + ((m % 83 + (1 + m % 13) * x + (1 + m % 2) * y
                + (m % 23) * x * y) % {PHASH_MOD})
           + 3 * dup * (CASE WHEN (x + y) % 2 = 0 THEN 1 ELSE 0 END) AS L
  FROM (
    SELECT doc_id, dup, i, j, base * {PHASH_MULT} AS m,
           (i * w) // 8 AS x, (j * h) // 8 AS y
    FROM d,
         (SELECT unnest(range(0, 8)) AS i),
         (SELECT unnest(range(0, 8)) AS j)
  )
), hb AS (
  SELECT doc_id, bit,
         CASE WHEN L * 64 > SUM(L) OVER (PARTITION BY doc_id)
              THEN 1 ELSE 0 END AS b
  FROM s
), hh AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN bit < 63
                       THEN b * (CAST(1 AS BIGINT) << bit)
                       ELSE 0 END)
              + SUM(CASE WHEN bit = 63
                         THEN b * (-9223372036854775807 - 1)
                         ELSE 0 END) AS BIGINT) AS phash
  FROM hb GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.phash, b.phash)) AS hamming
FROM hh a JOIN hh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_T}
"""
