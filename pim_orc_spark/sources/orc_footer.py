"""Pure-Python ORC footer reader — planning metadata without py4j.

The reference's planning loop reads exactly this information
(reader.cc:104-107: ``getNumberOfStripes()`` /
``getStripe(s)->getNumberOfRows()``) before any row data moves; this
module reproduces it from the PUBLIC ORC file format specification
(https://orc.apache.org/specification/ORCv1/), so ``orc_metadata``
needs no JVM round-trip and works under Spark Connect:

    [data] [metadata] [footer] [postscript] [1-byte postscript length]

* The postscript is an UNCOMPRESSED protobuf carrying footerLength,
  compression kind, compressionBlockSize and the "ORC" magic.
* The footer is a protobuf wrapped in the file's generic compressed
  stream framing: chunks of ``3-byte little-endian header h`` where
  ``h & 1`` marks a stored-original chunk and ``h >> 1`` is the chunk
  byte length, followed by the (compressed or original) bytes.
* Footer fields used here: stripes (repeated StripeInformation, whose
  field 5 is numberOfRows), numberOfRows, rowIndexStride.

Snappy-compressed footers (the reference's codec, and this engine's
write-path parity default) are inflated by the repo's own pure-Python
block codec (``functions/pysnappy.py``) — the codec demonstrated for
D1/D2 parity here decompresses REAL ORC streams, not only synthetic
payloads. ZLIB footers use raw-deflate via ``zlib``; other codecs
raise with the kind named. Only the minimal protobuf wire format is
implemented (varint / fixed / length-delimited), keyed by the field
numbers in the public ``orc_proto.proto``.

tests/test_sources.py cross-validates every fact against the JVM ORC
reader on the same files (the pycms/pysnappy discipline).
"""

from __future__ import annotations

import os
import struct
import zlib

COMPRESSION_KINDS = ("NONE", "ZLIB", "SNAPPY", "LZO", "LZ4", "ZSTD")

# a footer + postscript for these planning fields is well under this;
# re-read happens automatically when the postscript says otherwise
_TAIL_GUESS = 256 * 1024


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = val = 0
    n = len(buf)
    while True:
        if i >= n:  # truncated tail: name the cause, never IndexError
            raise ValueError(
                f"truncated protobuf varint at offset {i} of {n} bytes"
            )
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i
        shift += 7


def _fields(buf: bytes):
    """Iterate protobuf wire fields: yields (field_no, value) where
    value is an int for varint/fixed and bytes for length-delimited."""
    i = 0
    n = len(buf)
    while i < n:
        key, i = _read_varint(buf, i)
        field, wire = key >> 3, key & 7
        if wire == 0:  # varint
            val, i = _read_varint(buf, i)
        elif wire == 1:  # fixed64
            (val,) = struct.unpack_from("<Q", buf, i)
            i += 8
        elif wire == 2:  # length-delimited
            ln, i = _read_varint(buf, i)
            if i + ln > n:  # torn/corrupt length: fail loudly, never
                #             return a silently short stripe inventory
                raise ValueError(
                    f"protobuf field {field} declares {ln} bytes with "
                    f"only {n - i} remaining"
                )
            val = buf[i : i + ln]
            i += ln
        elif wire == 5:  # fixed32
            (val,) = struct.unpack_from("<I", buf, i)
            i += 4
        else:
            raise ValueError(f"unsupported protobuf wire type {wire}")
        yield field, val


def _decode_stream(data: bytes, kind: str) -> bytes:
    """Unwrap ORC's generic compressed-stream framing (3-byte LE chunk
    headers; bit 0 = stored original) and inflate each chunk."""
    if kind == "NONE":
        return data
    out = []
    i = 0
    while i < len(data):
        if i + 3 > len(data):  # torn chunk header: fail loudly
            raise ValueError(
                f"truncated ORC stream chunk header at offset {i} of "
                f"{len(data)} bytes"
            )
        h = data[i] | (data[i + 1] << 8) | (data[i + 2] << 16)
        i += 3
        original, ln = h & 1, h >> 1
        if i + ln > len(data):
            raise ValueError(
                f"ORC stream chunk declares {ln} bytes with only "
                f"{len(data) - i} remaining"
            )
        chunk = data[i : i + ln]
        i += ln
        if original:
            out.append(chunk)
        elif kind == "SNAPPY":
            from pim_orc_spark.functions.pysnappy import snappy_decompress

            out.append(snappy_decompress(chunk))
        elif kind == "ZLIB":
            out.append(zlib.decompress(chunk, -15))  # raw deflate
        else:
            raise NotImplementedError(
                f"ORC footer compressed with {kind}; only "
                "NONE/SNAPPY/ZLIB are implemented here"
            )
    return b"".join(out)


def _read_tail_fileobj(
    fh, size: int, name: str, want_meta: bool = True
) -> tuple[dict, str, bytes, bytes]:
    """Read and split the ORC tail from any seekable binary file-like
    object of ``size`` bytes: returns (postscript fields, compression
    kind, raw footer stream, raw metadata stream). One seek-and-read
    of ``_TAIL_GUESS`` bytes covers the common case; a tail larger
    than the guess triggers exactly one re-read of the true length.

    ``want_meta=False`` is the footer-facts-only fast path: the
    re-read threshold excludes the stripe-statistics Metadata section
    (which on many-stripe files alone can exceed the guess), so such
    callers never pay a second read for bytes they ignore; ``meta_raw``
    is then whatever the first read happened to cover in full, else
    ``b""`` — never a truncated slice.

    This is the remote-deployment entry point the local-path guard in
    ``orc_io.orc_metadata`` points at: an object-storage client hands
    its open blob handle straight to the parser — the parser consumes
    bytes, never paths."""
    fh.seek(max(0, size - _TAIL_GUESS))
    tail = fh.read()
    ps_len = tail[-1]
    ps = dict()
    for field, val in _fields(tail[-1 - ps_len : -1]):
        ps.setdefault(field, val)
    magic = ps.get(8000, b"")
    if magic != b"ORC":
        raise ValueError(f"{name}: postscript magic {magic!r} != b'ORC'")
    footer_len = ps.get(1)
    if footer_len is None:
        raise ValueError(f"{name}: postscript carries no footerLength")
    meta_len = ps.get(5, 0)
    kind = COMPRESSION_KINDS[ps.get(2, 0)]
    need = (meta_len if want_meta else 0) + footer_len + ps_len + 1
    if need > len(tail):  # rare: huge footer/metadata (wide schema)
        fh.seek(size - need)
        tail = fh.read(need)
    footer_end = len(tail) - 1 - ps_len
    footer_raw = tail[footer_end - footer_len : footer_end]
    meta_start = footer_end - footer_len - meta_len
    meta_raw = (
        tail[meta_start : footer_end - footer_len] if meta_start >= 0 else b""
    )
    return ps, kind, footer_raw, meta_raw


def _read_tail(
    path: str, want_meta: bool = True
) -> tuple[dict, str, bytes, bytes]:
    """Local-filesystem wrapper over ``_read_tail_fileobj``."""
    size = os.path.getsize(path)
    with open(path, "rb") as fh:
        return _read_tail_fileobj(fh, size, path, want_meta)


def _footer_facts(ps: dict, kind: str, footer_raw: bytes, name: str) -> dict:
    footer = _decode_stream(footer_raw, kind)
    stripe_rows: list[int] = []
    num_rows = row_index_stride = 0
    for field, val in _fields(footer):
        if field == 3:  # StripeInformation; its field 5 = numberOfRows
            stripe_rows.append(
                next((v for f, v in _fields(val) if f == 5), 0)
            )
        elif field == 6:
            num_rows = val
        elif field == 8:
            row_index_stride = val
    return {
        "file": name,
        "num_stripes": len(stripe_rows),
        "stripe_rows": stripe_rows,
        "num_rows": num_rows,
        "compression": kind,
        "compression_block_size": ps.get(3, 0),
        "row_index_stride": row_index_stride,
    }


def read_orc_footer_facts(path: str) -> dict:
    """Planning facts of one ORC file, footer-only (O(footer bytes),
    no row data touched): stripe count, rows per stripe, total rows,
    compression kind, compression block size, row-index stride."""
    ps, kind, footer_raw, _ = _read_tail(path, want_meta=False)
    return _footer_facts(ps, kind, footer_raw, os.path.basename(path))


def read_orc_footer_facts_fileobj(fh, size: int, name: str = "<stream>") -> dict:
    """``read_orc_footer_facts`` over any seekable binary stream of
    ``size`` bytes — the remote-deployment path: an object-storage
    client passes its open blob handle (or a BytesIO of fetched bytes
    with ``size = len(bytes)``) and gets the identical planning facts
    with zero filesystem assumptions. Offsets are interpreted from the
    stream's start, so a partial fetch must be the object's full tail
    presented as its own stream."""
    ps, kind, footer_raw, _ = _read_tail_fileobj(fh, size, name, want_meta=False)
    return _footer_facts(ps, kind, footer_raw, name)


# ------------------------------------------------- column statistics
# The reference links the ORC Statistics API for SARG-driven stripe
# skipping (orc-parser/Makefile:37 builds against the ORC lib whose
# reader.cc:3 includes Statistics.hh); Spark's own filterPushdown
# supplies that behavior at scan time. This section completes the
# ENGINE-side introspection parity (the parquet row-group envelope
# analogue in sources/maintenance.py): file- and stripe-level min/max
# from the public orc_proto.proto messages, so a "which stripes can
# predicate X skip" report needs no JVM and no row data.

def _zigzag(v: int) -> int:
    """Decode protobuf sint (IntegerStatistics min/max/sum are sint64)."""
    return (v >> 1) ^ -(v & 1)


def _packed_varints(val) -> list[int]:
    """A repeated varint field arrives packed (wire 2, one bytes blob)
    or unpacked (wire 0, one int per occurrence) — handle both."""
    if isinstance(val, int):
        return [val]
    out, i = [], 0
    while i < len(val):
        v, i = _read_varint(val, i)
        out.append(v)
    return out


def _parse_column_stats(buf: bytes) -> dict:
    """One ColumnStatistics message → {kind, n_values, has_null, min,
    max, sum}. Typed sub-messages per orc_proto.proto: field 2
    IntegerStatistics (sint64), 3 DoubleStatistics (fixed64 doubles),
    4 StringStatistics (bytes min/max, sint64 sum of lengths), 6
    DecimalStatistics (decimal strings), 7 DateStatistics (sint32 days),
    9 TimestampStatistics (sint64 millis; fields 3/4 are the UTC pair)."""
    out = {
        "kind": None,
        "n_values": 0,
        "has_null": False,
        "min": None,
        "max": None,
        "sum": None,
    }
    for field, val in _fields(buf):
        if field == 1:
            out["n_values"] = val
        elif field == 10:
            out["has_null"] = bool(val)
        elif field == 2:  # IntegerStatistics
            out["kind"] = "int"
            for sf, sv in _fields(val):
                if sf == 1:
                    out["min"] = _zigzag(sv)
                elif sf == 2:
                    out["max"] = _zigzag(sv)
                elif sf == 3:
                    out["sum"] = _zigzag(sv)
        elif field == 3:  # DoubleStatistics (fixed64 bit patterns)
            out["kind"] = "double"
            for sf, sv in _fields(val):
                (d,) = struct.unpack("<d", struct.pack("<Q", sv))
                if sf == 1:
                    out["min"] = d
                elif sf == 2:
                    out["max"] = d
                elif sf == 3:
                    out["sum"] = d
        elif field == 4:  # StringStatistics
            out["kind"] = "string"
            for sf, sv in _fields(val):
                if sf == 1:
                    out["min"] = sv.decode("utf-8")
                elif sf == 2:
                    out["max"] = sv.decode("utf-8")
                elif sf == 3:
                    out["sum"] = _zigzag(sv)
        elif field == 6:  # DecimalStatistics (decimal strings)
            out["kind"] = "decimal"
            for sf, sv in _fields(val):
                if sf == 1:
                    out["min"] = sv.decode("ascii")
                elif sf == 2:
                    out["max"] = sv.decode("ascii")
                elif sf == 3:
                    out["sum"] = sv.decode("ascii")
        elif field == 7:  # DateStatistics (sint32 epoch days)
            out["kind"] = "date"
            for sf, sv in _fields(val):
                if sf == 1:
                    out["min"] = _zigzag(sv)
                elif sf == 2:
                    out["max"] = _zigzag(sv)
        elif field == 9:  # TimestampStatistics (millis; prefer the UTC pair)
            out["kind"] = "timestamp"
            for sf, sv in _fields(val):
                if sf in (1, 3) and (sf == 3 or out["min"] is None):
                    out["min"] = _zigzag(sv)
                elif sf in (2, 4) and (sf == 4 or out["max"] is None):
                    out["max"] = _zigzag(sv)
    return out


def _column_names(footer: bytes) -> list[str]:
    """Flattened column-id → name map from Footer.types (field 4):
    entry 0 is the root STRUCT whose (subtypes[i], fieldNames[i]) pairs
    name the top-level columns; nested children keep their flattened id
    as ``colN`` (the fixture schemas are flat)."""
    types = [v for f, v in _fields(footer) if f == 4]
    names = [f"col{i}" for i in range(len(types))]
    if not types:
        return names
    names[0] = "<root>"
    subtypes: list[int] = []
    field_names: list[str] = []
    for f, v in _fields(types[0]):
        if f == 2:
            subtypes.extend(_packed_varints(v))
        elif f == 3:
            field_names.append(v.decode("utf-8"))
    for cid, nm in zip(subtypes, field_names):
        if 0 < cid < len(names):
            names[cid] = nm
    return names


def read_orc_column_stats(path: str) -> dict:
    """File- AND stripe-level column statistics of one ORC file,
    tail-only: Footer.statistics (field 7) and the Metadata section's
    StripeStatistics (postscript field 5 locates it), each a
    ColumnStatistics list indexed by flattened column id. Returns::

        {"file": ..., "columns": [top-level names],
         "file_stats": {name: stats}, "stripe_stats": [{name: stats}]}

    Cross-validated in pytest against the JVM reader's
    ``getStatistics()`` / ``getStripeStatistics()`` on the same files."""
    ps, kind, footer_raw, meta_raw = _read_tail(path)
    return _column_stats(kind, footer_raw, meta_raw, os.path.basename(path))


def read_orc_stats_fileobj(
    fh, size: int, name: str = "<stream>"
) -> tuple[dict, dict]:
    """ONE tail read → (footer facts, column statistics): the combined
    per-object call a DISTRIBUTED footer map issues — an executor task
    (or an object-storage client) opens its handle once and gets both
    dicts, byte-identical to the path APIs' ``read_orc_footer_facts`` /
    ``read_orc_column_stats`` pair (equality pytest-asserted). This is
    the 100 TB form of ``orc_io.orc_stats_skipping``'s driver loop: a
    map over the file listing, O(footer bytes) per task, no per-file
    driver I/O."""
    ps, kind, footer_raw, meta_raw = _read_tail_fileobj(fh, size, name)
    return (
        _footer_facts(ps, kind, footer_raw, name),
        _column_stats(kind, footer_raw, meta_raw, name),
    )


def _column_stats(kind: str, footer_raw: bytes, meta_raw: bytes, name: str) -> dict:
    footer = _decode_stream(footer_raw, kind)
    names = _column_names(footer)
    file_raw = [v for f, v in _fields(footer) if f == 7]
    file_stats = {
        names[i] if i < len(names) else f"col{i}": _parse_column_stats(b)
        for i, b in enumerate(file_raw)
    }
    stripe_stats: list[dict] = []
    if meta_raw:
        meta = _decode_stream(meta_raw, kind)
        for f, v in _fields(meta):
            if f != 1:  # Metadata.stripeStats
                continue
            cols = [sv for sf, sv in _fields(v) if sf == 1]
            stripe_stats.append(
                {
                    names[i] if i < len(names) else f"col{i}":
                        _parse_column_stats(b)
                    for i, b in enumerate(cols)
                }
            )
    return {
        "file": name,
        "columns": names[1:],
        "file_stats": file_stats,
        "stripe_stats": stripe_stats,
    }


def skippable_stripes(
    path: str, column: str, lower=None, upper=None
) -> list[dict]:
    """Per-stripe SARG skip report for ``lower <= column <= upper``
    (either bound may be None): a stripe is skippable when its
    [min, max] envelope PROVES no row can match — min > upper or
    max < lower — the engine-side analogue of what the reference gets
    from the linked ORC Statistics API. Decimal stats compare as
    ``decimal.Decimal`` (the spec stores them as strings). A stripe
    with no envelope (e.g. all-null) is conservatively NOT skippable."""
    from decimal import Decimal

    facts = read_orc_footer_facts(path)
    stats = read_orc_column_stats(path)
    out = []
    for i, ss in enumerate(stats["stripe_stats"]):
        cs = ss.get(column)
        if cs is None:
            raise ValueError(
                f"{path}: no statistics for column {column!r}; "
                f"have {sorted(stats['columns'])}"
            )
        lo, hi = cs["min"], cs["max"]
        if cs["kind"] == "decimal":
            lo = Decimal(lo) if lo is not None else None
            hi = Decimal(hi) if hi is not None else None
        skip = False
        if lo is not None and upper is not None and lo > upper:
            skip = True
        if hi is not None and lower is not None and hi < lower:
            skip = True
        out.append(
            {
                "stripe": i,
                "rows": facts["stripe_rows"][i]
                if i < len(facts["stripe_rows"])
                else None,
                "min": cs["min"],
                "max": cs["max"],
                "skippable": skip,
            }
        )
    return out
