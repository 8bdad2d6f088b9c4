from __future__ import annotations

import pytest

from pim_orc_spark.operators import multimodal
from pim_orc_spark.oracle import compare


@pytest.mark.parametrize("name", sorted(multimodal.QUERIES))
def test_multimodal_matches_oracle(spark, sf_dir, name):
    """EVERY multimodal query vs its oracle — the PYTEST_ONLY demotion
    contract ('tests/ still runs each against its oracle every round')
    requires the full parametrization, not just the features op
    (round-5 fix: frame_sample/resize previously had no pytest oracle
    row, only their driver attestation)."""
    assert name in multimodal.ORACLES, f"{name} is missing its oracle SQL"
    df = multimodal.QUERIES[name](spark, sf_dir)
    ok, msg = compare(df, multimodal.ORACLES[name], sf_dir)
    assert ok, f"{name}: {msg}"


def test_binary_payload_schema(spark, sf_dir):
    from pim_orc_spark.catalog import load_table

    d = multimodal.with_binary_payload(load_table(spark, sf_dir, "documents"))
    types = dict(d.dtypes)
    assert types["payload"] == "binary"
    assert types["meta"].startswith("struct<mime:string,declared_len:bigint")


def test_decode_image_is_stub():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")


def test_vectorized_checksum_matches_scalar_reference():
    """The numpy polynomial fold the kernels use must stay bit-identical
    to the scalar fake_decode fold (which is what the SQL oracle
    models), including empty and length-1 payloads."""
    import numpy as np

    payloads = [b"", b"\x00", b"a", b"hello world", bytes(range(256)) * 7]
    pows = multimodal._pow31(max(len(p) for p in payloads))
    for p in payloads:
        codes = np.frombuffer(p, dtype=np.uint8).astype(np.int64)
        assert multimodal._checksum_np(codes, pows) == multimodal.fake_decode(p)[1]


def test_ppm_codec_roundtrip_and_validation():
    """The P6 codec is REAL: encode→decode round-trips pixels exactly
    (including a header comment, which the grammar must skip), and
    every corruption class fails loudly — bad magic, malformed
    header, unsupported maxval, truncated pixel plane."""
    import numpy as np
    import pytest as pt

    from pim_orc_spark.operators.multimodal import (
        _ppm_dims,
        _ppm_pixels,
        decode_ppm,
        encode_ppm,
    )

    for doc_id in (0, 7, 123):
        w, h = _ppm_dims(doc_id)
        img = _ppm_pixels(doc_id, w, h)
        assert np.array_equal(decode_ppm(encode_ppm(img)), img)

    img = _ppm_pixels(5, *_ppm_dims(5))
    payload = encode_ppm(img)
    # header comments are part of the netpbm grammar
    w, h = _ppm_dims(5)
    commented = (
        f"P6\n# synthetic fixture\n{w} {h}\n255\n".encode()
        + img.tobytes()
    )
    assert np.array_equal(decode_ppm(commented), img)

    with pt.raises(ValueError, match="magic"):
        decode_ppm(b"P5" + payload[2:])
    with pt.raises(ValueError, match="malformed|header"):
        decode_ppm(b"P6\nxx yy\n255\n" + img.tobytes())
    with pt.raises(ValueError, match="maxval"):
        decode_ppm(encode_ppm(img).replace(b"\n255\n", b"\n65535\n", 1))
    with pt.raises(ValueError, match="truncated"):
        decode_ppm(payload[:-5])


def test_wav_codec_roundtrip_and_validation():
    """RIFF/WAVE codec: round-trip exactness (including an extra LIST
    chunk, which the chunk walker must skip per the RIFF grammar) and
    loud failures on bad magic, non-PCM format, truncated data."""
    import struct

    import numpy as np
    import pytest as pt

    from pim_orc_spark.operators.multimodal import (
        WAV_RATE,
        _wav_n_samples,
        _wav_samples,
        decode_wav,
        encode_wav,
    )

    for doc_id in (0, 3, 99):
        s = _wav_samples(doc_id, _wav_n_samples(doc_id))
        rate, back = decode_wav(encode_wav(s))
        assert rate == WAV_RATE and np.array_equal(back, s)

    s = _wav_samples(11, 70)
    payload = encode_wav(s)
    # splice an odd-sized LIST chunk between fmt and data (word-aligned
    # with a pad byte, per RIFF) — the decoder must skip it
    head, data_chunk = payload[:36], payload[36:]
    extra = struct.pack("<4sI", b"LIST", 5) + b"INFOx" + b"\x00"
    rate, back = decode_wav(head + extra + data_chunk)
    assert np.array_equal(back, s)

    with pt.raises(ValueError, match="magic"):
        decode_wav(b"RIFX" + payload[4:])
    with pt.raises(ValueError, match="unsupported"):
        bad = bytearray(payload)
        bad[20] = 3  # audio format: IEEE float
        decode_wav(bytes(bad))
    with pt.raises(ValueError, match="truncated"):
        decode_wav(payload[:-3])


def test_png_codec_roundtrip_and_validation():
    """The PNG codec is REAL and COMPRESSED: encode→decode round-trips
    pixels exactly through zlib DEFLATE + every scanline filter
    (heights 3..6 with filter (y+doc_id)%5 cover None/Sub/Up/Average/
    Paeth across doc_ids), and each corruption class fails loudly —
    bad signature, CRC mismatch, corrupt deflate stream, truncated
    scanlines, unsupported profile, IHDR not first, missing IEND,
    invalid filter type."""
    import struct
    import zlib

    import numpy as np
    import pytest as pt

    from pim_orc_spark.operators.multimodal import (
        PNG_SIG,
        _png_chunk,
        _png_dims,
        _png_pixels,
        decode_png,
        encode_png,
    )

    filters_seen = set()
    for doc_id in range(20):  # covers all (w, h, filter-phase) combos
        w, h = _png_dims(doc_id)
        filters_seen |= {(y + doc_id) % 5 for y in range(h)}
        img = _png_pixels(doc_id, w, h)
        assert np.array_equal(decode_png(encode_png(img, doc_id)), img)
    assert filters_seen == {0, 1, 2, 3, 4}  # every spec filter ran

    img = _png_pixels(3, *_png_dims(3))
    payload = encode_png(img, 3)
    with pt.raises(ValueError, match="signature"):
        decode_png(b"XXXXXXXX" + payload[8:])
    flipped = bytearray(payload)
    flipped[20] ^= 0xFF  # a byte inside IHDR's body
    with pt.raises(ValueError, match="CRC mismatch"):
        decode_png(bytes(flipped))
    # corrupt the DEFLATE stream but FIX the chunk CRC, so the error
    # must come from inflate, not the CRC gate
    idat_at = payload.index(b"IDAT") - 4
    (size,) = struct.unpack_from(">I", payload, idat_at)
    body = bytearray(payload[idat_at + 8 : idat_at + 8 + size])
    body[min(4, size - 1)] ^= 0xFF
    rebuilt = (
        payload[:idat_at]
        + _png_chunk(b"IDAT", bytes(body))
        + payload[idat_at + 12 + size :]
    )
    with pt.raises(ValueError, match="deflate|scanline"):
        decode_png(rebuilt)
    # truncated scanlines: valid zlib of too-few bytes
    short = zlib.compress(b"\x00" * 10)
    half = max(1, len(short) // 2)
    trunc = (
        PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", short[:half])
        + _png_chunk(b"IDAT", short[half:])
        + _png_chunk(b"IEND", b"")
    )
    with pt.raises(ValueError, match="truncated scanlines"):
        decode_png(trunc)
    # unsupported profile: 16-bit depth
    deep = (
        PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 16, 2, 0, 0, 0))
        + _png_chunk(b"IEND", b"")
    )
    with pt.raises(ValueError, match="unsupported PNG profile"):
        decode_png(deep)
    # IHDR must be first
    swapped = PNG_SIG + _png_chunk(b"IDAT", b"") + payload[8:]
    with pt.raises(ValueError, match="IHDR must be the first"):
        decode_png(swapped)
    # IHDR grammar: a CRC-valid but wrong-length body must raise the
    # documented ValueError, not struct.error
    shortihdr = (
        PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBB", 4, 3, 8, 2, 0, 0))
        + _png_chunk(b"IEND", b"")
    )
    with pt.raises(ValueError, match="IHDR body must be 13"):
        decode_png(shortihdr)
    # exactly one IHDR: a duplicate must not silently win
    ihdr_chunk = _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 2, 0, 0, 0)
    )
    doubled = PNG_SIG + ihdr_chunk + ihdr_chunk + payload[8 + 25 :]
    with pt.raises(ValueError, match="duplicate IHDR"):
        decode_png(doubled)
    # missing IEND
    iend_at = payload.index(b"IEND") - 4
    with pt.raises(ValueError, match="missing IEND"):
        decode_png(payload[:iend_at])
    # invalid filter type: rebuild a 1-row image whose filter byte is 9
    badf = zlib.compress(b"\x09" + b"\x00" * 12)
    badpng = (
        PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 1, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", badf)
        + _png_chunk(b"IEND", b"")
    )
    with pt.raises(ValueError, match="invalid scanline filter"):
        decode_png(badpng)


def test_bmp_codec_roundtrip_and_validation():
    """The BMP codec is REAL: encode→decode round-trips pixels exactly
    across every row-padding residue (widths 5..10 sweep w*3 % 4), and
    each corruption class fails loudly — bad magic, truncated headers,
    unsupported bpp/compression, top-down height, truncated plane."""
    import struct

    import numpy as np
    import pytest as pt

    from pim_orc_spark.operators.multimodal import (
        _bmp_dims,
        _bmp_pixels,
        decode_bmp,
        encode_bmp,
    )

    for doc_id in range(12):  # covers all (w, h) residue combinations
        w, h = _bmp_dims(doc_id)
        img = _bmp_pixels(doc_id, w, h)
        assert np.array_equal(decode_bmp(encode_bmp(img)), img), (w, h)

    img = _bmp_pixels(3, *_bmp_dims(3))
    payload = encode_bmp(img)
    with pt.raises(ValueError, match="magic"):
        decode_bmp(b"XX" + payload[2:])
    with pt.raises(ValueError, match="truncated BMP headers"):
        decode_bmp(payload[:20])
    bad_bpp = bytearray(payload)
    struct.pack_into("<H", bad_bpp, 28, 32)  # bpp field
    with pt.raises(ValueError, match="bpp=32"):
        decode_bmp(bytes(bad_bpp))
    top_down = bytearray(payload)
    w, h = _bmp_dims(3)
    struct.pack_into("<i", top_down, 22, -h)  # negative height
    with pt.raises(ValueError, match="top-down"):
        decode_bmp(bytes(top_down))
    with pt.raises(ValueError, match="truncated pixel plane"):
        decode_bmp(payload[:-3])
    bad_off = bytearray(payload)
    struct.pack_into("<I", bad_off, 10, 2)  # offset into the headers
    with pt.raises(ValueError, match="offset"):
        decode_bmp(bytes(bad_off))
    bad_w = bytearray(payload)
    struct.pack_into("<i", bad_w, 18, 0)  # zero width
    with pt.raises(ValueError, match="width"):
        decode_bmp(bytes(bad_w))


def test_binary_file_source_decodes_png_directory(spark, tmp_path):
    """The binaryFile source path: a directory of real .png files (plus
    a decoy the glob must never open) reads back through the SAME
    decode kernel as the column-synthesized pipeline, keyed by the
    doc id recovered from each file path. Features must equal the
    closed-form pixel sums, and the plan must be map-only."""
    import numpy as np

    from pim_orc_spark.operators.multimodal import (
        _png_dims,
        _png_pixels,
        encode_png,
        multimodal_png_dir_features,
    )

    expected = {}
    for doc_id in range(24):
        w, h = _png_dims(doc_id)
        img = _png_pixels(doc_id, w, h)
        (tmp_path / f"doc_{doc_id}.png").write_bytes(encode_png(img, doc_id))
        px = img.astype(np.int64)
        expected[doc_id] = (
            w, h,
            int(px[:, :, 0].sum()),
            int(px[:, :, 1].sum()),
            int(px[:, :, 2].sum()),
        )
    # a decoy file the *.png glob must prune at LISTING time — if it
    # were opened, the decoder would raise on the bad signature
    (tmp_path / "doc_9999.txt").write_bytes(b"not a png")

    df = multimodal_png_dir_features(spark, str(tmp_path))
    got = {
        r["doc_id"]: (r["width"], r["height"], r["sum_r"], r["sum_g"], r["sum_b"])
        for r in df.collect()
    }
    assert got == expected

    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in plan, plan[:1500]
    assert "Join" not in plan, plan[:1500]


def test_png_roundtrip_property():
    """Property: decode(encode(img, phase)) == img for ARBITRARY pixel
    content (not just the closed-form fixture functions) across every
    geometry and filter phase — worst cases for the predictors
    (all-0x00, all-0xFF, high-contrast noise) included by the byte
    strategy's full range. This is the codec contract independent of
    what the operator happens to encode."""
    import numpy as np
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pim_orc_spark.operators.multimodal import decode_png, encode_png

    @settings(
        max_examples=40,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        w=st.integers(min_value=1, max_value=12),
        h=st.integers(min_value=1, max_value=10),
        phase=st.integers(min_value=0, max_value=4),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        flavor=st.sampled_from(["noise", "zeros", "max", "gradient"]),
    )
    def check(w, h, phase, seed, flavor):
        if flavor == "noise":
            rng = np.random.default_rng(seed)
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        elif flavor == "zeros":
            img = np.zeros((h, w, 3), dtype=np.uint8)
        elif flavor == "max":
            img = np.full((h, w, 3), 255, dtype=np.uint8)
        else:
            y, x = np.mgrid[0:h, 0:w]
            img = (
                np.stack([x * 29, y * 37, x * y * 13], axis=-1) % 256
            ).astype(np.uint8)
        assert np.array_equal(decode_png(encode_png(img, phase)), img)

    check()


def test_arrow_kernel_matches_pandas_kernel(spark, sf_dir):
    """The mapInArrow feature kernel must be row-for-row identical to
    the mapInPandas twin (they share the oracle, but this diffs the
    two Python transports against each other directly)."""
    a = sorted(
        map(tuple, multimodal.multimodal_features(spark, sf_dir).collect())
    )
    b = sorted(
        map(
            tuple,
            multimodal.multimodal_features_arrow(spark, sf_dir).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_phash_dedup_finds_planted_near_dups(spark, sf_dir):
    """The perceptual-hash dedup must (a) recover EVERY planted
    near-dup pair (the +1-checkerboard retouch lands within Hamming
    PHASH_T — measured ≤2), and (b) discriminate: background pairs
    admitted stay a tiny fraction of the pair universe (the hash is a
    content fingerprint, not a bucket lottery)."""
    from pim_orc_spark.catalog import load_table
    from pim_orc_spark.operators.multimodal import (
        PHASH_DUP_EVERY,
        multimodal_phash_dedup,
    )

    n = load_table(spark, sf_dir, "documents").count()
    rows = multimodal_phash_dedup(spark, sf_dir).collect()
    found = {(r.doc_a, r.doc_b) for r in rows}
    planted = {
        (i - 1, i) for i in range(1, n) if i % PHASH_DUP_EVERY == 1
    }
    assert planted <= found, planted - found
    assert len(found - planted) <= 0.01 * (n * (n - 1) / 2)


CODEC_OPERATORS = (
    "multimodal_ppm_decode",
    "multimodal_bmp_decode",
    "multimodal_png_decode",
    "multimodal_wav_decode",
    "multimodal_phash_dedup",
    "snappy_block_decode",
)


def test_codec_operators_on_empty_input(spark, sf_dir, tmp_path):
    """The shared per-document kernel on empty input: every codec
    operator over an empty documents table (doc_id < 0) returns 0 rows
    with the schema it declares on the full table — snappy's boolean
    column and pHash's pair frame included — and the kernel maps an
    empty Arrow batch to an empty frame of the declared dtypes."""
    import pandas as pd

    from pim_orc_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").where("doc_id < 0")
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    for name in CODEC_OPERATORS:
        fn = multimodal.QUERIES[name]
        empty = fn(spark, str(tmp_path))
        assert empty.schema == fn(spark, sf_dir).schema, name
        assert empty.collect() == [], name
    hashes = multimodal.phash_hashes(spark, docs.select("doc_id"))
    assert hashes.schema == multimodal.PHASH_SCHEMA
    assert hashes.count() == 0

    batch = pd.DataFrame({"doc_id": pd.Series([], dtype="int64")})
    (out,) = multimodal._docwise_batches(
        iter([batch]), "doc_id", multimodal._snappy_facts, multimodal.SNAPPY_SCHEMA
    )
    assert list(out.columns) == multimodal.SNAPPY_SCHEMA.fieldNames()
    assert len(out) == 0
    assert [str(t) for t in out.dtypes] == ["int64"] * 4 + ["bool"]


def test_ahash_is_robust_to_small_retouch_and_sensitive_to_content():
    """Kernel-level contract of the perceptual hash, no Spark: a
    ±1-luminance checkerboard retouch moves the hash ≤ PHASH_T bits;
    a different image's hash is far away."""
    import numpy as np

    from pim_orc_spark.operators.multimodal import (
        PHASH_T,
        _phash_pixels,
        ahash64,
    )

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    base = ahash64(_phash_pixels(0))
    retouched = ahash64(_phash_pixels(1))  # doc 1 = doc 0 + retouch
    other = ahash64(_phash_pixels(2))
    assert ham(base, retouched) <= PHASH_T
    assert ham(base, other) > PHASH_T
    # and the hash survives its own BMP round-trip
    from pim_orc_spark.operators.multimodal import decode_bmp, encode_bmp

    img = _phash_pixels(7)
    assert ahash64(decode_bmp(encode_bmp(img))) == ahash64(img)


def test_pysnappy_cross_validates_against_snappy_java(spark):
    """The pure-Python Snappy block codec must interoperate BOTH ways
    with an independent implementation (the JVM's snappy-java on
    Spark's classpath): this decoder decodes snappy-java's output, and
    snappy-java decodes this encoder's — so the two implementations
    can't share a mirrored bug. Cases cover empty input, incompressible
    random bytes (pure literals), long single-byte runs (overlapping
    offset-1 copies), text with long-range matches, and the operator's
    own payload construction."""
    import random

    from pim_orc_spark.functions.pysnappy import (
        snappy_compress,
        snappy_decompress,
    )
    from pim_orc_spark.operators.multimodal import _snappy_payload

    rng = random.Random(3)
    cases = [
        b"",
        b"a",
        b"ab" * 40,
        bytes([7]) * 1000,
        bytes(rng.randrange(256) for _ in range(5000)),
        (b"hello world " * 50) + bytes([0]) * 300 + b"tail",
        _snappy_payload(0),
        _snappy_payload(123),
    ]
    jsnappy = spark._jvm.org.xerial.snappy.Snappy
    for c in cases:
        assert snappy_decompress(bytes(jsnappy.compress(c))) == c
        assert bytes(jsnappy.uncompress(snappy_compress(c))) == c
        assert snappy_decompress(snappy_compress(c)) == c


def test_pysnappy_rejects_corrupt_streams():
    """Strictness contract: truncation and bad offsets raise named
    errors instead of returning garbage (the same validation posture
    as the image codecs)."""
    import pytest as _pytest

    from pim_orc_spark.functions.pysnappy import (
        snappy_compress,
        snappy_decompress,
        varint_decode,
        varint_encode,
    )

    good = snappy_compress(b"hello hello hello hello hello!")
    with _pytest.raises(ValueError, match="truncated|mismatch"):
        snappy_decompress(good[:-2])  # truncated element
    with _pytest.raises(ValueError, match="declared"):
        snappy_decompress(varint_encode(999) + good[1:])  # wrong preamble
    with _pytest.raises(ValueError, match="offset"):
        # copy before any history: tag copy-2 len 4 offset 9
        snappy_decompress(
            varint_encode(4) + bytes([(3 << 2) | 2, 9, 0])
        )
    with _pytest.raises(ValueError, match="varint"):
        snappy_decompress(b"\xff\xff\xff\xff\xff\xff")
    with _pytest.raises(ValueError, match="truncated varint"):
        snappy_decompress(b"\x80")
    assert varint_decode(varint_encode(123456789))[0] == 123456789
