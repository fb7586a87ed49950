"""PNG codec: make_png / make_png_deflate / decode_png.

The stored-deflate emitter must be byte-identical to a reference PNG
built with CPython's zlib at level 0, and the decoder must parse REAL
zlib-emitted files — stored or Huffman DEFLATE, split IDATs, ancillary
chunks and every scanline filter — and reject corruption with NULL
meta, never a crash.
"""

from __future__ import annotations

import binascii
import struct
import zlib

import pytest
from pyspark.sql import functions as F


def ref_png(width: int, height: int, rgb: bytes) -> bytes:
    """Reference PNG via CPython zlib level 0 (greedy stored blocks)."""
    assert len(rgb) == width * height * 3
    raw = b"".join(
        b"\x00" + rgb[r * 3 * width : (r + 1) * 3 * width]
        for r in range(height)
    )

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", binascii.crc32(typ + data))
        )

    ihdr = struct.pack(">II5B", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 0))
        + chunk(b"IEND", b"")
    )


def _payload(w: int, h: int, seed: int = 7) -> bytes:
    return bytes((i * 37 + seed) % 251 for i in range(w * h * 3))


def test_make_png_byte_identical_to_zlib_reference(spark):
    from pivot_spark.operators.codecs import make_png, png_file_size

    w, h = 6, 5
    p = _payload(w, h)
    df = spark.createDataFrame([(1, p)], "id int, p binary")
    got = df.select(make_png(w, h, F.col("p")).alias("png")).head()["png"]
    ref = ref_png(w, h, p)
    assert bytes(got) == ref
    assert len(ref) == png_file_size(w, h)


def test_decode_png_roundtrip_and_means(spark):
    from pivot_spark.operators.codecs import decode_png, make_png

    w, h = 6, 5
    p = _payload(w, h)
    df = spark.createDataFrame([(1, p)], "id int, p binary")
    img = df.select("id", make_png(w, h, F.col("p")).alias("image"))
    r = decode_png(img).head()
    assert r["meta"]["width"] == w and r["meta"]["height"] == h
    assert r["meta"]["format"] == "png"
    for c, name in enumerate(["mean_r", "mean_g", "mean_b"]):
        exp = sum(p[i * 3 + c] for i in range(w * h)) / (w * h)
        assert r[name] == pytest.approx(exp, abs=1e-9)


def test_decode_png_output_schema_has_no_internal_columns(spark):
    # Regression: the drop list once omitted __bk, leaking an internal
    # long column into every decode_png output (and clobbering any
    # pre-existing __bk column).
    from pivot_spark.operators.codecs import decode_png, make_png

    w, h = 4, 3
    p = _payload(w, h)
    df = spark.createDataFrame([(1, p)], "id int, p binary")
    img = df.select("id", make_png(w, h, F.col("p")).alias("image"))
    for means in (True, False):
        cols = decode_png(img, channel_means=means).columns
        assert not [c for c in cols if c.startswith("__")], cols


def test_decode_png_reads_real_zlib_file_multiblock(spark):
    # 150x150 RGB -> raw 67,950 bytes -> TWO stored blocks
    from pivot_spark.operators.codecs import decode_png

    w, h = 150, 150
    p = _payload(w, h, seed=3)
    blob = ref_png(w, h, p)
    assert len(zlib.decompress(zlib.compress(b"x" * 70000, 0))) == 70000
    df = spark.createDataFrame([(1, blob)], "id int, image binary")
    r = decode_png(df).head()
    assert r["meta"]["width"] == w and r["meta"]["height"] == h
    exp = sum(p[i * 3] for i in range(w * h)) / (w * h)
    assert r["mean_r"] == pytest.approx(exp, abs=1e-9)


def test_decode_png_rejects_corruption_not_crashes(spark):
    from pivot_spark.operators.codecs import decode_png

    w, h = 4, 3
    p = _payload(w, h)
    good = ref_png(w, h, p)
    # flip one pixel byte WITHOUT fixing adler/crc -> checksums fail
    bad_pixel = bytearray(good)
    bad_pixel[60] ^= 0xFF
    # lying IHDR width (with recomputed IHDR CRC, so only the
    # length/layout check can catch it)
    lying = bytearray(good)
    struct.pack_into(">I", lying, 16, 9_999_999)
    ihdr_crc = binascii.crc32(bytes(lying[12:29]))
    struct.pack_into(">I", lying, 29, ihdr_crc)
    # Huffman-compressed zlib (level 9) is honestly not decodable
    raw = b"".join(
        b"\x00" + p[r * 3 * w : (r + 1) * 3 * w] for r in range(h)
    )

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", binascii.crc32(typ + data))
        )

    huff = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">II5B", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )
    rows = [
        (1, good), (2, bytes(bad_pixel)), (3, bytes(lying)),
        (4, huff), (5, b"not a png"), (6, b""),
    ]
    df = spark.createDataFrame(rows, "id int, image binary")
    # genuine corruption rejects; the Huffman stream (row 4) is VALID:
    # decode_png really inflates it and must get the means right
    out = {r["id"]: r for r in decode_png(df).collect()}
    assert out[1]["meta"] is not None
    assert out[4]["meta"] is not None and out[4]["meta"]["width"] == w
    exp_r = sum(p[i] for i in range(0, w * h * 3, 3)) / (w * h)
    assert out[4]["mean_r"] == exp_r
    for i in (2, 3, 5, 6):
        assert out[i]["meta"] is None, f"row {i} should be rejected"
        assert out[i]["mean_r"] is None


def _rgb(w, h, seed):
    import random

    rnd = random.Random(seed)
    return bytes(rnd.randrange(256) for _ in range(w * h * 3))


def test_png_real_deflate_roundtrip_all_filters(spark):
    """make_png_deflate (forward filters r%5, zlib level 6) ->
    decode_png must reproduce exact channel means."""
    import numpy as np

    from pivot_spark.operators.codecs import decode_png, make_png_deflate

    w, h = 7, 11  # 11 rows -> every filter type 0-4 occurs twice+
    payload = _rgb(w, h, 91)
    df = spark.createDataFrame([(1, payload)], "id long, p binary")
    img = df.select("id", make_png_deflate(w, h, F.col("p")).alias("image"))
    r = decode_png(img).head()
    assert r["meta"]["width"] == w and r["meta"]["height"] == h
    px = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3).astype(np.int64)
    for c, name in enumerate(["mean_r", "mean_g", "mean_b"]):
        assert r[name] == int(px[:, c].sum()) / (w * h), name


def test_png_multi_idat_and_ancillary_chunks(spark):
    """Real-encoder layout: IDAT split across chunks + a tEXt chunk
    between IHDR and IDAT decodes; a flipped IDAT payload byte (chunk
    CRC now wrong) rejects."""
    import numpy as np

    from pivot_spark.operators.codecs import decode_png

    w, h = 5, 4
    payload = _rgb(w, h, 17)
    raw = b"".join(
        b"\x00" + payload[r * 3 * w : (r + 1) * 3 * w] for r in range(h)
    )
    z = zlib.compress(raw, 9)

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
    cut = len(z) // 2
    blob = (
        bytes.fromhex("89504E470D0A1A0A")
        + chunk(b"IHDR", ihdr)
        + chunk(b"tEXt", b"Comment\x00synthetic")
        + chunk(b"IDAT", z[:cut]) + chunk(b"IDAT", z[cut:])
        + chunk(b"IEND", b"")
    )
    bad = bytearray(blob)
    bad[len(blob) - 30] ^= 0xFF  # inside the 2nd IDAT payload
    df = spark.createDataFrame(
        [(1, blob), (2, bytes(bad))], "id long, image binary"
    )
    got = {r["id"]: r for r in decode_png(df).collect()}
    assert got[1]["meta"]["width"] == w
    px = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3).astype(np.int64)
    assert got[1]["mean_g"] == int(px[:, 1].sum()) / (w * h)
    assert got[2]["meta"] is None  # chunk CRC gate still holds
