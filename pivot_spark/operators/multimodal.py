"""Multimodal column support: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side plumbing — schemas, batch iteration, partition-preserving
transforms — is real and tested. ``decode_image`` parses a
deterministic fake header (the zero-dependency test harness);
``decode_image_real`` is the genuine path: built-in real PNG decode
(chunk walk + zlib inflate + unfilter, see ``codecs.decode_png``) plus an
optional Pillow extra for JPEG/GIF/WebP — blobs Pillow would handle
yield NULL meta when it is absent, never an exception.

Scale notes: binary payloads ride the scan stage; ``mapInPandas``
transfers Arrow batches (no per-row pickling). Keep payload columns OUT
of shuffles — derive metadata early, drop the bytes before any
groupBy/join, and re-join payloads by id only when a sink needs them.
"""

from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pivot_spark.operators.neardup import hamming_pairs

# typed metadata contract for a decoded image column
IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("format", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)

FAKE_MAGIC = b"FIMG"  # deterministic fake image header: magic, w:u32, h:u32


def make_fake_image(width: F.Column, height: F.Column, payload: F.Column) -> F.Column:
    """Build a deterministic fake image binary: FIMG | w | h | payload.
    Pure Catalyst (concat of binaries) — used to fabricate multimodal
    columns from the text testdata."""
    return F.concat(
        F.lit(FAKE_MAGIC),
        _int_be(width),
        _int_be(height),
        payload,
    )


def _int_be(col: F.Column) -> F.Column:
    """4-byte big-endian encoding of an int column (Catalyst expressions)."""
    c = col.cast("long")
    return F.concat(
        *[
            _byte(F.pmod(F.shiftright(c, s), F.lit(256)))
            for s in (24, 16, 8, 0)
        ]
    )


def _byte(col: F.Column) -> F.Column:
    # char(n) yields the single byte for 0..255 via unhex of 2-hex-digit
    return F.unhex(F.lpad(F.hex(col.cast("int")), 2, "0"))


def decode_image(df: DataFrame, binary_col: str = "image") -> DataFrame:
    """Attach ``meta`` (IMAGE_META_SCHEMA) parsed from the fake header via
    Arrow-batched mapInPandas — the exact plumbing a real decoder uses;
    only the bytes->pixels step is faked."""
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != binary_col]
        + [T.StructField("meta", IMAGE_META_SCHEMA, True)]
    )
    other_cols = [f.name for f in df.schema.fields if f.name != binary_col]

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            metas = []
            for raw in pdf[binary_col]:
                if raw is None or len(raw) < 12 or bytes(raw[:4]) != FAKE_MAGIC:
                    metas.append(None)
                else:
                    w, h = struct.unpack(">II", bytes(raw[4:12]))
                    metas.append(
                        {"width": w, "height": h, "format": "fimg", "n_bytes": len(raw)}
                    )
            out = pdf[other_cols].copy()
            out["meta"] = metas
            yield out

    return df.mapInPandas(parse, out_schema)


def decode_image_real(df: DataFrame, binary_col: str = "image") -> DataFrame:
    """Real COMPRESSED image decode over Arrow batches, appending
    ``meta`` (IMAGE_META_SCHEMA; NULL when no decoder accepts the
    bytes).

    Decoder chain, per blob:

    1. **PNG — built-in, no third-party dependency**: genuine chunk
       walk + zlib inflate + scanline unfilter via
       ``codecs._png_parse`` (every integrity gate CRC/Adler-
       verified; truecolor 8-bit).
    2. **JPEG/GIF/WebP/TIFF — optional Pillow extra**: when ``PIL``
       is importable the remaining formats decode through
       ``Image.open`` inside the same kernel; when it is not (this
       container ships no Pillow), those blobs yield NULL meta — a
       capability gap surfaced in the data, never an exception mid-
       pipeline. Real UNCOMPRESSED formats need no library either
       way: ``codecs.decode_ppm`` / ``decode_bmp``.

    Same ``mapInPandas`` plumbing as ``decode_image`` (scan-stage,
    zero shuffles); the import probe runs once per Python worker, not
    per row."""
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != binary_col]
        + [T.StructField("meta", IMAGE_META_SCHEMA, True)]
    )
    other_cols = [f.name for f in df.schema.fields if f.name != binary_col]

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import io

        from pivot_spark.operators.codecs import _png_parse

        try:
            from PIL import Image as _pil_image
        except ImportError:
            _pil_image = None

        def one(raw):
            if raw is None:
                return None
            b = bytes(raw)
            p = _png_parse(b)
            if p is not None:
                return {
                    "width": p[0], "height": p[1],
                    "format": "png", "n_bytes": len(b),
                }
            if _pil_image is not None:
                try:
                    im = _pil_image.open(io.BytesIO(b))
                    im.load()
                    return {
                        "width": im.width, "height": im.height,
                        "format": (im.format or "unknown").lower(),
                        "n_bytes": len(b),
                    }
                except Exception:
                    return None
            return None

        for pdf in batches:
            out = pdf[other_cols].copy()
            out["meta"] = [one(raw) for raw in pdf[binary_col]]
            yield out

    return df.mapInPandas(parse, out_schema)


def resize_stub(df: DataFrame, binary_col: str, width: int, height: int) -> DataFrame:
    """Deterministic stand-in for image resize: re-writes the fake header
    with the new dimensions, keeps payload. Shows the binary->binary
    mapInPandas shape a real resize kernel plugs into."""
    schema = df.schema

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        for pdf in batches:
            def rewrite(raw):
                if raw is None or len(raw) < 12:
                    return raw
                return FAKE_MAGIC + struct.pack(">II", width, height) + bytes(raw[12:])

            pdf[binary_col] = pdf[binary_col].map(rewrite)
            yield pdf

    return df.mapInPandas(run, schema)


def frame_sample_stub(
    df: DataFrame, binary_col: str, every_n: int = 2
) -> DataFrame:
    """Video-frame-sampling stand-in: explodes each fake payload into
    per-"frame" rows (1 byte = 1 frame), keeping every n-th — the row
    fan-out shape of real frame extraction, minus the codec."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("frame_idx", T.IntegerType(), True),
            T.StructField("frame", T.BinaryType(), True),
        ]
    )
    cols = df.columns

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                raw = row[binary_col]
                payload = bytes(raw[12:]) if raw is not None and len(raw) > 12 else b""
                for i in range(0, len(payload), every_n):
                    rows.append(
                        {**{c: row[c] for c in cols}, "frame_idx": i, "frame": payload[i : i + 1]}
                    )
            yield pd.DataFrame(rows, columns=cols + ["frame_idx", "frame"])

    return df.mapInPandas(run, out_schema)


def ahash(
    df: DataFrame,
    binary_col: str = "image",
    out_col: str = "ahash",
    grid: int = 60,
) -> DataFrame:
    """Perceptual average-hash (aHash — the classic public image
    fingerprint: downsample, threshold each pixel against the mean,
    pack the bits) over the fake-image payload: ``grid`` "pixels" are
    the payload bytes cycled, the hash is the <=63-bit packed
    above-mean bitmap (BIGINT — stays in signed-64 range on every
    engine; default 60 matches the md5_60 SimHash convention).

    With a real codec the pixel step becomes a decode inside the same
    expression pipeline (or an Arrow batch); everything from the mean
    threshold down is unchanged. Pure scan-stage Catalyst — no shuffle,
    no Python.
    """
    if not 1 <= grid <= 63:
        raise ValueError(f"grid must be in [1, 63], got {grid}")
    raw = F.col(binary_col)
    plen = F.length(raw) - F.lit(12)  # FIMG | w:u32 | h:u32 header
    px = F.transform(
        F.sequence(F.lit(0), F.lit(grid - 1)),
        lambda i: F.conv(
            F.hex(F.substring(raw, (F.lit(13) + F.pmod(i, plen)).cast("int"), 1)),
            16,
            10,
        ).cast("long"),
    )
    staged = df.withColumn("__px", px).withColumn(
        "__mean",
        F.aggregate(F.col("__px"), F.lit(0.0), lambda a, x: a + x) / F.lit(float(grid)),
    )
    # literal shift amounts (shiftleft takes a python int), one term per
    # bit over the staged pixel array
    packed = sum(
        (
            F.when(
                F.element_at(F.col("__px"), i + 1).cast("double") > F.col("__mean"),
                F.lit(1 << i).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for i in range(grid)
        ),
        F.lit(0).cast("long"),
    )
    return staged.withColumn(out_col, packed).drop("__px", "__mean")


def ahash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    binary_col: str = "image",
    max_hamming: int = 5,
    grid: int = 60,
) -> DataFrame:
    """Near-duplicate image pairs by perceptual-hash Hamming distance:
    ``(id_a, id_b, hamming INT)`` for pairs with distance <=
    ``max_hamming`` — the ``ahash`` fingerprints through the shared
    block-permutation join ``neardup.hamming_pairs`` (pigeonhole
    candidates, exact ``bit_count(xor)`` verify inside the join). Work
    scales with block-bucket load, never n²."""
    return hamming_pairs(
        ahash(df, binary_col, grid=grid), id_col, "ahash", grid, max_hamming
    )
