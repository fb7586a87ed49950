"""Real media codecs (PPM, PGM, BMP, WAV, PNG), no media library needed.

Formats: P6 PPM, P5 PGM, 24-bit uncompressed BMP, canonical PCM-16 WAV
and truecolor 8-bit PNG. Two kinds of code live here:

* **File emitters and header parses in Catalyst.** ``make_ppm`` /
  ``make_bmp`` / ``make_wav`` / ``make_png`` fabricate REAL files from
  testdata columns, so every decoder is oracle-checkable end to end:
  DuckDB replays the same bytes from the source text. ``sniff_media``,
  ``ppm_resize_nn`` and ``ppm_crop`` need only header fields and byte
  slices, so they stay scan-stage expressions over ``_pnm_header`` /
  ``_bmp_header`` / ``_wav_header``.
* **Pixel and sample work in Arrow ``mapInPandas`` kernels.** The
  decoders (``decode_*``), the audio features and transforms
  (``wav_*``, ``audio_fingerprint``) and the image screens and
  transforms (``ppm_*``, ``pgm_equalize``, ``pgm_binarize_otsu``)
  decode a whole Arrow batch per Python call with ``np.frombuffer``
  views. Plan shape: one ``MapInPandas`` node over the scan, zero
  shuffles. The arithmetic is exact integer (BIGINT sums, integer
  half-up rounding, one final float division), so the oracles match
  cell for cell at any payload size.

Poison-pill safety: every parse checks the header against the physical
length (``_pnm_parse``, ``_bmp_parse``, ``_wav_parse``, ``_png_parse``
and their Catalyst twins), so a malformed blob yields NULL output,
never a crashed job or a loop sized by a lying header.
"""

from __future__ import annotations

import binascii
import math
import re
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _u8h(hx: Column, pos: Column) -> Column:
    """Byte value at 1-based byte position ``pos``, reading from a
    pre-computed ``hex(raw)`` string. Higher-order-function lambdas are
    interpreted (no whole-stage codegen), so per-element cost matters:
    hexing the blob ONCE per row and slicing the string is ~2-3x
    cheaper per byte than hex(substring(binary)) per element."""
    return F.conv(
        F.substring(hx, (pos * 2 - 1).cast("int"), 2), 16, 10
    ).cast("long")


def _byte(col: Column) -> Column:
    return F.unhex(F.lpad(F.hex(col.cast("int")), 2, "0"))


def _lam(names: str, body):
    """Build ``lambda <names>: body(<names>)`` with EXPLICIT, unique
    argument names. PySpark derives the Catalyst lambda-variable NAME
    from the python argument name; when two higher-order functions with
    same-named variables but different bodies end up in one projection
    (chained withColumn + CollapseProject), the merged plan mis-binds
    the variables — observed as one lambda's body evaluated with the
    other's indices (wrong values / NULL tails). Every fold built with
    it (``make_png``'s Adler-32, the declared queries' decode-back
    transforms) therefore gets its own names."""
    ns = {"body": body}
    exec(f"f = lambda {names}: body({names})", ns)  # noqa: S102
    return ns["f"]


def _int_le(value: int, n: int) -> bytes:
    return int(value).to_bytes(n, "little")


# ---------------------------------------------------------------------------
# Arrow kernel scaffold
# ---------------------------------------------------------------------------

def _append_kernel(df: DataFrame, binary_col: str, new_fields, per_blob):
    """mapInPandas appending ``new_fields`` computed by ``per_blob``
    (bytes-or-None -> tuple of len(new_fields) values) to every row.
    Input columns pass through untouched, in order; the new fields
    follow them (an input column of the same name is replaced)."""
    base = [f for f in df.schema.fields if f.name not in {g.name for g in new_fields}]
    schema = T.StructType(base + list(new_fields))
    names = [f.name for f in schema.fields]
    new_names = [f.name for f in new_fields]

    def gen(batches):
        for pdf in batches:
            cols = {n: [] for n in new_names}
            for b in pdf[binary_col]:
                vals = per_blob(None if b is None else bytes(b))
                for n, v in zip(new_names, vals):
                    cols[n].append(v)
            for n in new_names:
                pdf[n] = pd.Series(cols[n], dtype=object, index=pdf.index)
            yield pdf[names]

    return df.mapInPandas(gen, schema=schema)


def _i64(x: int) -> int:
    """Wrap a Python int to signed 64-bit, as non-ANSI Spark BIGINT
    arithmetic wraps: the exact-integer contracts below are stated in
    BIGINT."""
    return ((x + (1 << 63)) % (1 << 64)) - (1 << 63)


# ---------------------------------------------------------------------------
# PPM (P6)
# ---------------------------------------------------------------------------

def make_ppm(width: Column, height: Column, payload: Column) -> Column:
    """A real binary P6 PPM: ``P6\\n<w> <h>\\n255\\n`` + payload.
    ``payload`` must be BINARY of exactly ``width*height*3`` bytes
    (caller pads/truncates). Pure Catalyst concat."""
    header = F.concat(
        F.lit("P6\n"),
        width.cast("string"), F.lit(" "), height.cast("string"),
        F.lit("\n255\n"),
    )
    return F.concat(F.encode(header, "UTF-8"), payload)


PPM_META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("maxval", T.IntegerType()),
        T.StructField("format", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def _pnm_header(
    raw: Column, magic: str, bpp: int = 3
) -> "tuple[Column, Column, Column, Column, Column]":
    """Parse a binary-Netpbm header (``magic`` = P6 for PPM with
    ``bpp=3``, P5 for PGM with ``bpp=1``): returns (ok, width, height,
    maxval, hdr_len).

    The ASCII header lives in the first bytes; a bounded prefix is cast
    to string for regexp parsing (pixel bytes past the header may be
    invalid UTF-8, but the regexp never needs to reach them: the header
    of a 7-digit-dimension image fits well inside 32 bytes).

    POISON-PILL SAFETY: ``ok`` additionally requires (a) maxval <= 255
    (1-byte samples — the only layout these decoders read), and (b) the
    PHYSICAL file length to equal header + w*h*bpp exactly, so a lying
    header can never make a downstream fold iterate past the real
    bytes (a crafted "P6 9999999 9999999" header would otherwise build
    a 10^14-element sequence). Dimension digits are regex-bounded to 7
    so the int cast cannot ANSI-overflow. One malformed blob in a
    100 TB corpus yields NULL meta, never a crashed job."""
    head = F.substring(raw, 1, 32).cast("string")
    m = rf"^{magic}\s+(\d{{1,7}})\s+(\d{{1,7}})\s+(\d{{1,3}})\s"
    hit = F.regexp_extract(head, m, 0)

    def grp(i: int) -> Column:
        # nullif BEFORE the cast: codegen subexpression elimination can
        # hoist these casts OUT of any short-circuit/CASE gate (they are
        # shared by ok and meta), and in ANSI mode CAST('' AS INT) on a
        # non-matching row then crashes the job. NULL casts never throw.
        return F.nullif(F.regexp_extract(head, m, i), F.lit("")).cast("int")

    w, h, mx = grp(1), grp(2), grp(3)
    hdr_len = F.length(hit)  # single whitespace after maxval included
    ok = (
        (F.length(hit) > 0)
        & (mx <= 255)
        & (
            F.length(raw).cast("long")
            == hdr_len.cast("long") + w.cast("long") * h * bpp
        )
    )
    return ok, w, h, mx, hdr_len


def _ppm_header(raw: Column) -> "tuple[Column, Column, Column, Column, Column]":
    return _pnm_header(raw, "P6", bpp=3)


# Java's \s is ASCII-only: spell it out so this matches _pnm_header's regex
_PNM_RE = {
    magic: re.compile(
        rf"^{magic}[ \t\n\x0b\f\r]+(\d{{1,7}})[ \t\n\x0b\f\r]+"
        r"(\d{1,7})[ \t\n\x0b\f\r]+(\d{1,3})[ \t\n\x0b\f\r]"
    )
    for magic in ("P6", "P5")
}


def _pnm_parse(b: "bytes | None", magic: str = "P6", bpp: int = 3):
    """Python twin of ``_pnm_header`` (the Catalyst parse that
    ``sniff_media``, ``ppm_resize_nn`` and ``ppm_crop`` use): returns
    (width, height, maxval, hdr_len) or None, with the same gates, so
    a blob is a valid image to every operator or to none. The header
    region of any accepted file is pure ASCII, so the byte length of
    the match equals the Catalyst side's character length."""
    if b is None:
        return None
    m = _PNM_RE[magic].match(b[:32].decode("utf-8", errors="replace"))
    if not m:
        return None
    w, h, mx = int(m.group(1)), int(m.group(2)), int(m.group(3))
    hdr = len(m.group(0))
    if mx > 255 or len(b) != hdr + w * h * bpp:
        return None
    return w, h, mx, hdr


def _luma1000(b: bytes, w: int, h: int, hdr: int) -> np.ndarray:
    """(h, w) int64 Rec.601 integer lumas (299R + 587G + 114B)."""
    px = np.frombuffer(b, dtype=np.uint8, offset=hdr).reshape(h, w, 3)
    px = px.astype(np.int64)
    return 299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]


def decode_ppm(
    df: DataFrame,
    binary_col: str = "image",
    meta_col: str = "meta",
    channel_means: bool = True,
) -> DataFrame:
    """Parse real P6 headers and (optionally) exact per-channel means.

    Adds ``meta`` (width, height, maxval, format, n_bytes — NULL for
    non-PPM bytes) and, with ``channel_means``, ``mean_r``/``mean_g``/
    ``mean_b`` DOUBLE columns averaging every pixel's channel byte
    (NULL for a zero-area image)."""
    fields = [T.StructField(meta_col, PPM_META_SCHEMA)]
    if channel_means:
        fields += [T.StructField(f"mean_{c}", T.DoubleType()) for c in "rgb"]

    def per_blob(b):
        p = _pnm_parse(b)
        if p is None:
            return (None,) * len(fields)
        w, h, mx, hdr = p
        meta = {"width": w, "height": h, "maxval": mx, "format": "ppm",
                "n_bytes": len(b)}
        if not channel_means:
            return (meta,)
        if w * h == 0:
            return (meta, None, None, None)
        px = np.frombuffer(b, dtype=np.uint8, offset=hdr)
        px = px.reshape(-1, 3).astype(np.int64)
        s = px.sum(axis=0)
        return (meta, *[int(s[c]) / float(w * h) for c in range(3)])

    return _append_kernel(df, binary_col, fields, per_blob)


# ---------------------------------------------------------------------------
# BMP (24-bit uncompressed, BITMAPINFOHEADER)
# ---------------------------------------------------------------------------

def make_bmp(width: int, height: int, payload: Column) -> Column:
    """A real 24-bit BMP from a BINARY ``payload`` of exactly
    ``width*height*3`` BGR bytes laid out top-down row-major; the
    builder reverses rows (BMP stores bottom-up) and adds the 4-byte
    row padding. ``width``/``height`` are Python ints (the row loop is
    unrolled into the expression)."""
    if width <= 0 or height <= 0:
        raise ValueError("width/height must be positive")
    stride = (3 * width + 3) // 4 * 4
    pad = stride - 3 * width
    img_size = stride * height
    file_size = 54 + img_size
    header = (
        b"BM" + _int_le(file_size, 4) + _int_le(0, 4) + _int_le(54, 4)
        + _int_le(40, 4) + _int_le(width, 4) + _int_le(height, 4)
        + _int_le(1, 2) + _int_le(24, 2) + _int_le(0, 4)
        + _int_le(img_size, 4) + _int_le(2835, 4) + _int_le(2835, 4)
        + _int_le(0, 4) + _int_le(0, 4)
    )
    assert len(header) == 54
    rows = [
        F.substring(payload, y * 3 * width + 1, 3 * width)
        for y in range(height - 1, -1, -1)  # bottom-up
    ]
    padded = []
    for r in rows:
        padded.append(r)
        if pad:
            padded.append(F.lit(b"\x00" * pad))
    return F.concat(F.lit(header), *padded)


BMP_META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("bpp", T.IntegerType()),
        T.StructField("data_offset", T.IntegerType()),
        T.StructField("format", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def _le_sql(name: str, pos: int, n: int) -> str:
    """Little-endian unsigned int of ``n`` bytes at 1-based ``pos`` of
    a NAMED binary column, as one SQL string.

    Every Column operation is one py4j round-trip (~0.3ms); a header
    parse made of dozens of per-byte Column reads costs real DRIVER
    seconds per query build. The public codec APIs take the binary column by name,
    so the whole header parse can be one ``F.expr`` string — one
    round-trip for the identical Catalyst tree."""
    return (
        "("
        + " + ".join(
            f"CAST(conv(hex(substring({name}, {pos + i}, 1)), 16, 10) AS BIGINT)"
            f" * {1 << (8 * i)}"
            for i in range(n)
        )
        + ")"
    )


def _bmp_header(name: str) -> "tuple[Column, Column, Column, Column]":
    """Parse a 24-bit uncompressed BITMAPINFOHEADER BMP header from the
    NAMED binary column: returns (ok, width, height, data_offset).
    Built as F.expr strings — see ``_le_sql`` for why (driver-side py4j
    cost of the Column-object form).

    POISON-PILL SAFETY: dimensions are bounded (1..2^20 — rejects
    top-down BMPs whose NEGATIVE height reads as a huge u32 and, before
    this gate, ANSI-crashed the int cast: a single such blob killed the
    whole job) and the physical length must equal data_offset +
    stride*height exactly, so a lying header cannot drive the pixel
    folds past the real bytes. The BETWEEN gates precede the stride
    product in the AND chain (And short-circuits), so the product can
    never overflow. Casts are CASE-protected for the same reason."""
    wl = _le_sql(name, 19, 4)
    hl = _le_sql(name, 23, 4)
    offl = _le_sql(name, 11, 4)
    stride = f"(((({wl}) * 3 + 3) DIV 4) * 4)"
    ok = F.expr(
        f"length({name}) >= 54"
        f" AND substring({name}, 1, 2) = X'424D'"
        f" AND {_le_sql(name, 29, 2)} = 24"      # bpp
        f" AND {_le_sql(name, 31, 4)} = 0"       # BI_RGB (uncompressed)
        f" AND {wl} BETWEEN 1 AND 1048575"
        f" AND {hl} BETWEEN 1 AND 1048575"
        f" AND {offl} BETWEEN 54 AND length({name})"
        f" AND CAST(length({name}) AS BIGINT) = {offl} + {stride} * {hl}"
    )
    w = F.expr(f"CAST(CASE WHEN {wl} <= 1048575 THEN {wl} END AS INT)")
    h = F.expr(f"CAST(CASE WHEN {hl} <= 1048575 THEN {hl} END AS INT)")
    off = F.expr(f"CAST(CASE WHEN {offl} <= 2147483647 THEN {offl} END AS INT)")
    return ok, w, h, off


def _bmp_parse(b: "bytes | None"):
    """Python twin of ``_bmp_header``: (width, height, data_offset)
    or None, with the same gates."""
    if b is None or len(b) < 54:
        return None
    if b[0:2] != b"BM":
        return None
    le = lambda o, k: int.from_bytes(b[o : o + k], "little")  # noqa: E731
    if le(28, 2) != 24 or le(30, 4) != 0:
        return None
    w, h, off = le(18, 4), le(22, 4), le(10, 4)
    if not (1 <= w <= 1048575) or not (1 <= h <= 1048575):
        return None
    if not (54 <= off <= len(b)):
        return None
    stride = (w * 3 + 3) // 4 * 4
    if len(b) != off + stride * h:
        return None
    return w, h, off


def decode_bmp(
    df: DataFrame,
    binary_col: str = "image",
    meta_col: str = "meta",
    channel_means: bool = True,
) -> DataFrame:
    """Parse real BMP headers (24-bit uncompressed) and exact
    per-channel means, honoring bottom-up rows and 4-byte row padding.
    Adds ``meta`` (NULL for non-BMP bytes) and ``mean_b``/``mean_g``/
    ``mean_r`` (BMP stores BGR)."""
    fields = [T.StructField(meta_col, BMP_META_SCHEMA)]
    if channel_means:
        fields += [T.StructField(f"mean_{c}", T.DoubleType()) for c in "bgr"]

    def per_blob(b):
        hdr = _bmp_parse(b)
        if hdr is None:
            return (None,) * len(fields)
        w, h, off = hdr
        meta = {"width": w, "height": h, "bpp": 24, "data_offset": off,
                "format": "bmp", "n_bytes": len(b)}
        if not channel_means:
            return (meta,)
        stride = (w * 3 + 3) // 4 * 4
        rows = np.frombuffer(b, dtype=np.uint8, offset=off).reshape(h, stride)
        px = rows[:, : 3 * w].reshape(-1, 3).astype(np.int64)
        s = px.sum(axis=0)
        return (meta, *[int(s[c]) / float(w * h) for c in range(3)])

    return _append_kernel(df, binary_col, fields, per_blob)


# ---------------------------------------------------------------------------
# WAV (RIFF/WAVE, PCM 16-bit)
# ---------------------------------------------------------------------------

def make_wav(n_channels: int, sample_rate: int, payload: Column) -> Column:
    """A real canonical WAV file (the stdlib ``wave`` writer layout:
    fmt chunk at offset 12, data chunk at 36, PCM at 44) around a
    BINARY ``payload`` of interleaved signed 16-bit LE samples.
    ``payload`` length must be a multiple of ``2 * n_channels``."""
    if n_channels <= 0 or sample_rate <= 0:
        raise ValueError("n_channels/sample_rate must be positive")
    block = 2 * n_channels
    byte_rate = sample_rate * block
    fmt = (
        b"fmt " + _int_le(16, 4) + _int_le(1, 2) + _int_le(n_channels, 2)
        + _int_le(sample_rate, 4) + _int_le(byte_rate, 4)
        + _int_le(block, 2) + _int_le(16, 2)
    )
    data_size = F.length(payload)
    riff_size = data_size + F.lit(36)

    def le32(col: Column) -> Column:
        c = col.cast("long")
        return F.concat(
            *[_byte(F.pmod(F.shiftright(c, s), F.lit(256))) for s in (0, 8, 16, 24)]
        )

    return F.concat(
        F.lit(b"RIFF"), le32(riff_size), F.lit(b"WAVE"), F.lit(fmt),
        F.lit(b"data"), le32(data_size), payload,
    )


WAV_META_SCHEMA = T.StructType(
    [
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("bits", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("format", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def _wav_header(name: str) -> "tuple[Column, Column, Column, Column]":
    """Parse a canonical PCM-16 WAV header (RIFF | fmt@12 | data@36, the
    stdlib ``wave``-writer layout) from the NAMED binary column: returns
    (ok, n_channels, sample_rate, n_samples). Built as F.expr strings —
    see ``_le_sql`` for why (driver-side py4j cost of the Column-object
    form)."""
    nch = _le_sql(name, 23, 2)
    rt = _le_sql(name, 25, 4)
    dsz = _le_sql(name, 41, 4)
    # POISON-PILL SAFETY: channel count / rate bounded, physical length
    # must equal 44 + data size exactly (a lying dsize otherwise
    # unbounds the sample folds), data size must be frame-aligned, and
    # n_samples divides through nullif so a zero-channel header can
    # never raise DIVIDE_BY_ZERO. Malformed blobs -> NULL meta, not a
    # crashed job. Trailing chunks after `data` are rejected by the
    # length equality — canonical stdlib-wave layout only, declared.
    ok = F.expr(
        f"length({name}) >= 44"
        f" AND substring({name}, 1, 4) = X'52494646'"      # RIFF
        f" AND substring({name}, 9, 8) = X'57415645666D7420'"  # WAVEfmt\x20
        f" AND {_le_sql(name, 21, 2)} = 1"                 # PCM
        f" AND {_le_sql(name, 35, 2)} = 16"                # 16-bit
        f" AND substring({name}, 37, 4) = X'64617461'"     # data
        f" AND {nch} BETWEEN 1 AND 64"
        f" AND {rt} BETWEEN 1 AND 1000000000"
        f" AND CAST(length({name}) AS BIGINT) = 44 + {dsz}"
        f" AND {dsz} % (2 * nullif({nch}, 0)) = 0"
    )
    n_ch = F.expr(f"CAST({nch} AS INT)")
    rate = F.expr(f"CAST(CASE WHEN {rt} <= 2147483647 THEN {rt} END AS INT)")
    n_samp = F.expr(f"CAST({dsz} / (2 * nullif({nch}, 0)) AS BIGINT)")
    return ok, n_ch, rate, n_samp


def _wav_parse(b: "bytes | None"):
    """Python twin of ``_wav_header``'s gate (the Catalyst parse that
    ``sniff_media`` uses): returns (n_channels, sample_rate,
    n_samples) or None. Every check matches term for term, so a blob
    is a WAV to every operator or to none."""
    if b is None or len(b) < 44:
        return None
    if b[0:4] != b"RIFF" or b[8:16] != b"WAVEfmt ":
        return None
    le = lambda o, k: int.from_bytes(b[o : o + k], "little")  # noqa: E731
    if le(20, 2) != 1 or le(34, 2) != 16:
        return None
    if b[36:40] != b"data":
        return None
    nch, rate, dsz = le(22, 2), le(24, 4), le(40, 4)
    if not (1 <= nch <= 64) or not (1 <= rate <= 1_000_000_000):
        return None
    if len(b) != 44 + dsz or dsz % (2 * nch) != 0:
        return None
    return nch, rate, dsz // (2 * nch)


def _samples(b: bytes) -> np.ndarray:
    """All interleaved signed 16-bit words as int64."""
    return np.frombuffer(b, dtype="<i2", offset=44).astype(np.int64)


def _wav_header_bytes(nch: int, rate: int, dsz: int) -> bytes:
    """Canonical 44-byte PCM-16 header (the ``make_wav`` layout:
    byte_rate = rate * block, block = 2 * nch)."""
    blk = 2 * nch
    return (
        b"RIFF"
        + (dsz + 36).to_bytes(4, "little")
        + b"WAVEfmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + nch.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * blk).to_bytes(4, "little")
        + blk.to_bytes(2, "little")
        + (16).to_bytes(2, "little")
        + b"data"
        + dsz.to_bytes(4, "little")
    )


def decode_wav(
    df: DataFrame,
    binary_col: str = "audio",
    meta_col: str = "meta",
    channel_stats: bool = True,
) -> DataFrame:
    """Parse canonical PCM-16 WAV headers (RIFF | fmt@12 | data@36 —
    the stdlib ``wave``-writer layout; files with extra chunks before
    ``data`` are returned as NULL meta, declared limitation) and exact
    per-channel mean / RMS over the signed samples. Channels beyond the
    second are parsed in meta but not aggregated (``mean_ch1``/
    ``rms_ch1`` are NULL for mono; all four are NULL for a zero-sample
    file)."""
    fields = [T.StructField(meta_col, WAV_META_SCHEMA)]
    if channel_stats:
        fields += [
            T.StructField("mean_ch0", T.DoubleType()),
            T.StructField("rms_ch0", T.DoubleType()),
            T.StructField("mean_ch1", T.DoubleType()),
            T.StructField("rms_ch1", T.DoubleType()),
        ]

    def per_blob(b):
        hdr = _wav_parse(b)
        if hdr is None:
            return (None,) * len(fields)
        nch, rate, n = hdr
        meta = {
            "n_channels": nch,
            "sample_rate": rate,
            "bits": 16,
            "n_samples": n,
            "duration_s": n / rate,
            "format": "wav",
            "n_bytes": len(b),
        }
        if not channel_stats:
            return (meta,)
        stats = [None, None, None, None]
        if n > 0:
            v = _samples(b)
            for ch in (0, 1):
                if nch > ch:
                    c = v[ch::nch]
                    s = int(c.sum())
                    q = int((c * c).sum())
                    stats[2 * ch] = s / float(n)
                    stats[2 * ch + 1] = float(np.sqrt(q / float(n)))
        return (meta, *stats)

    return _append_kernel(df, binary_col, fields, per_blob)


# ---------------------------------------------------------------------------
# Media screening features (decode -> feature-extract, still scan-stage)
# ---------------------------------------------------------------------------

def wav_features(
    df: DataFrame,
    binary_col: str = "audio",
    silence_abs: int = 4096,
) -> DataFrame:
    """Audio screening features over channel 0 of canonical PCM-16 WAVs:
    ``n_samples``, ``zcr`` (zero-crossing rate, crossings/(n-1)),
    ``peak`` (max |sample|), ``crest`` (peak/RMS — clipping/square-wave
    content scores low, sparse transients high) and ``silence_frac``
    (fraction of samples with |v| < ``silence_abs``). The standard
    cheap screens a speech/audio curation pipeline runs before any
    model: drop silent clips, flag clipped ones.

    A zero-sample file has ``n_samples`` 0 and NULL features; ``zcr``
    is 0.0 for a one-sample file and ``crest`` is NULL for an all-zero
    one. Malformed blobs -> all NULL."""
    fields = [
        T.StructField("n_samples", T.LongType()),
        T.StructField("zcr", T.DoubleType()),
        T.StructField("peak", T.LongType()),
        T.StructField("crest", T.DoubleType()),
        T.StructField("silence_frac", T.DoubleType()),
    ]

    def per_blob(b):
        hdr = _wav_parse(b)
        if hdr is None:
            return (None,) * 5
        nch, _rate, n = hdr
        if n == 0:
            return (0, None, None, None, None)
        v = _samples(b)[::nch]
        a, c = v[:-1], v[1:]
        z = int((((a < 0) & (c > 0)) | ((a > 0) & (c < 0))).sum())
        mx = int(np.abs(v).max())
        q = int((v * v).sum())
        sil = int((np.abs(v) < int(silence_abs)).sum())
        zcr = z / float(n - 1) if n > 1 else 0.0
        crest = mx / float(np.sqrt(q / float(n))) if q > 0 else None
        return (n, zcr, mx, crest, sil / float(n))

    return _append_kernel(df, binary_col, fields, per_blob)


def ppm_luma_stats(
    df: DataFrame,
    binary_col: str = "image",
    blank_std: float = 5.0,
) -> DataFrame:
    """Blank/low-information image screen over real P6 pixels: Rec.601
    luma per pixel in INTEGER space (``luma1000 = 299 R + 587 G +
    114 B`` — integer sums keep the result exact), reduced to
    ``luma_mean`` / ``luma_std`` (population) / ``luma_min`` /
    ``luma_max`` (all on the 0..255 scale) and ``is_blank``
    (``luma_std < blank_std`` on the 4-decimal-rounded std, the screen
    a thumbnail-curation pipeline uses to drop solid/near-solid
    frames). The std rounds half-up as ``floor(x*1e4 + 0.5)/1e4`` in
    IEEE doubles, which an oracle replays bit-identically (Spark's
    ``round()`` re-reads the double's shortest decimal repr, which
    disagrees on exact .5 ties). Zero-area or malformed images ->
    NULL."""
    fields = [
        T.StructField("luma_mean", T.DoubleType()),
        T.StructField("luma_std", T.DoubleType()),
        T.StructField("luma_min", T.DoubleType()),
        T.StructField("luma_max", T.DoubleType()),
        T.StructField("is_blank", T.BooleanType()),
    ]

    def per_blob(b):
        p = _pnm_parse(b)
        if p is None or p[0] * p[1] == 0:
            return (None,) * 5
        w, h, _mx, hdr = p
        lm = _luma1000(b, w, h, hdr).ravel()
        n = float(w * h)
        s, q = int(lm.sum()), int((lm * lm).sum())
        mean1000 = s / n
        var = max(0.0, q / n - mean1000 * mean1000)
        std_r = math.floor(math.sqrt(var) / 1000.0 * 10000 + 0.5) / 10000
        return (
            mean1000 / 1000.0, std_r,
            int(lm.min()) / 1000.0, int(lm.max()) / 1000.0,
            std_r < float(blank_std),
        )

    return _append_kernel(df, binary_col, fields, per_blob)


def ppm_resize_nn(
    df: DataFrame,
    out_w: int,
    out_h: int,
    binary_col: str = "image",
    out_col: str = "resized",
) -> DataFrame:
    """Nearest-neighbor thumbnail resize producing REAL P6 bytes: output
    pixel (x, y) copies source pixel (floor(x*w/out_w), floor(y*h/out_h))
    — the left/top-anchored NN convention, documented so the byte-replay
    oracle and any downstream decoder agree. ``out_w``/``out_h`` are
    Python ints (the output-pixel loop is unrolled into the expression;
    sized for thumbnail targets).
    Source dimensions stay data-dependent columns, so one expression
    resizes a mixed-size corpus. The result column is a genuine P6 file
    (``decode_ppm``/``ppm_luma_stats`` can consume it directly); maxval
    is preserved from the source. Scan-stage Catalyst, no Python."""
    if out_w <= 0 or out_h <= 0:
        raise ValueError("out_w/out_h must be positive")
    raw = F.col(binary_col)
    ok, w, h, mxv, hdr_len = _ppm_header(raw)
    wl, hl = w.cast("long"), h.cast("long")
    header = F.concat(
        F.lit(f"P6\n{out_w} {out_h}\n"), mxv.cast("string"), F.lit("\n")
    )
    pieces = []
    for y in range(out_h):
        sy = F.floor(hl * y / out_h).cast("long")
        for x in range(out_w):
            sx = F.floor(wl * x / out_w).cast("long")
            pos = hdr_len.cast("long") + (sy * wl + sx) * 3 + 1
            pieces.append(raw.substr(pos.cast("int"), F.lit(3)))
    return df.withColumn(
        out_col, F.when(ok, F.concat(F.encode(header, "UTF-8"), *pieces))
    )


# ---------------------------------------------------------------------------
# Media transforms emitting REAL files (downsample / format conversion)
# ---------------------------------------------------------------------------

def wav_downsample(
    df: DataFrame,
    factor: int,
    binary_col: str = "audio",
    out_col: str = "downsampled",
) -> DataFrame:
    """Integer-decimation downsample emitting REAL WAV bytes: keep every
    ``factor``-th frame (ALL channels of it), sample rate becomes
    ``floor(rate/factor)``, and the output is a genuine canonical PCM-16
    file (``decode_wav`` consumes it directly). Plain decimation, no
    anti-aliasing filter — documented; the use case is cheap rate
    normalization of already-band-limited speech corpora. Zero-sample
    or malformed input -> NULL."""
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")
    fields = [T.StructField(out_col, T.BinaryType())]

    def per_blob(b):
        hdr = _wav_parse(b)
        if hdr is None:
            return (None,)
        nch, rate, n = hdr
        if n == 0:
            return (None,)
        blk = 2 * nch
        frames = np.frombuffer(b, dtype=np.uint8, offset=44).reshape(n, blk)
        payload = frames[::factor].tobytes()
        return (_wav_header_bytes(nch, rate // factor, len(payload)) + payload,)

    return _append_kernel(df, binary_col, fields, per_blob)


# ---------------------------------------------------------------------------
# PGM (P5, grayscale Netpbm)
# ---------------------------------------------------------------------------

PGM_META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("maxval", T.IntegerType()),
        T.StructField("format", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def ppm_to_pgm(
    df: DataFrame,
    binary_col: str = "image",
    out_col: str = "gray",
) -> DataFrame:
    """Grayscale conversion emitting REAL P5 PGM bytes from P6 PPM
    input: per pixel ``gray = (299 R + 587 G + 114 B + 500) // 1000``
    (Rec.601 luma, integer half-up — exact). The output is a genuine
    binary PGM (``P5\\n<w> <h>\\n<maxval>\\n`` + ``w*h`` gray bytes)
    that ``decode_pgm`` parses back; maxval is preserved from the
    source. Zero-area or malformed input -> NULL."""
    fields = [T.StructField(out_col, T.BinaryType())]

    def per_blob(b):
        p = _pnm_parse(b)
        if p is None or p[0] * p[1] == 0:
            return (None,)
        w, h, mx, hdr = p
        px = np.frombuffer(b, dtype=np.uint8, offset=hdr)
        px = px.reshape(-1, 3).astype(np.int64)
        gray = (299 * px[:, 0] + 587 * px[:, 1] + 114 * px[:, 2] + 500) // 1000
        header = f"P5\n{w} {h}\n{mx}\n".encode()
        return (header + gray.astype(np.uint8).tobytes(),)

    return _append_kernel(df, binary_col, fields, per_blob)


def decode_pgm(
    df: DataFrame,
    binary_col: str = "image",
    meta_col: str = "meta",
    gray_mean: bool = True,
) -> DataFrame:
    """Parse real P5 PGM headers and (optionally) the exact mean gray
    level. Adds ``meta`` (width, height, maxval, format, n_bytes —
    NULL for non-PGM bytes) and ``mean_gray`` DOUBLE (NULL for a
    zero-area image)."""
    fields = [T.StructField(meta_col, PGM_META_SCHEMA)]
    if gray_mean:
        fields.append(T.StructField("mean_gray", T.DoubleType()))

    def per_blob(b):
        p = _pnm_parse(b, "P5", 1)
        if p is None:
            return (None,) * len(fields)
        w, h, mx, hdr = p
        meta = {"width": w, "height": h, "maxval": mx, "format": "pgm",
                "n_bytes": len(b)}
        if not gray_mean:
            return (meta,)
        if w * h == 0:
            return (meta, None)
        v = np.frombuffer(b, dtype=np.uint8, offset=hdr).astype(np.int64)
        return (meta, int(v.sum()) / float(w * h))

    return _append_kernel(df, binary_col, fields, per_blob)


# ---------------------------------------------------------------------------
# Format sniffing over mixed binary columns
# ---------------------------------------------------------------------------

def sniff_media(df: DataFrame, binary_col: str = "blob") -> DataFrame:
    """Classify a MIXED binary column by real file format and extract
    the format-appropriate metadata in one scan — the first pass a
    multimodal ingestion pipeline runs over a crawl's opaque blobs
    before routing them to per-format decoders. Adds:

    * ``format`` — ``ppm`` / ``pgm`` / ``bmp`` / ``wav`` / ``unknown``
      (checked in that order; the magic bytes are mutually exclusive);
    * ``width`` / ``height`` — images, NULL for audio/unknown;
    * ``sample_rate`` / ``n_samples`` — audio, NULL for images/unknown;
    * ``n_bytes`` — always.

    Pure scan-stage Catalyst (header parses only — no pixel/sample
    folds), so it runs at full whole-stage-codegen speed over any
    corpus; route-then-decode keeps the expensive per-byte work on the
    rows that need it."""
    raw = F.col(binary_col)
    p_ok, pw, ph, _pmx, _ = _pnm_header(raw, "P6")
    g_ok, gw, gh, _gmx, _ = _pnm_header(raw, "P5", bpp=1)
    b_ok, bw, bh, _off = _bmp_header(binary_col)
    w_ok, n_ch, rate, n_samp = _wav_header(binary_col)
    # each validity gate evaluated ONCE (they are referenced by several
    # output columns; see decode_ppm)
    df = df.select(
        "*",
        p_ok.alias("__pok"), g_ok.alias("__gok"),
        b_ok.alias("__bok"), w_ok.alias("__wok"),
    )
    p_ok, g_ok = F.col("__pok"), F.col("__gok")
    b_ok, w_ok = F.col("__bok"), F.col("__wok")
    fmt = (
        F.when(p_ok, F.lit("ppm"))
        .when(g_ok, F.lit("pgm"))
        .when(b_ok, F.lit("bmp"))
        .when(w_ok, F.lit("wav"))
        .otherwise(F.lit("unknown"))
    )
    width = F.when(p_ok, pw).when(g_ok, gw).when(b_ok, bw)
    height = F.when(p_ok, ph).when(g_ok, gh).when(b_ok, bh)
    # one withColumns call (see decode_bmp: chained withColumn
    # re-analyzes the accumulated plan per link)
    return df.withColumns(
        {
            "format": fmt,
            "width": width,
            "height": height,
            "sample_rate": F.when(w_ok, rate),
            "n_samples": F.when(w_ok, n_samp),
            "n_bytes": F.length(raw).cast("long"),
        }
    ).drop("__pok", "__gok", "__bok", "__wok")


def wav_mixdown(
    df: DataFrame,
    binary_col: str = "audio",
    out_col: str = "mono",
) -> DataFrame:
    """Stereo→mono mixdown emitting REAL WAV bytes: each output sample
    is ``floor((L + R) / 2)`` (floor division of the SIGNED sum — the
    convention documented for the byte-replay oracle), at the source
    sample rate. Mono inputs pass through byte-identically (header
    rebuilt, same payload); >2-channel files average the first two
    channels — declared limitation. Zero-sample or malformed input ->
    NULL."""
    fields = [T.StructField(out_col, T.BinaryType())]

    def per_blob(b):
        hdr = _wav_parse(b)
        if hdr is None:
            return (None,)
        nch, rate, n = hdr
        if n == 0:
            return (None,)
        v = _samples(b)
        mono = (v[0::nch] + v[1::nch]) >> 1 if nch >= 2 else v[0::nch]
        payload = (mono % 65536).astype("<u2").tobytes()
        return (_wav_header_bytes(1, rate, n * 2) + payload,)

    return _append_kernel(df, binary_col, fields, per_blob)


def wav_trim_silence(
    df: DataFrame,
    binary_col: str = "audio",
    threshold_abs: int = 4096,
    out_col: str = "trimmed",
) -> DataFrame:
    """Leading/trailing-silence trim emitting REAL WAV bytes — the
    VAD-lite first pass of a speech-curation pipeline. A sample is
    "active" when channel 0's ``|v| >= threshold_abs``; the output
    keeps frames [first_active, last_active] (ALL channels of each
    frame are copied; interior quiet spans are preserved). A fully
    silent or empty file becomes a valid 44-byte zero-sample WAV, so
    downstream ``decode_wav`` still parses it (``n_samples = 0``)
    rather than hitting a poison NULL. Malformed input -> NULL via the
    shared header gate."""
    if threshold_abs < 0:
        raise ValueError(f"threshold_abs must be >= 0, got {threshold_abs}")
    fields = [T.StructField(out_col, T.BinaryType())]
    thr = int(threshold_abs)

    def per_blob(b):
        hdr = _wav_parse(b)
        if hdr is None:
            return (None,)
        nch, rate, n = hdr
        blk = 2 * nch
        if n > 0:
            active = np.nonzero(np.abs(_samples(b)[::nch]) >= thr)[0]
        else:
            active = np.empty(0, dtype=np.int64)
        if active.size == 0:
            return (_wav_header_bytes(nch, rate, 0),)
        lo, hi = int(active[0]), int(active[-1])
        payload = b[44 + lo * blk : 44 + (hi + 1) * blk]
        return (_wav_header_bytes(nch, rate, len(payload)) + payload,)

    return _append_kernel(df, binary_col, fields, per_blob)


def ppm_crop(
    df: DataFrame,
    x: int,
    y: int,
    out_w: int,
    out_h: int,
    binary_col: str = "image",
    out_col: str = "cropped",
) -> DataFrame:
    """Fixed-window crop emitting REAL P6 bytes: output pixel (cx, cy)
    copies source pixel (x+cx, y+cy) — the standard region-of-interest
    step of a vision-curation pipeline (center/patch crops). Rows whose
    image does not contain the window (``x+out_w > width`` or
    ``y+out_h > height``) get NULL, same contract as the header gate.

    Like ``ppm_resize_nn``: one substring per output ROW (``out_h``
    row-slices of ``3*out_w`` contiguous bytes — crops copy whole
    scanline segments, so this is ``out_h`` substrings, not
    ``out_w*out_h``), concatenated after the rebuilt header. Scan-stage
    Catalyst, no Python."""
    if x < 0 or y < 0 or out_w <= 0 or out_h <= 0:
        raise ValueError("need x, y >= 0 and out_w, out_h > 0")
    raw = F.col(binary_col)
    ok, w, h, mxv, hdr_len = _ppm_header(raw)
    ok = ok & (w >= x + out_w) & (h >= y + out_h)
    wl = w.cast("long")
    header = F.concat(
        F.lit(f"P6\n{out_w} {out_h}\n"), mxv.cast("string"), F.lit("\n")
    )
    rows = [
        raw.substr(
            (hdr_len.cast("long") + ((y + cy) * wl + x) * 3 + 1).cast("int"),
            F.lit(3 * out_w),
        )
        for cy in range(out_h)
    ]
    return df.withColumn(
        out_col, F.when(ok, F.concat(F.encode(header, "UTF-8"), *rows))
    )


# ---------------------------------------------------------------------------
# Perceptual fingerprints over decoded media (audio energy-delta, image
# dHash) — the hash step of the near-dup family run on REAL codec output
# ---------------------------------------------------------------------------

def audio_fingerprint(
    df: DataFrame,
    binary_col: str = "audio",
    out_col: str = "afp",
    n_frames: int = 17,
) -> DataFrame:
    """Energy-delta acoustic fingerprint over channel 0 of canonical
    PCM-16 WAVs: the samples are split into ``n_frames`` equal frames
    (frame f covers indices [f*n DIV F, (f+1)*n DIV F)), each frame's
    energy is sum(v²), and bit f of the BIGINT fingerprint (f in
    [0, F-2]) is set iff energy(f+1) > energy(f). The classic coarse
    audio signature (Haitsma-Kalker energy-band family, collapsed to
    the time axis): robust to gain (monotone) and small edits, so equal
    or near-equal fingerprints are near-duplicate clips.

    One cumulative sum of squared samples per file gives every frame
    energy. Malformed blobs and zero-sample files -> NULL fingerprint
    via the shared poison-pill header gate. Pair mining over the
    fingerprint is ``neardup.hamming_pairs`` (banded, never n²)."""
    if not 2 <= n_frames <= 64:
        raise ValueError(f"n_frames must be in [2, 64], got {n_frames}")
    fields = [T.StructField(out_col, T.LongType())]
    nf = int(n_frames)

    def per_blob(b):
        hdr = _wav_parse(b)
        if hdr is None:
            return (None,)
        nch, _rate, n = hdr
        if n == 0:
            return (None,)
        v = _samples(b)[::nch]
        cs = np.concatenate(([0], np.cumsum(v * v)))
        en = [
            int(cs[(f + 1) * n // nf] - cs[f * n // nf]) for f in range(nf)
        ]
        sig = 0
        for f in range(nf - 1):
            if en[f + 1] > en[f]:
                sig |= 1 << f
        return (_i64(sig),)

    return _append_kernel(df, binary_col, fields, per_blob)


def audio_fingerprint_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    binary_col: str = "audio",
    max_hamming: int = 2,
    n_frames: int = 17,
) -> DataFrame:
    """Near-duplicate audio pairs ``(id_a, id_b, hamming)`` by
    energy-delta fingerprint Hamming distance: ``audio_fingerprint``
    for the signature, then the generic block-permutation band join
    (``neardup.hamming_pairs``) — candidate volume scales with
    block-bucket load, never n². Rows whose bytes fail the WAV header
    gate get NULL fingerprints; ``hamming_pairs`` drops them after its
    persist fence (filtering here would predicate-push the whole
    fingerprint tree into a duplicate Filter — see hamming_pairs)."""
    from pivot_spark.operators.neardup import hamming_pairs

    sigs = audio_fingerprint(
        df, binary_col=binary_col, out_col="__afp", n_frames=n_frames
    )
    return hamming_pairs(
        sigs, id_col, "__afp", num_bits=n_frames - 1, max_hamming=max_hamming
    )


def ppm_dhash(
    df: DataFrame,
    binary_col: str = "image",
    out_col: str = "dhash",
    grid_w: int = 8,
    grid_h: int = 7,
) -> DataFrame:
    """Difference-hash (dHash — the classic public gradient image
    fingerprint) over REAL P6 pixels: nearest-neighbor-sample a
    ``(grid_w+1) x grid_h`` grid of Rec.601 integer lumas
    (``299R + 587G + 114B``, the ``ppm_luma_stats`` convention), set
    bit ``r*grid_w + c`` iff ``luma(r, c+1) > luma(r, c)``. Gradients
    survive brightness/contrast shifts that break aHash's global-mean
    threshold, so the two hashes are complementary screens.

    Grid positions replay ``ppm_resize_nn``'s NN mapping
    (``src = (dst * src_dim) DIV dst_dim``); only the grid's pixels
    are read. A zero-area image hashes to 0 (no gradient sets a bit);
    malformed blobs -> NULL hash via the poison-pill header gate. Pair
    mining is ``neardup.hamming_pairs``."""
    bits = grid_w * grid_h
    if not (grid_w >= 1 and grid_h >= 1 and bits <= 63):
        raise ValueError(
            f"need grid_w, grid_h >= 1 and grid_w*grid_h <= 63, got "
            f"{grid_w}x{grid_h}"
        )
    fields = [T.StructField(out_col, T.LongType())]
    gw1 = grid_w + 1

    def per_blob(b):
        p = _pnm_parse(b)
        if p is None:
            return (None,)
        w, h, _mx, hdr = p
        if w * h == 0:
            return (0,)
        px = np.frombuffer(b, dtype=np.uint8, offset=hdr).astype(np.int64)
        rows = (np.arange(grid_h, dtype=np.int64) * h) // grid_h
        cols = (np.arange(gw1, dtype=np.int64) * w) // gw1
        base = (rows[:, None] * w + cols[None, :]) * 3
        lm = 299 * px[base] + 587 * px[base + 1] + 114 * px[base + 2]
        sig = 0
        for r in range(grid_h):
            for c in range(grid_w):
                if lm[r, c + 1] > lm[r, c]:
                    sig |= 1 << (r * grid_w + c)
        return (_i64(sig),)

    return _append_kernel(df, binary_col, fields, per_blob)


def ppm_blur_score(
    df: DataFrame,
    binary_col: str = "image",
    out_col: str = "lap_var",
) -> DataFrame:
    """Blur / focus screen over real P6 pixels — the variance-of-
    Laplacian detector (Pech-Pacheco et al., the standard OpenCV
    ``CV_64F`` recipe) a vision-curation pipeline runs to drop
    out-of-focus or motion-smeared frames before training.

    Per interior pixel (x in 1..w-2, y in 1..h-2) the 4-neighbour
    Laplacian of the Rec.601 INTEGER luma (``299R + 587G + 114B``, the
    ``ppm_luma_stats`` convention) is

        lap = 4*l(x,y) - l(x-1,y) - l(x+1,y) - l(x,y-1) - l(x,y+1)

    and the score is the population variance of ``lap`` over the
    interior, computed from exact BIGINT (sum, sum-of-squares) — the
    single float step is the final division, so an oracle replays it
    bit-identically. Reported on the 0..255 luma scale (divided by
    1000^2). Sharp/textured images score high, defocused or solid ones
    near 0. Images with no interior (w < 3 or h < 3) and malformed
    blobs -> NULL.

    Output: input columns + (n_interior, ``out_col``)."""
    fields = [
        T.StructField("n_interior", T.LongType()),
        T.StructField(out_col, T.DoubleType()),
    ]

    def per_blob(b):
        p = _pnm_parse(b)
        if p is None or p[0] < 3 or p[1] < 3:
            return (None, None)
        w, h, _mx, hdr = p
        lm = _luma1000(b, w, h, hdr)
        lap = (
            4 * lm[1:-1, 1:-1] - lm[1:-1, :-2] - lm[1:-1, 2:]
            - lm[:-2, 1:-1] - lm[2:, 1:-1]
        )
        n = (w - 2) * (h - 2)
        s, q = int(lap.sum()), int((lap * lap).sum())
        num = _i64(_i64(n * q) - _i64(s * s))
        var = float(num) / float(_i64(n * n)) / 1.0e6
        return (n, var)

    return _append_kernel(df, binary_col, fields, per_blob)


def dft_coeffs(
    n_samples: int, bins: "tuple[int, ...]", scale: int = 1000
) -> "dict[int, tuple[list[int], list[int]]]":
    """Integer-quantized DFT basis shared by ``wav_spectral`` and its
    byte-replay oracle: for each bin k, (cos row, sin row) with
    ``row[n] = round(scale * cos/sin(2 pi k n / n_samples))``. The
    operator and the oracle consume the SAME literals, so the
    correlation sums are exact BIGINT on both sides (a float trig chain
    would differ in ulps)."""
    out = {}
    for k in bins:
        out[k] = (
            [
                round(scale * math.cos(2 * math.pi * k * n / n_samples))
                for n in range(n_samples)
            ],
            [
                round(scale * math.sin(2 * math.pi * k * n / n_samples))
                for n in range(n_samples)
            ],
        )
    return out


def wav_spectral(
    df: DataFrame,
    n_samples: int,
    bins: "tuple[int, ...]" = (1, 2, 3, 6),
    binary_col: str = "audio",
    coef_scale: int = 1000,
) -> DataFrame:
    """Spectral-energy screen over the leading ``n_samples`` channel-0
    samples of canonical PCM-16 WAVs: per DFT bin k the normalized
    band power

        p_k = (X_k^2 + Y_k^2) / (scale^2 * n^2),
        X_k = sum_n v_n * cos_q(2 pi k n / n), Y_k likewise with sin,

    where the trig basis is integer-quantized at ``coef_scale``
    (``dft_coeffs``) so the correlations are exact BIGINT and the only
    float step is the final division — deterministic across
    partitionings and replayable by an oracle. The audio counterpart
    of ``ppm_blur_score``'s quality screen: tone/hum detection (one
    dominant bin), bandwidth checks, narrowband-vs-broadband triage.

    Declared quantization divergence: basis values carry
    ``1/coef_scale`` rounding, so p_k differs from the float DFT by
    O(1e-3) relative — fine for screening, and exactly replayable.

    Files shorter than ``n_samples`` (or malformed) -> NULL powers.
    Output: input columns + ``p_bin{k}`` per bin + ``dom_bin`` (the
    argmax bin, ties to the lowest k; NULL when powers are NULL)."""
    if n_samples < 2:
        raise ValueError(f"n_samples must be >= 2, got {n_samples}")
    if not bins:
        raise ValueError("bins must be non-empty")
    coeffs = dft_coeffs(n_samples, bins, coef_scale)
    basis = {
        k: (np.array(cr, dtype=np.int64), np.array(sr, dtype=np.int64))
        for k, (cr, sr) in coeffs.items()
    }
    denom = float(coef_scale) ** 2 * float(n_samples) ** 2
    fields = [T.StructField(f"p_bin{k}", T.DoubleType()) for k in bins] + [
        T.StructField("dom_bin", T.IntegerType())
    ]

    def per_blob(b):
        hdr = _wav_parse(b)
        if hdr is None or hdr[2] < n_samples:
            return (None,) * (len(bins) + 1)
        nch = hdr[0]
        v = _samples(b)[::nch][:n_samples]
        pw = {}
        for k in bins:
            cr, sr = basis[k]
            x, y = int(v @ cr), int(v @ sr)
            pw[k] = _i64(_i64(x * x) + _i64(y * y))
        best = max(pw.values())
        dom = min(k for k in bins if pw[k] == best)
        return (*[pw[k] / denom for k in bins], dom)

    return _append_kernel(df, binary_col, fields, per_blob)


def ppm_contrast_stretch(
    df: DataFrame,
    binary_col: str = "image",
) -> DataFrame:
    """Per-image min-max contrast normalization audit over real P6
    pixels: computes the integer-luma dynamic range and the FULL
    stretched-histogram moments, i.e. what every pixel becomes under

        v' = round((v - lo) * 1000 / (hi - lo))      (flat image -> 500)

    carried out entirely in exact integer math (round-half-up via
    ``((v-lo)*2000 + (hi-lo)) div (2*(hi-lo))``), so the output is
    exact and oracle-replayable — the preprocessing-parity check for a
    vision-data normalize stage without emitting the pixels themselves.

    Output per image: ``n_px``, ``luma_lo``/``luma_hi`` (0..255 scale),
    ``contrast`` ((hi-lo)/255, 4dp), ``stretch_sum``/``stretch_sumsq``
    (exact BIGINT moments of v' in 0..1000). Zero-area or malformed
    images -> NULL.
    """
    fields = [
        T.StructField("n_px", T.LongType()),
        T.StructField("luma_lo", T.DoubleType()),
        T.StructField("luma_hi", T.DoubleType()),
        T.StructField("contrast", T.DoubleType()),
        T.StructField("stretch_sum", T.LongType()),
        T.StructField("stretch_sumsq", T.LongType()),
    ]

    def per_blob(b):
        p = _pnm_parse(b)
        if p is None or p[0] * p[1] == 0:
            return (None,) * 6
        w, h, _mx, hdr = p
        lm = _luma1000(b, w, h, hdr).ravel()
        lo, hi = int(lm.min()), int(lm.max())
        rng = hi - lo
        if rng > 0:
            vp = ((lm - lo) * 2000 + rng) // (2 * rng)
        else:
            vp = np.full(lm.shape, 500, dtype=np.int64)
        return (
            w * h, lo / 1000.0, hi / 1000.0,
            math.floor(rng / 255000.0 * 10000 + 0.5) / 10000,
            int(vp.sum()), int((vp * vp).sum()),
        )

    return _append_kernel(df, binary_col, fields, per_blob)


def _pgm_lut_apply(b, w, h, mx, hdr, lut: np.ndarray) -> bytes:
    """A real P5 file: the source header fields + ``lut`` applied to
    every gray byte."""
    v = np.frombuffer(b, dtype=np.uint8, offset=hdr)
    header = f"P5\n{w} {h}\n{mx}\n".encode()
    return header + lut[v].astype(np.uint8).tobytes()


def pgm_equalize(
    df: DataFrame,
    binary_col: str = "gray",
    out_col: str = "equalized",
) -> DataFrame:
    """Per-image histogram equalization emitting REAL P5 PGM bytes —
    the classic contrast transform (Gonzalez & Woods §3.3), the
    nonlinear companion of ``ppm_contrast_stretch``:

        out(v) = round((cdf(v) - cdf_min) / (n_px - cdf_min) * maxval)

    with cdf the per-image cumulative gray histogram and cdf_min its
    smallest nonzero entry. All arithmetic is exact integer half-up
    (floor((x*2*maxval + denom) / (2*denom))) so the remap is exact
    and partitioning-independent; constant images (denominator 0) map
    to gray 0 by convention.

    Per image: one 256-bin histogram, its cumulative sum and a 256-entry
    lookup table applied to the pixels — zero shuffles. Rows that are
    not valid P5 (or have zero area) get NULL output.
    """
    fields = [T.StructField(out_col, T.BinaryType())]

    def per_blob(b):
        p = _pnm_parse(b, "P5", 1)
        if p is None or p[0] * p[1] == 0:
            return (None,)
        w, h, mx, hdr = p
        v = np.frombuffer(b, dtype=np.uint8, offset=hdr)
        cdf = np.cumsum(np.bincount(v, minlength=256).astype(np.int64))
        npx = w * h
        cdfmin = int(cdf[int(v.min())])
        denom = npx - cdfmin
        if denom > 0:
            lut = ((cdf - cdfmin) * mx * 2 + denom) // (2 * denom)
        else:
            lut = np.zeros(256, dtype=np.int64)
        return (_pgm_lut_apply(b, w, h, mx, hdr, lut),)

    return _append_kernel(df, binary_col, fields, per_blob)


def pgm_binarize_otsu(
    df: DataFrame,
    binary_col: str = "gray",
    out_col: str = "binarized",
    threshold_col: str = "otsu_threshold",
) -> DataFrame:
    """Otsu binarization emitting REAL P5 bytes: per image, pick the
    threshold t* maximizing the between-class variance of the gray
    histogram (Otsu 1979), then map v <= t* to 0 and v > t* to maxval —
    the document-scan / blank-region screen that needs no tuned
    threshold.

    For each candidate t (every distinct value with cdf(t) < n_px):
        crit(t) = (cdf(t)·S - n_px·cumsum(t))² / (cdf(t)·(n_px - cdf(t)))
    with S the image's gray total — the standard algebraic form of
    ω₀ω₁(μ₀-μ₁)². All inputs are exact integers in doubles (< 2⁵³);
    the numerator is a BIGINT cast to double, then squared and divided,
    the op order an oracle replays; ties break to the smallest t, and a
    constant image (no valid split) thresholds at its single value (all
    pixels → 0).

    Per image: one histogram pass, the criterion over ≤256 candidate
    values, and a lookup-table remap — zero shuffles. Adds
    ``threshold_col`` (BIGINT, NULL for invalid or zero-area rows) next
    to the emitted file.
    """
    fields = [
        T.StructField(out_col, T.BinaryType()),
        T.StructField(threshold_col, T.LongType()),
    ]

    def per_blob(b):
        p = _pnm_parse(b, "P5", 1)
        if p is None or p[0] * p[1] == 0:
            return (None, None)
        w, h, mx, hdr = p
        v = np.frombuffer(b, dtype=np.uint8, offset=hdr)
        counts = np.bincount(v, minlength=256).astype(np.int64)
        present = np.nonzero(counts)[0]
        cdf = np.cumsum(counts)
        cs = np.cumsum(np.arange(256, dtype=np.int64) * counts)
        npx = w * h
        S = int(cs[255])
        best_t, best_crit = None, None
        for u in present:
            c = int(cdf[u])
            if c >= npx:
                continue
            a = float(_i64(c * S - npx * int(cs[u])))
            den = float(c * (npx - c))
            crit = a * a / den
            if best_crit is None or crit > best_crit:
                best_t, best_crit = int(u), crit
        if best_t is None:          # constant image: its single value
            best_t = int(present[0])
        lut = np.where(np.arange(256) <= best_t, 0, mx).astype(np.int64)
        return (_pgm_lut_apply(b, w, h, mx, hdr, lut), best_t)

    return _append_kernel(df, binary_col, fields, per_blob)


def wav_gain(
    df: DataFrame,
    target_peak: int = 30000,
    binary_col: str = "audio",
    out_col: str = "normalized",
) -> DataFrame:
    """Peak normalization emitting REAL WAV bytes: scale every sample
    by target_peak / peak(|samples|) so the loudest sample lands
    exactly on ``target_peak`` — the cheap per-clip loudness leveler
    run before energy thresholding (a quiet and a loud copy of the
    same clip otherwise score differently in every energy screen).

    The rescale is exact integer half-up:
        out = floor((2·v·T + P) / (2·P))       (P = peak, T = target)
    so ±P map to exactly ±T and no clamp is needed for T <= 32767.
    Silent files (P = 0) pass through unchanged (gain is undefined);
    zero-sample or malformed files -> NULL. The 44-byte header is
    copied verbatim (rate/channels/sizes are unchanged).
    """
    if not 0 < target_peak <= 32767:
        raise ValueError(
            f"target_peak must be in (0, 32767], got {target_peak}"
        )
    fields = [T.StructField(out_col, T.BinaryType())]
    tp = int(target_peak)

    def per_blob(b):
        hdr = _wav_parse(b)
        if hdr is None:
            return (None,)
        nch, _rate, n = hdr
        if n * nch == 0:
            return (None,)
        v = _samples(b)
        pk = int(np.abs(v).max())
        if pk == 0:
            return (b,)
        scaled = (2 * v * tp + pk) // (2 * pk)
        return (b[:44] + (scaled % 65536).astype("<u2").tobytes(),)

    return _append_kernel(df, binary_col, fields, per_blob)


# ---------------------------------------------------------------------------
# PNG (truecolor 8-bit): a stored-deflate emitter replayable in SQL, a
# real-DEFLATE emitter, and one decoder for both
# ---------------------------------------------------------------------------

PNG_SIG_HEX = "89504E470D0A1A0A"

PNG_META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("bit_depth", T.IntegerType()),
        T.StructField("color_type", T.IntegerType()),
        T.StructField("format", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

_ZBLK = 65535  # max stored-block payload (RFC 1951 §3.2.4)


def png_file_size(width: int, height: int) -> int:
    """Exact byte size of a ``make_png`` file for static dims."""
    raw = height * (1 + 3 * width)
    n_blocks = max(1, (raw + _ZBLK - 1) // _ZBLK)
    idat_len = 2 + 5 * n_blocks + raw + 4
    return 8 + 25 + (12 + idat_len) + 12


def make_png(width: int, height: int, payload: Column) -> Column:
    """A REAL PNG (8-bit truecolor, non-interlaced) from a BINARY
    ``payload`` of exactly ``width*height*3`` top-down RGB bytes.

    The zlib stream inside IDAT uses STORED (BTYPE=0) deflate blocks in
    the greedy 65535-byte layout — byte-identical to what
    ``zlib.compress(raw, level=0)`` emits for raw <= 65531 bytes (one
    block; past that zlib's block sizes differ from the greedy layout)
    — so the file is readable by any standards-compliant PNG decoder,
    ``decode_png`` included, and replayable byte for byte by a SQL
    oracle (stored blocks are the one deflate flavor whose payload
    needs no bit-level Huffman state; RFC 1951 §3.2.4 byte-aligns
    them). Filter byte 0 (None) per
    scanline; IDAT CRC-32 via Spark's builtin ``crc32``; zlib Adler-32
    via one exact integer fold (s2 = L + Σ (L-j+1)·b_j mod 65521 —
    the closed form of the running-sum recurrence, so one pass).
    ``width``/``height`` are Python ints (row/block layout unrolls into
    the expression); sized for thumbnail/sprite payloads like the
    other emitters.
    """
    if width <= 0 or height <= 0:
        raise ValueError("width/height must be positive")
    raw_len = height * (1 + 3 * width)
    # raw scanline stream: 0x00 filter byte + row bytes, per row
    pieces = []
    for r in range(height):
        pieces.append(F.lit(b"\x00"))
        pieces.append(F.substring(payload, r * 3 * width + 1, 3 * width))
    raw = F.concat(*pieces)

    # IHDR is static for static dims — CRC precomputed in Python
    ihdr_data = struct.pack(">II5B", width, height, 8, 2, 0, 0, 0)
    ihdr = (
        struct.pack(">I", 13) + b"IHDR" + ihdr_data
        + struct.pack(">I", binascii.crc32(b"IHDR" + ihdr_data))
    )

    # zlib: 0x78 0x01 header, greedy stored blocks, Adler-32 trailer
    n_blocks = max(1, (raw_len + _ZBLK - 1) // _ZBLK)
    zpieces = [F.lit(b"\x78\x01")]
    for k in range(n_blocks):
        blk_len = min(_ZBLK, raw_len - k * _ZBLK)
        final = 1 if k == n_blocks - 1 else 0
        zpieces.append(
            F.lit(
                bytes([final])
                + struct.pack("<HH", blk_len, blk_len ^ 0xFFFF)
            )
        )
        zpieces.append(F.substring(raw, k * _ZBLK + 1, blk_len))

    hxr = F.hex(raw)
    idxs = F.sequence(F.lit(1).cast("long"), F.lit(raw_len).cast("long"))
    s1 = (
        F.lit(1).cast("long")
        + F.aggregate(
            idxs,
            F.lit(0).cast("long"),
            _lam("aa1, ja1", lambda a, j: a + _u8h(hxr, j)),
        )
    ) % 65521
    s2 = (
        F.lit(raw_len).cast("long")
        + F.aggregate(
            idxs,
            F.lit(0).cast("long"),
            _lam(
                "aa2, ja2",
                lambda a, j: a + (F.lit(raw_len + 1).cast("long") - j) * _u8h(hxr, j),
            ),
        )
    ) % 65521
    adler = s2 * F.lit(65536).cast("long") + s1

    def be32(col: Column) -> Column:
        return F.unhex(F.lpad(F.hex(col.cast("long")), 8, "0"))

    idat_data = F.concat(*zpieces, be32(adler))
    idat_len = 2 + 5 * n_blocks + raw_len + 4
    idat = F.concat(
        F.lit(struct.pack(">I", idat_len) + b"IDAT"),
        F.concat(*zpieces),
        be32(adler),
        be32(F.crc32(F.concat(F.lit(b"IDAT"), idat_data))),
    )
    iend = b"\x00\x00\x00\x00IEND" + struct.pack(
        ">I", binascii.crc32(b"IEND")
    )
    return F.concat(
        F.lit(bytes.fromhex(PNG_SIG_HEX) + ihdr), idat, F.lit(iend)
    )


_PNG_SIG = bytes.fromhex(PNG_SIG_HEX)


def _png_unfilter(scan: "np.ndarray", w: int, h: int) -> "np.ndarray | None":
    """Invert PNG scanline filters 0-4 (RGB8, bpp=3). NONE/SUB/UP rows
    are vectorized (SUB is a wrapping per-channel ``np.add.accumulate``,
    i.e. mod-256 prefix sum); AVERAGE/PAETH rows fall back to a per-byte
    loop — exactly per the spec's sequential recurrence. Returns the
    (h, 3w) reconstructed pixel matrix, or None on a filter type > 4."""
    if (scan[:, 0] > 4).any():
        return None
    out = np.zeros((h, 3 * w), dtype=np.uint8)
    prev = np.zeros(3 * w, dtype=np.uint8)
    for r in range(h):
        f = int(scan[r, 0])
        rec = scan[r, 1:].copy()
        if f == 1:  # Sub: Recon(x) = Filt(x) + Recon(x - bpp)
            for c in range(3):
                np.add.accumulate(rec[c::3], dtype=np.uint8, out=rec[c::3])
        elif f == 2:  # Up (uint8 add wraps = mod 256)
            rec += prev
        elif f == 3:  # Average
            for i in range(3 * w):
                a = int(rec[i - 3]) if i >= 3 else 0
                rec[i] = (int(rec[i]) + (a + int(prev[i])) // 2) & 0xFF
        elif f == 4:  # Paeth
            for i in range(3 * w):
                a = int(rec[i - 3]) if i >= 3 else 0
                up = int(prev[i])
                c = int(prev[i - 3]) if i >= 3 else 0
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
                rec[i] = (int(rec[i]) + pred) & 0xFF
        out[r] = rec
        prev = out[r]
    return out


def _png_parse(b: "bytes | None"):
    """Real PNG decode (truecolor 8-bit): returns (width, height,
    unfiltered_pixel_matrix) or None.

    Checks, each of which rejects (None): the 8-byte signature; IHDR
    first, 13 bytes, CRC-valid, bit depth 8, color type 2 (RGB),
    non-interlaced; every chunk's CRC-32; at least one IDAT; IEND
    ending the file exactly; the zlib stream (``zlib.decompress``
    verifies the Adler-32 and every stored or fixed/dynamic-Huffman
    block); the inflated length against ``h * (1 + 3w)``; and the
    scanline filter types (0-4, inverted by ``_png_unfilter``).
    Multiple IDAT chunks concatenate and CRC-valid ancillary chunks are
    skipped, as real encoders emit them."""
    if b is None or len(b) < 45:
        return None
    if b[0:8] != _PNG_SIG:
        return None
    be = lambda o, k: int.from_bytes(b[o : o + k], "big")  # noqa: E731
    # IHDR (must be first, 13 bytes, CRC-valid, RGB8 non-interlaced)
    if be(8, 4) != 13 or b[12:16] != b"IHDR":
        return None
    if b[24] != 8 or b[25] != 2 or b[26] != 0 or b[27] != 0 or b[28] != 0:
        return None
    if binascii.crc32(b[12:29]) != be(29, 4):
        return None
    w, h = be(16, 4), be(20, 4)
    if not (w > 0 and h > 0):
        return None
    # chunk walk: every chunk CRC-verified; IDAT payloads concatenate;
    # IEND must terminate the file exactly
    off, idat, ended = 33, [], False
    while off + 12 <= len(b):
        ln = be(off, 4)
        if off + 12 + ln > len(b):
            return None
        typ = b[off + 4 : off + 8]
        if binascii.crc32(b[off + 4 : off + 8 + ln]) != be(off + 8 + ln, 4):
            return None
        if typ == b"IDAT":
            idat.append(b[off + 8 : off + 8 + ln])
        elif typ == b"IEND":
            if ln != 0 or off + 12 != len(b):
                return None
            ended = True
            break
        off += 12 + ln
    if not ended or not idat:
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    stride = 1 + 3 * w
    if len(raw) != h * stride:
        return None
    scan = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
    if not scan[:, 0].any():
        return w, h, scan[:, 1:]
    px = _png_unfilter(scan, w, h)
    return None if px is None else (w, h, px)


def make_png_deflate(width, height, payload, level: int = 6,
                     filter_cycle: bool = True):
    """Genuine compressed-PNG emitter (pandas UDF, binary -> binary):
    the payload column must hold exactly ``height * width * 3`` pixel
    bytes; scanline r is FORWARD-filtered with type ``r % 5`` (all five
    spec filters, exercising the decoder's unfilter path; pass
    ``filter_cycle=False`` for all-NONE) and the stream is compressed
    with ``zlib.compress(level)`` — real fixed/dynamic-Huffman DEFLATE,
    the layout real encoders emit (``make_png`` is the stored-deflate,
    SQL-replayable emitter). Wrong-length or NULL payloads emit NULL.
    """
    w, h = int(width), int(height)

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", binascii.crc32(typ + data))
        )

    @F.pandas_udf("binary")
    def mk(s: pd.Series) -> pd.Series:
        def one(p):
            if p is None or len(p) != w * h * 3:
                return None
            px = np.frombuffer(bytes(p), dtype=np.uint8).reshape(h, 3 * w)
            rows = []
            prev = np.zeros(3 * w, dtype=np.uint8)
            for r in range(h):
                t = r % 5 if filter_cycle else 0
                cur = px[r]
                if t == 0:
                    filt = cur.copy()
                elif t == 1:  # Sub
                    filt = cur.copy()
                    filt[3:] = cur[3:] - cur[:-3]
                elif t == 2:  # Up (uint8 subtract wraps = mod 256)
                    filt = cur - prev
                elif t == 3:  # Average
                    filt = np.empty_like(cur)
                    for i in range(3 * w):
                        a = int(cur[i - 3]) if i >= 3 else 0
                        filt[i] = (int(cur[i]) - (a + int(prev[i])) // 2) & 0xFF
                else:  # Paeth
                    filt = np.empty_like(cur)
                    for i in range(3 * w):
                        a = int(cur[i - 3]) if i >= 3 else 0
                        up = int(prev[i])
                        c = int(prev[i - 3]) if i >= 3 else 0
                        pp = a + up - c
                        pa, pb, pc = abs(pp - a), abs(pp - up), abs(pp - c)
                        pred = (
                            a if (pa <= pb and pa <= pc)
                            else (up if pb <= pc else c)
                        )
                        filt[i] = (int(cur[i]) - pred) & 0xFF
                rows.append(bytes([t]) + filt.tobytes())
                prev = cur
            z = zlib.compress(b"".join(rows), level)
            ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
            return (
                _PNG_SIG + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", z) + chunk(b"IEND", b"")
            )

        return s.map(one)

    return mk(payload)


def decode_png(
    df: DataFrame,
    binary_col: str = "image",
    meta_col: str = "meta",
    channel_means: bool = True,
) -> DataFrame:
    """Parse and decode REAL truecolor PNGs (bit depth 8, color type 2,
    non-interlaced): the chunk walk, zlib inflate and scanline unfilter
    of ``_png_parse``. Accepts what real encoders emit — stored or
    fixed/dynamic-Huffman DEFLATE (``make_png`` and ``make_png_deflate``
    output, ``zlib.compress`` at any level), multiple IDAT chunks,
    CRC-valid ancillary chunks and scanline filters 0-4.

    Integrity is VERIFIED from the bytes, not assumed: the signature,
    IHDR and every chunk's CRC-32, the zlib Adler-32, the inflated
    length against the header dimensions (poison-pill: a lying header
    can never size the decode — same discipline as ``_pnm_header``)
    and every filter type. Anything that fails a check gets NULL
    ``meta`` (and NULL means), never a crashed job.

    Adds ``meta`` and, with ``channel_means``, exact ``mean_r``/
    ``mean_g``/``mean_b`` over the de-filtered pixel bytes.
    """
    fields = [T.StructField(meta_col, PNG_META_SCHEMA)]
    if channel_means:
        fields += [T.StructField(f"mean_{c}", T.DoubleType()) for c in "rgb"]

    def per_blob(b):
        p = _png_parse(b)
        if p is None:
            return (None,) * len(fields)
        w, h, pxm = p
        meta = {
            "width": w, "height": h, "bit_depth": 8, "color_type": 2,
            "format": "png", "n_bytes": len(b),
        }
        if not channel_means:
            return (meta,)
        px = pxm.reshape(-1, 3).astype(np.int64)
        n_px = w * h
        sums = px.sum(axis=0)
        return (meta, *[int(sums[c]) / float(n_px) for c in range(3)])

    return _append_kernel(df, binary_col, fields, per_blob)
