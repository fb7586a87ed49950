"""Real PPM/BMP codec tests (operators/codecs.py): decode bytes built
by an independent Python writer and round-trip the Catalyst builders."""

import pytest
from pyspark.sql import functions as F

from pivot_spark.operators.codecs import decode_bmp, decode_ppm, make_bmp, make_ppm


def _py_ppm(w, h, pixels):
    assert len(pixels) == w * h * 3
    return f"P6\n{w} {h}\n255\n".encode() + bytes(pixels)


def _py_bmp(w, h, bgr_rows_topdown):
    """Independent reference writer: 24-bit BITMAPINFOHEADER BMP."""
    stride = (3 * w + 3) // 4 * 4
    img = b""
    for y in range(h - 1, -1, -1):  # bottom-up
        row = bytes(bgr_rows_topdown[y])
        img += row + b"\x00" * (stride - len(row))
    hdr = (
        b"BM" + (54 + len(img)).to_bytes(4, "little") + b"\x00" * 4
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little") + w.to_bytes(4, "little")
        + h.to_bytes(4, "little") + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little") + (0).to_bytes(4, "little")
        + len(img).to_bytes(4, "little") + (2835).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") + b"\x00" * 8
    )
    return hdr + img


def test_decode_ppm_real_bytes(spark):
    w, h = 3, 2
    px = list(range(10, 10 + w * h * 3))  # 18 distinct bytes
    blob = _py_ppm(w, h, px)
    df = spark.createDataFrame([(1, bytearray(blob)), (2, bytearray(b"nope"))],
                               "id int, image binary")
    out = {r.id: r for r in decode_ppm(df).collect()}
    m = out[1].meta
    assert (m.width, m.height, m.maxval, m.format) == (3, 2, 255, "ppm")
    assert m.n_bytes == len(blob)
    for c, name in enumerate(["mean_r", "mean_g", "mean_b"]):
        want = sum(px[c::3]) / (w * h)
        assert out[1][name] == pytest.approx(want)
    assert out[2].meta is None and out[2].mean_r is None


def test_make_ppm_roundtrip(spark):
    df = spark.createDataFrame([(4, 2, bytearray(bytes(range(24))))],
                               "w int, h int, p binary")
    blob = bytes(df.select(make_ppm(F.col("w"), F.col("h"), F.col("p")).alias("b"))
                 .collect()[0].b)
    assert blob == _py_ppm(4, 2, list(range(24)))
    out = decode_ppm(
        spark.createDataFrame([(bytearray(blob),)], "image binary")
    ).collect()[0]
    assert (out.meta.width, out.meta.height) == (4, 2)


@pytest.mark.parametrize("w,h", [(3, 2), (4, 3)])  # w=3 pads, w=4 doesn't
def test_decode_bmp_real_bytes(spark, w, h):
    rows = [[(y * 50 + x * 7 + c) % 256 for x in range(w) for c in range(3)]
            for y in range(h)]
    blob = _py_bmp(w, h, rows)
    df = spark.createDataFrame([(1, bytearray(blob))], "id int, image binary")
    out = decode_bmp(df).collect()[0]
    m = out.meta
    assert (m.width, m.height, m.bpp, m.data_offset, m.format) == (w, h, 24, 54, "bmp")
    flat = [v for r in rows for v in r]
    for c, name in enumerate(["mean_b", "mean_g", "mean_r"]):
        want = sum(flat[c::3]) / (w * h)
        assert out[name] == pytest.approx(want), name


def test_make_bmp_matches_reference_writer(spark):
    w, h = 3, 2
    flat = list(range(100, 100 + w * h * 3))
    rows = [flat[y * 3 * w:(y + 1) * 3 * w] for y in range(h)]
    df = spark.createDataFrame([(bytearray(bytes(flat)),)], "p binary")
    blob = bytes(df.select(make_bmp(w, h, F.col("p")).alias("b")).collect()[0].b)
    assert blob == _py_bmp(w, h, rows)


def test_decode_bmp_rejects_non_bmp(spark):
    df = spark.createDataFrame([(bytearray(b"not a bitmap at all" * 4),)],
                               "image binary")
    out = decode_bmp(df).collect()[0]
    assert out.meta is None and out.mean_b is None


def test_make_bmp_validates():
    with pytest.raises(ValueError):
        make_bmp(0, 4, F.lit(b""))


def _py_wav(n_channels, rate, samples):
    """Reference writer via stdlib wave: samples = list of signed ints
    (interleaved)."""
    import io
    import struct as st
    import wave

    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(n_channels)
    w.setsampwidth(2)
    w.setframerate(rate)
    w.writeframes(st.pack(f"<{len(samples)}h", *samples))
    w.close()
    return buf.getvalue()


def test_decode_wav_mono(spark):
    from pivot_spark.operators.codecs import decode_wav

    samples = [0, 100, -100, 32767, -32768, 5]
    blob = _py_wav(1, 8000, samples)
    df = spark.createDataFrame([(1, bytearray(blob))], "id int, audio binary")
    out = decode_wav(df, "audio").collect()[0]
    m = out.meta
    assert (m.n_channels, m.sample_rate, m.bits, m.n_samples) == (1, 8000, 16, 6)
    assert m.duration_s == pytest.approx(6 / 8000)
    assert out.mean_ch0 == pytest.approx(sum(samples) / 6)
    assert out.rms_ch0 == pytest.approx((sum(s * s for s in samples) / 6) ** 0.5)
    assert out.mean_ch1 is None and out.rms_ch1 is None


def test_decode_wav_stereo(spark):
    from pivot_spark.operators.codecs import decode_wav

    inter = [10, -20, 30, -40, 50, -60]  # L,R interleaved, 3 frames
    blob = _py_wav(2, 44100, inter)
    df = spark.createDataFrame([(bytearray(blob),)], "audio binary")
    out = decode_wav(df, "audio").collect()[0]
    assert out.meta.n_channels == 2 and out.meta.n_samples == 3
    l, r = inter[0::2], inter[1::2]
    assert out.mean_ch0 == pytest.approx(sum(l) / 3)
    assert out.mean_ch1 == pytest.approx(sum(r) / 3)
    assert out.rms_ch1 == pytest.approx((sum(x * x for x in r) / 3) ** 0.5)


def test_make_wav_matches_stdlib(spark):
    import struct as st

    from pivot_spark.operators.codecs import make_wav

    samples = [1, -2, 300, -400]
    payload = st.pack("<4h", *samples)
    df = spark.createDataFrame([(bytearray(payload),)], "p binary")
    blob = bytes(df.select(make_wav(1, 16000, F.col("p")).alias("b"))
                 .collect()[0].b)
    assert blob == _py_wav(1, 16000, samples)


def test_decode_wav_rejects_non_wav(spark):
    from pivot_spark.operators.codecs import decode_wav

    df = spark.createDataFrame([(bytearray(b"RIFFxxxxJUNK" * 6),)], "audio binary")
    out = decode_wav(df, "audio").collect()[0]
    assert out.meta is None and out.rms_ch0 is None


def test_decode_ppm_multidigit_dims(spark):
    w, h = 12, 10
    px = [(i * 31) % 256 for i in range(w * h * 3)]
    blob = _py_ppm(w, h, px)
    df = spark.createDataFrame([(bytearray(blob),)], "image binary")
    out = decode_ppm(df).collect()[0]
    assert (out.meta.width, out.meta.height) == (w, h)
    assert out.mean_g == pytest.approx(sum(px[1::3]) / (w * h))


def test_decode_ppm_tab_and_crlf_whitespace(spark):
    # Netpbm allows any whitespace between header tokens
    blob = b"P6\t7 3\r\n255\n" + bytes(range(7 * 3 * 3))
    df = spark.createDataFrame([(bytearray(blob),)], "image binary")
    out = decode_ppm(df).collect()[0]
    assert (out.meta.width, out.meta.height, out.meta.maxval) == (7, 3, 255)


# --- media screening features (wav_features / ppm_luma_stats / ppm_resize_nn)

def _py_wav(n_ch, rate, samples):
    """Independent reference writer via the stdlib wave module."""
    import io
    import wave

    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(n_ch)
    w.setsampwidth(2)
    w.setframerate(rate)
    frames = b"".join(
        int(s).to_bytes(2, "little", signed=True) for s in samples
    )
    w.writeframes(frames)
    w.close()
    return buf.getvalue()


def test_wav_features_signed(spark):
    from pivot_spark.operators.codecs import wav_features

    samples = [1000, -2000, 3000, 50, -50, 0, 20000, -30000]
    blob = _py_wav(1, 8000, samples)
    df = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"junk"))], "id int, audio binary"
    )
    out = {r.id: r for r in wav_features(df, silence_abs=100).collect()}
    r = out[1]
    assert r.n_samples == len(samples)
    # crossings: 1000/-2000, -2000/3000, -50/0 no (zero), 0/20000 no
    # (prev==0 -> not a signed crossing), 20000/-30000; 3000/50 no, 50/-50 yes
    crossings = 4
    assert r.zcr == pytest.approx(crossings / (len(samples) - 1))
    assert r.peak == 30000
    import math

    rms = math.sqrt(sum(s * s for s in samples) / len(samples))
    assert r.crest == pytest.approx(30000 / rms)
    assert r.silence_frac == pytest.approx(3 / 8)  # 50, -50, 0
    assert out[2].n_samples is None and out[2].zcr is None


def test_wav_features_stereo_uses_channel0(spark):
    from pivot_spark.operators.codecs import wav_features

    # interleaved L/R: ch0 = [100, -100], ch1 = [30000, 30000]
    blob = _py_wav(2, 44100, [100, 30000, -100, 30000])
    df = spark.createDataFrame([(bytearray(blob),)], "audio binary")
    r = wav_features(df, silence_abs=4096).collect()[0]
    assert r.n_samples == 2 and r.peak == 100
    assert r.zcr == pytest.approx(1.0)


def test_ppm_luma_stats(spark):
    from pivot_spark.operators.codecs import ppm_luma_stats

    # 2x1: pure white and pure black -> mean 127.5, min 0, max 255
    blob = _py_ppm(2, 1, [255, 255, 255, 0, 0, 0])
    flat = _py_ppm(1, 1, [10, 20, 30])  # solid -> std 0 -> blank
    df = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(flat)), (3, bytearray(b"x"))],
        "id int, image binary",
    )
    out = {r.id: r for r in ppm_luma_stats(df, blank_std=5.0).collect()}
    assert out[1].luma_mean == pytest.approx(127.5)
    assert out[1].luma_min == 0.0 and out[1].luma_max == 255.0
    assert out[1].luma_std == pytest.approx(127.5)
    assert out[1].is_blank is False
    lum = (299 * 10 + 587 * 20 + 114 * 30) / 1000
    assert out[2].luma_mean == pytest.approx(lum)
    assert out[2].luma_std == 0.0 and out[2].is_blank is True
    assert out[3].luma_mean is None and out[3].is_blank is None


def test_ppm_resize_nn_roundtrip(spark):
    from pivot_spark.operators.codecs import decode_ppm, ppm_resize_nn

    # 4x2 image, pixel (x,y) has RGB (10x+y, 100+x, 200+y)
    px = []
    for y in range(2):
        for x in range(4):
            px += [10 * x + y, 100 + x, 200 + y]
    blob = _py_ppm(4, 2, px)
    df = spark.createDataFrame([(bytearray(blob),)], "image binary")
    rs = ppm_resize_nn(df, 2, 2, out_col="image2")
    out = rs.select(F.col("image2").alias("image")).collect()[0]
    raw = bytes(out.image)
    # NN: out (x,y) <- src (floor(x*4/2), floor(y*2/2)) = (2x, y)
    want = b"P6\n2 2\n255\n" + bytes(
        [0, 100, 200, 20, 102, 200, 1, 100, 201, 21, 102, 201]
    )
    assert raw == want
    dec = decode_ppm(spark.createDataFrame([(bytearray(raw),)], "image binary"))
    m = dec.collect()[0].meta
    assert (m.width, m.height) == (2, 2)


def test_ppm_resize_nn_rejects_bad_dims(spark):
    from pivot_spark.operators.codecs import ppm_resize_nn

    df = spark.createDataFrame([(bytearray(b"x"),)], "image binary")
    with pytest.raises(ValueError):
        ppm_resize_nn(df, 0, 2)
    # non-PPM bytes -> NULL resized column
    assert ppm_resize_nn(df, 2, 2).collect()[0].resized is None


def test_wav_downsample_real_bytes(spark):
    from pivot_spark.operators.codecs import decode_wav, wav_downsample

    samples = [100, -200, 300, -400, 500, -600, 700]
    blob = _py_wav(1, 9000, samples)
    df = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"junk"))], "id int, audio binary"
    )
    out = {r.id: r for r in wav_downsample(df, 2).collect()}
    got = bytes(out[1].downsampled)
    # decimation keeps indices 0,2,4,6 at floor(9000/2) Hz
    want = _py_wav(1, 4500, [100, 300, 500, 700])
    assert got == want
    assert out[2].downsampled is None
    dec = decode_wav(
        spark.createDataFrame([(bytearray(got),)], "audio binary")
    ).collect()[0]
    assert (dec.meta.sample_rate, dec.meta.n_samples) == (4500, 4)
    assert dec.mean_ch0 == pytest.approx((100 + 300 + 500 + 700) / 4)


def test_wav_downsample_stereo_keeps_frames(spark):
    from pivot_spark.operators.codecs import wav_downsample

    # frames (L,R): (1,2) (3,4) (5,6) -> factor 2 keeps frames 0 and 2
    blob = _py_wav(2, 8000, [1, 2, 3, 4, 5, 6])
    df = spark.createDataFrame([(bytearray(blob),)], "audio binary")
    got = bytes(wav_downsample(df, 2).collect()[0].downsampled)
    assert got == _py_wav(2, 4000, [1, 2, 5, 6])


def test_wav_downsample_validates():
    from pivot_spark.operators.codecs import wav_downsample

    with pytest.raises(ValueError):
        wav_downsample(None, 0)


def _py_pgm(w, h, gray):
    assert len(gray) == w * h
    return f"P5\n{w} {h}\n255\n".encode() + bytes(gray)


def test_ppm_to_pgm_and_decode(spark):
    from pivot_spark.operators.codecs import decode_pgm, ppm_to_pgm

    px = [255, 255, 255, 0, 0, 0, 10, 20, 30]  # white, black, mixed
    blob = _py_ppm(3, 1, px)
    df = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"nope"))], "id int, image binary"
    )
    out = {r.id: r for r in ppm_to_pgm(df).collect()}
    got = bytes(out[1].gray)
    g_mixed = (299 * 10 + 587 * 20 + 114 * 30 + 500) // 1000
    assert got == _py_pgm(3, 1, [255, 0, g_mixed])
    assert out[2].gray is None
    dec = decode_pgm(
        spark.createDataFrame([(bytearray(got),)], "image binary")
    ).collect()[0]
    assert (dec.meta.width, dec.meta.height, dec.meta.maxval, dec.meta.format) == (
        3, 1, 255, "pgm",
    )
    assert dec.mean_gray == pytest.approx((255 + 0 + g_mixed) / 3)


def test_decode_pgm_rejects_ppm(spark):
    from pivot_spark.operators.codecs import decode_pgm

    blob = _py_ppm(1, 1, [1, 2, 3])
    df = spark.createDataFrame([(bytearray(blob),)], "image binary")
    assert decode_pgm(df).collect()[0].meta is None


def test_sniff_media_mixed(spark):
    from pivot_spark.operators.codecs import sniff_media

    ppm = _py_ppm(3, 2, list(range(18)))
    pgm = _py_pgm(2, 2, [9, 9, 9, 9])
    bmp = _py_bmp(1, 1, [[7, 8, 9]])
    wav = _py_wav(2, 22050, [1, 2, 3, 4])
    rows = [
        (1, bytearray(ppm)), (2, bytearray(pgm)), (3, bytearray(bmp)),
        (4, bytearray(wav)), (5, bytearray(b"not a media file")),
    ]
    df = spark.createDataFrame(rows, "id int, blob binary")
    out = {r.id: r for r in sniff_media(df).collect()}
    assert (out[1].format, out[1].width, out[1].height) == ("ppm", 3, 2)
    assert out[1].sample_rate is None and out[1].n_samples is None
    assert (out[2].format, out[2].width, out[2].height) == ("pgm", 2, 2)
    assert (out[3].format, out[3].width, out[3].height) == ("bmp", 1, 1)
    assert (out[4].format, out[4].sample_rate, out[4].n_samples) == (
        "wav", 22050, 2,
    )
    assert out[4].width is None and out[4].height is None
    assert out[5].format == "unknown" and out[5].width is None
    assert out[5].n_bytes == len(b"not a media file")


def test_wav_mixdown_stereo(spark):
    from pivot_spark.operators.codecs import decode_wav, wav_mixdown

    # frames (L,R): (100, 200) -> 150; (-101, 100) -> floor(-0.5) = -1;
    # (-30000, -30000) -> -30000
    blob = _py_wav(2, 8000, [100, 200, -101, 100, -30000, -30000])
    df = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"x"))], "id int, audio binary"
    )
    out = {r.id: r for r in wav_mixdown(df).collect()}
    got = bytes(out[1].mono)
    assert got == _py_wav(1, 8000, [150, -1, -30000])
    assert out[2].mono is None
    dec = decode_wav(
        spark.createDataFrame([(bytearray(got),)], "audio binary")
    ).collect()[0]
    assert (dec.meta.n_channels, dec.meta.n_samples) == (1, 3)
    assert dec.mean_ch0 == pytest.approx((150 - 1 - 30000) / 3)


def test_wav_mixdown_mono_passthrough(spark):
    from pivot_spark.operators.codecs import wav_mixdown

    blob = _py_wav(1, 44100, [5, -6, 7])
    df = spark.createDataFrame([(bytearray(blob),)], "audio binary")
    got = bytes(wav_mixdown(df).collect()[0].mono)
    assert got == blob


def test_wav_features_empty_payload_all_null_stats(spark):
    from pivot_spark.operators.codecs import wav_features

    blob = _py_wav(1, 8000, [])  # valid header, zero samples
    df = spark.createDataFrame([(bytearray(blob),)], "audio binary")
    r = wav_features(df).collect()[0]
    assert r.n_samples == 0
    assert r.zcr is None and r.peak is None
    assert r.crest is None and r.silence_frac is None


# --- poison-pill safety: malformed blobs must yield NULL meta, never a
# crashed job (one bad file in a 100 TB corpus cannot kill the pipeline)

def _topdown_bmp():
    """24-bit BMP with NEGATIVE height (top-down convention) — reads as
    a huge u32 and used to ANSI-crash the int cast."""
    return (
        b"BM" + (118).to_bytes(4, "little") + b"\x00" * 4
        + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + (5).to_bytes(4, "little") + (0xFFFFFFFC).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + (64).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2 + b"\x00" * 8 + b"\x00" * 64
    )


def _lying_wav():
    """Valid 2-sample mono WAV whose data-size field claims 1 MB."""
    blob = bytearray(_py_wav(1, 8000, [1, 2]))
    blob[40:44] = (1_000_000).to_bytes(4, "little")
    return bytes(blob)


def test_poison_pills_null_not_crash(spark):
    from pivot_spark.operators.codecs import (
        decode_bmp,
        decode_ppm,
        decode_wav,
        sniff_media,
    )

    lying_ppm = b"P6\n1000 1000\n255\n" + b"0123456789"
    zero_ch = bytearray(_py_wav(1, 8000, [1]))
    zero_ch[22:24] = (0).to_bytes(2, "little")  # n_channels = 0
    huge_dims = b"P6\n99999999999 2\n255\nxxxxxx"  # >7 digits, no regex match
    rows = [
        (1, bytearray(lying_ppm)),
        (2, bytearray(_topdown_bmp())),
        (3, bytearray(_lying_wav())),
        (4, bytearray(bytes(zero_ch))),
        (5, bytearray(huge_dims)),
    ]
    df = spark.createDataFrame(rows, "id int, blob binary")
    for fn, col in [(decode_ppm, "image"), (decode_bmp, "image"),
                    (decode_wav, "audio")]:
        out = fn(df.select("id", df.blob.alias(col))).collect()
        assert all(r.meta is None for r in out), fn.__name__
    sniffed = sniff_media(df).collect()
    assert all(r.format == "unknown" for r in sniffed)


def test_ppm_trailing_junk_rejected(spark):
    from pivot_spark.operators.codecs import decode_ppm

    exact = _py_ppm(1, 1, [1, 2, 3])
    df = spark.createDataFrame(
        [(1, bytearray(exact)), (2, bytearray(exact + b"junk"))],
        "id int, image binary",
    )
    out = {r.id: r for r in decode_ppm(df).collect()}
    assert out[1].meta is not None
    assert out[2].meta is None  # strict canonical-length contract


def test_wav_trim_silence(spark):
    from pivot_spark.operators.codecs import wav_trim_silence

    cases = {
        0: [0, 0, 0, 9000, -7000, 120, 8000, 0, 0],  # lead+trail trim,
                                                     # quiet interior kept
        1: [0] * 8,                                  # fully silent
        2: [-20000, 5000, 20000],                    # nothing to trim
        3: [],                                       # zero samples
    }
    rows = [(k, bytearray(_py_wav(1, 8000, v))) for k, v in cases.items()]
    rows.append((9, bytearray(b"junk")))
    df = spark.createDataFrame(rows, "id int, audio binary")
    got = {
        r.id: (bytes(r.trimmed) if r.trimmed is not None else None)
        for r in wav_trim_silence(df, threshold_abs=4096).collect()
    }

    def py_trim(samples, thr=4096):
        act = [i for i, v in enumerate(samples) if abs(v) >= thr]
        return _py_wav(1, 8000, samples[act[0]:act[-1] + 1] if act else [])

    for k, v in cases.items():
        assert got[k] == py_trim(v), k
    assert got[9] is None  # poison blob


def test_wav_trim_silence_stereo_frames(spark):
    from pivot_spark.operators.codecs import wav_trim_silence

    ch0 = [0, 0, 9000, 0, 9000, 0]      # decision on channel 0 only
    ch1 = [30000, 2, 3, 4, 5, 30000]    # loud ch1 must NOT keep frames
    inter = [v for p in zip(ch0, ch1) for v in p]
    df = spark.createDataFrame(
        [(1, bytearray(_py_wav(2, 8000, inter)))], "id int, audio binary"
    )
    got = bytes(wav_trim_silence(df, threshold_abs=4096).collect()[0].trimmed)
    kept = [v for p in zip(ch0[2:5], ch1[2:5]) for v in p]
    assert got == _py_wav(2, 8000, kept)


def test_ppm_crop(spark):
    import random

    from pivot_spark.operators.codecs import decode_ppm, ppm_crop

    rng = random.Random(5)
    w, h = 7, 6
    px = [rng.randint(0, 255) for _ in range(w * h * 3)]
    df = spark.createDataFrame(
        [
            (1, bytearray(_py_ppm(w, h, px))),
            (2, bytearray(_py_ppm(3, 3, list(range(27))))),  # window misses
            (3, bytearray(b"nope")),
        ],
        "id int, image binary",
    )
    out = {
        r.id: (bytes(r.cropped) if r.cropped is not None else None)
        for r in ppm_crop(df, 2, 1, 4, 3).collect()
    }
    b = bytes(px)
    exp = b"".join(
        b[((1 + cy) * w + 2) * 3:((1 + cy) * w + 2) * 3 + 12] for cy in range(3)
    )
    assert out[1] == _py_ppm(4, 3, list(exp))
    assert out[2] is None and out[3] is None
    # the crop is itself a decodable P6
    rt = decode_ppm(
        spark.createDataFrame([(1, bytearray(out[1]))], "id int, image binary")
    ).collect()[0]
    assert (rt.meta.width, rt.meta.height) == (4, 3)


def test_ppm_crop_validates():
    from pivot_spark.operators.codecs import ppm_crop

    import pytest as _pt

    with _pt.raises(ValueError):
        ppm_crop(None, -1, 0, 2, 2)
    with _pt.raises(ValueError):
        ppm_crop(None, 0, 0, 0, 2)


def test_e174_payload_transform_parity(spark):
    """The transform-lambda payload builder emits byte-identical PCM to
    an independent Python replay of the unrolled per-sample arithmetic
    (round-7 analysis-cost rework of _e174_payload)."""
    from pivot_spark.plans.declared._q_e156_e181 import _e174_payload

    texts = [
        "The quick brown fox jumps over the lazy dog! 0123456789",
        "",
        "x",
        "\x01\x02\x03odd/even sign branches \x7f\x10" * 4,
    ]
    n = 24
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    ).selectExpr("doc_id", f"rpad(substring(text, 1, {2*n}), {2*n}, ' ') AS pp")
    got = {
        r.doc_id: bytes(r.pay)
        for r in df.select(
            "doc_id", _e174_payload("pp", n).alias("pay")
        ).collect()
    }

    def ref(t: str) -> bytes:
        p = (t[: 2 * n] + " " * (2 * n - len(t[: 2 * n]))).encode()[: 2 * n]
        out = b""
        for i in range(n):
            c0, c1 = p[2 * i], p[2 * i + 1]
            v = c0 + 256 * c1
            signed = -v if c0 % 2 == 1 else v
            stored = signed % 65536
            out += bytes([stored % 256, stored // 256])
        return out

    for i, t in enumerate(texts):
        assert got[i] == ref(t), f"payload mismatch for doc {i}"


def test_arrow_kernels_at_large_payload(spark):
    # Payloads far past thumbnail scale: a ~0.7 MB 600x400 PNG (11
    # stored blocks) and a ~1 MB 16.5-second stereo WAV decode with
    # exact stats, and the WAV fingerprints.
    import random
    import struct
    import zlib

    import numpy as np

    from pivot_spark.operators.codecs import (
        audio_fingerprint,
        decode_png,
        decode_wav,
    )

    rnd = random.Random(23)
    w, h = 600, 400
    rgb = bytes(rnd.randrange(256) for _ in range(w * h * 3))
    raw = b"".join(
        b"\x00" + rgb[r * 3 * w : (r + 1) * 3 * w] for r in range(h)
    )

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    blob = (
        bytes.fromhex("89504E470D0A1A0A")
        + chunk(b"IHDR", struct.pack(">II5B", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw, 0))
        + chunk(b"IEND", b"")
    )
    img = spark.createDataFrame([(1, blob)], "id long, image binary")
    r = decode_png(img).head()
    assert r["meta"]["width"] == w and r["meta"]["height"] == h
    px = np.frombuffer(rgb, dtype=np.uint8).reshape(-1, 3).astype(np.int64)
    for c, name in enumerate(["mean_r", "mean_g", "mean_b"]):
        assert r[name] == int(px[:, c].sum()) / (w * h), name

    n = 264_000  # stereo frames
    samples = [((i * 2654435761) % 65536) - 32768 for i in range(2 * n)]
    wav = spark.createDataFrame(
        [(1, _py_wav(2, 16000, samples))], "id long, audio binary"
    )
    rw = decode_wav(wav).head()
    assert rw["meta"]["n_samples"] == n
    ch0 = np.array(samples[0::2], dtype=np.int64)
    assert rw["mean_ch0"] == int(ch0.sum()) / n
    assert audio_fingerprint(wav).head()["afp"] is not None


def test_arrow_kernel_is_zero_shuffle(spark):
    from pivot_spark.operators.codecs import wav_features

    df = spark.createDataFrame(
        [(1, _py_wav(1, 8000, [0, 100, -200, 300]))], "id long, audio binary"
    )
    plan = wav_features(df)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Exchange" not in plan and "Join" not in plan


def _run_kernel(fn, df, bad_ids):
    """Run ``fn`` over ``df``; every column it adds must be NULL on the
    ``bad_ids`` rows. Returns {id: row}."""
    out = fn(df)
    new = [c for c in out.columns if c not in df.columns]
    rows = {r["id"]: r for r in out.collect()}
    for i in bad_ids:
        assert all(rows[i][c] is None for c in new), (i, rows[i])
    return rows


def test_kernels_null_malformed_and_degenerate_inputs(spark):
    """Edge inputs of every pixel/sample kernel. NULL blobs, garbage,
    a length-mismatched header and a WAV whose data is not
    frame-aligned null every output column; zero-sample/zero-area
    files, a 3-channel WAV, a low-maxval PGM and an exact Otsu tie
    follow each operator's documented convention."""
    import math

    from pivot_spark.operators import codecs as C

    misaligned = bytearray(_py_wav(1, 8000, [1, 2]))
    misaligned[40:44] = (3).to_bytes(4, "little")  # odd data size
    wavs = spark.createDataFrame(
        [
            (1, None),
            (2, b"RIFF" + b"x" * 60),
            (3, bytes(misaligned[:47])),
            (4, _py_wav(1, 8000, [])),
            (5, _py_wav(3, 16000, [1, 2, 3, -4, -5, -6])),
        ],
        "id long, audio binary",
    )
    bad = (1, 2, 3)
    r = _run_kernel(C.decode_wav, wavs, bad)
    assert r[4]["meta"]["n_samples"] == 0 and r[4]["mean_ch0"] is None
    assert r[5]["meta"]["n_channels"] == 3 and r[5]["meta"]["n_samples"] == 2
    assert (r[5]["mean_ch0"], r[5]["mean_ch1"]) == (-1.5, -1.5)
    assert r[5]["rms_ch0"] == math.sqrt(8.5)
    r = _run_kernel(C.wav_features, wavs, bad)
    assert [r[5][c] for c in ("n_samples", "zcr", "peak", "silence_frac")] == [
        2, 1.0, 4, 1.0,
    ]
    assert r[5]["crest"] == 4 / math.sqrt(8.5)
    r = _run_kernel(C.wav_mixdown, wavs, bad)  # first two channels only
    assert r[4]["mono"] is None
    assert bytes(r[5]["mono"]) == _py_wav(1, 16000, [1, -5])
    r = _run_kernel(lambda d: C.wav_trim_silence(d, threshold_abs=3), wavs, bad)
    assert bytes(r[4]["trimmed"]) == _py_wav(1, 8000, [])
    assert bytes(r[5]["trimmed"]) == _py_wav(3, 16000, [-4, -5, -6])
    r = _run_kernel(lambda d: C.wav_downsample(d, 2), wavs, bad)
    assert r[4]["downsampled"] is None
    assert bytes(r[5]["downsampled"]) == _py_wav(3, 8000, [1, 2, 3])
    r = _run_kernel(C.wav_gain, wavs, bad)
    assert r[4]["normalized"] is None
    assert bytes(r[5]["normalized"]) == _py_wav(
        3, 16000, [5000, 10000, 15000, -20000, -25000, -30000]
    )
    r = _run_kernel(lambda d: C.audio_fingerprint(d, n_frames=2), wavs, bad)
    assert r[4]["afp"] is None and r[5]["afp"] == 1
    r = _run_kernel(lambda d: C.wav_spectral(d, 2, bins=(1,)), wavs, bad)
    assert r[4]["p_bin1"] is None
    assert (r[5]["p_bin1"], r[5]["dom_bin"]) == (6.25, 1)

    images = spark.createDataFrame(
        [
            (1, None),
            (2, b"not an image at all"),
            (3, b"P6\n4 4\n255\nshort"),
            (4, b"P6\n0 4\n255\n"),
        ],
        "id long, image binary",
    )
    r = _run_kernel(C.decode_ppm, images, (1, 2, 3))
    assert r[4]["meta"]["width"] == 0 and r[4]["mean_r"] is None
    r = _run_kernel(C.ppm_dhash, images, (1, 2, 3))
    assert r[4]["dhash"] == 0
    for fn in (C.ppm_luma_stats, C.ppm_blur_score, C.ppm_contrast_stretch,
               C.ppm_to_pgm, C.decode_bmp, C.decode_png):
        _run_kernel(fn, images, (1, 2, 3, 4))

    grays = spark.createDataFrame(
        [
            (1, None),
            (2, b"not an image at all"),
            (3, b"P5\n4 4\n255\nnope"),
            (4, b"P5\n0 3\n255\n"),
            (5, b"P5\n3 3\n99\n" + bytes(range(9))),
        ],
        "id long, gray binary",
    )
    r = _run_kernel(lambda d: C.decode_pgm(d, "gray"), grays, (1, 2, 3))
    assert r[4]["meta"]["width"] == 0 and r[4]["mean_gray"] is None
    assert r[5]["meta"]["maxval"] == 99 and r[5]["mean_gray"] == 4.0
    r = _run_kernel(C.pgm_equalize, grays, (1, 2, 3, 4))
    assert bytes(r[5]["equalized"]) == b"P5\n3 3\n99\n" + bytes(
        [0, 12, 25, 37, 50, 62, 74, 87, 99]
    )
    # t=3 and t=4 tie at crit 405.0 exactly: the smaller wins
    r = _run_kernel(C.pgm_binarize_otsu, grays, (1, 2, 3, 4))
    assert r[5]["otsu_threshold"] == 3
    assert bytes(r[5]["binarized"]) == b"P5\n3 3\n99\n" + bytes([0] * 4 + [99] * 5)
