"""Perceptual-fingerprint tests (operators/codecs.py::audio_fingerprint /
ppm_dhash, operators/neardup.py::hamming_pairs): Catalyst output vs
independent Python reference implementations, poison-pill behavior, and
the generic Hamming band-join vs brute force."""

import random
import struct

import pytest
from pyspark.sql import functions as F

from pivot_spark.operators.codecs import (
    audio_fingerprint,
    audio_fingerprint_pairs,
    make_ppm,
    make_wav,
    ppm_dhash,
)
from pivot_spark.operators.neardup import hamming_pairs


# --- independent Python references -----------------------------------------

def _py_wav(samples, n_channels=1, rate=8000):
    data = b"".join(struct.pack("<h", s) for s in samples)
    hdr = (
        b"RIFF" + (36 + len(data)).to_bytes(4, "little") + b"WAVEfmt "
        + (16).to_bytes(4, "little") + (1).to_bytes(2, "little")
        + n_channels.to_bytes(2, "little") + rate.to_bytes(4, "little")
        + (rate * 2 * n_channels).to_bytes(4, "little")
        + (2 * n_channels).to_bytes(2, "little") + (16).to_bytes(2, "little")
        + b"data" + len(data).to_bytes(4, "little")
    )
    return hdr + data


def _py_afp(samples, nf=17):
    n = len(samples)
    en = [
        sum(v * v for v in samples[f * n // nf:(f + 1) * n // nf])
        for f in range(nf)
    ]
    return sum((1 << i) for i in range(nf - 1) if en[i + 1] > en[i])


def _py_dhash(w, h, px, gw=8, gh=7):
    lm = []
    for k in range(gh * (gw + 1)):
        r, c = divmod(k, gw + 1)
        sr, sc = (r * h) // gh, (c * w) // (gw + 1)
        o = (sr * w + sc) * 3
        lm.append(299 * px[o] + 587 * px[o + 1] + 114 * px[o + 2])
    return sum(
        (1 << (r * gw + c))
        for r in range(gh)
        for c in range(gw)
        if lm[r * (gw + 1) + c + 1] > lm[r * (gw + 1) + c]
    )


def _ham(a, b):
    return bin(a ^ b).count("1")


# --- audio fingerprint ------------------------------------------------------

def test_audio_fingerprint_matches_python(spark):
    rng = random.Random(11)
    rows, expect = [], {}
    for did in range(8):
        n = [24, 48, 5, 48, 48, 1, 30, 48][did]  # incl. n < n_frames and n=1
        samples = [rng.randint(-32768, 32767) for _ in range(n)]
        rows.append((did, bytearray(_py_wav(samples))))
        expect[did] = _py_afp(samples)
    df = spark.createDataFrame(rows, "doc_id int, audio binary")
    got = {r.doc_id: r.afp for r in audio_fingerprint(df).collect()}
    assert got == expect


def test_audio_fingerprint_stereo_channel0(spark):
    rng = random.Random(12)
    ch0 = [rng.randint(-32768, 32767) for _ in range(40)]
    ch1 = [rng.randint(-32768, 32767) for _ in range(40)]
    inter = [v for p in zip(ch0, ch1) for v in p]
    df = spark.createDataFrame(
        [(1, bytearray(_py_wav(inter, n_channels=2)))], "doc_id int, audio binary"
    )
    got = audio_fingerprint(df).collect()[0].afp
    assert got == _py_afp(ch0)  # channel 1 never read


def test_audio_fingerprint_gain_invariant_and_poison(spark):
    # scaling samples by 2 preserves every energy comparison -> same fp
    rng = random.Random(13)
    s = [rng.randint(-8000, 8000) for _ in range(48)]
    s2 = [v * 2 for v in s]
    df = spark.createDataFrame(
        [
            (1, bytearray(_py_wav(s))),
            (2, bytearray(_py_wav(s2))),
            (3, bytearray(b"RIFFgarbage")),
            (4, bytearray(b"")),
        ],
        "doc_id int, audio binary",
    )
    got = {r.doc_id: r.afp for r in audio_fingerprint(df).collect()}
    assert got[1] == got[2] == _py_afp(s)
    assert got[3] is None and got[4] is None


def test_audio_fingerprint_validates():
    with pytest.raises(ValueError):
        audio_fingerprint(None, n_frames=1)
    with pytest.raises(ValueError):
        audio_fingerprint(None, n_frames=65)


def test_audio_fingerprint_pairs_vs_bruteforce(spark):
    rng = random.Random(14)
    sigs = {}
    rows = []
    base = [rng.randint(-32768, 32767) for _ in range(48)]
    for did in range(12):
        if did % 3 == 0:
            s = base[:]  # exact duplicate cluster
        elif did % 3 == 1:
            s = [v + rng.randint(-50, 50) for v in base]  # near-dup
        else:
            s = [rng.randint(-32768, 32767) for _ in range(48)]
        rows.append((did, bytearray(_py_wav(s))))
        sigs[did] = _py_afp(s)
    rows.append((99, bytearray(b"not a wav")))  # poison row: excluded
    df = spark.createDataFrame(rows, "doc_id int, audio binary")
    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in audio_fingerprint_pairs(df, max_hamming=3).collect()
    )
    bf = sorted(
        (a, b, _ham(sigs[a], sigs[b]))
        for a in sigs
        for b in sigs
        if a < b and _ham(sigs[a], sigs[b]) <= 3
    )
    assert got == bf and len(bf) >= 6  # the dup cluster alone gives C(4,2)


# --- image dHash ------------------------------------------------------------

def test_ppm_dhash_matches_python(spark):
    rng = random.Random(15)
    rows, expect = [], {}
    for did in range(6):
        w, h = 3 + did % 5, 2 + did % 4
        px = bytes(rng.randint(0, 255) for _ in range(w * h * 3))
        if did == 4:
            px = bytes([123]) * (w * h * 3)  # solid -> all-zero hash
        rows.append((did, w, h, bytearray(px)))
        expect[did] = _py_dhash(w, h, px)
    df = spark.createDataFrame(rows, "doc_id int, w int, h int, p binary")
    img = df.select(
        "doc_id", make_ppm(F.col("w"), F.col("h"), F.col("p")).alias("image")
    )
    got = {r.doc_id: r.dhash for r in ppm_dhash(img).collect()}
    assert got == expect
    assert got[4] == 0


def test_ppm_dhash_brightness_shift_invariant(spark):
    # +10 on every byte preserves all luma comparisons (no clipping used)
    rng = random.Random(16)
    w, h = 6, 5
    px = bytes(rng.randint(0, 200) for _ in range(w * h * 3))
    px2 = bytes(v + 10 for v in px)
    df = spark.createDataFrame(
        [(1, bytearray(px)), (2, bytearray(px2))], "doc_id int, p binary"
    )
    img = df.select(
        "doc_id", make_ppm(F.lit(w), F.lit(h), F.col("p")).alias("image")
    )
    got = {r.doc_id: r.dhash for r in ppm_dhash(img).collect()}
    assert got[1] == got[2]


def test_ppm_dhash_poison_and_validates(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"P6 junk")), (2, bytearray(b""))], "doc_id int, image binary"
    )
    got = [r.dhash for r in ppm_dhash(df).collect()]
    assert got == [None, None]
    with pytest.raises(ValueError):
        ppm_dhash(None, grid_w=8, grid_h=8)  # 64 bits > 63


# --- generic hamming_pairs --------------------------------------------------

def test_hamming_pairs_generic_vs_bruteforce(spark):
    rng = random.Random(17)
    sigs = {i: rng.getrandbits(60) for i in range(40)}
    # plant a tight cluster
    for i in range(40, 46):
        sigs[i] = sigs[0] ^ sum(1 << b for b in rng.sample(range(60), i - 40))
    rows = [(i, s) for i, s in sigs.items()] + [(99, None)]
    df = spark.createDataFrame(rows, "id bigint, sig bigint")
    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_pairs(df, "id", "sig", num_bits=60, max_hamming=4).collect()
    )
    bf = sorted(
        (a, b, _ham(sigs[a], sigs[b]))
        for a in sigs
        for b in sigs
        if a < b and _ham(sigs[a], sigs[b]) <= 4
    )
    assert got == bf and len(bf) >= 4


def test_hamming_pairs_validates():
    with pytest.raises(ValueError):
        hamming_pairs(None, "id", "sig", num_bits=8, max_hamming=8)
    with pytest.raises(ValueError, match="max_hamming"):
        hamming_pairs(None, "id", "sig", num_bits=8, max_hamming=-1)
