"""Comparison/pair-volume probes for the sf1-over-linear queries —
the e10 adjudication device (round-6 verdict item 3) generalized: for
each query whose sf0.1->sf1 slope exceeded the linear band, measure the
quantity that actually drives its cost (candidate join rows / GEMM
comparisons) at sf0.1, sf1 AND sf10 with LINEAR-cost aggregates (no
pair join ever runs), and write an adjudication row into
SOAK_SF10.json. A measured volume curve either convicts the plan
(volume grows faster than the data with no output to show for it) or
acquits it (volume tracks the true pair count, which itself grows
quadratically on this corpus — Omega(output) for ANY exact algorithm).

Three probes reuse the operators' own ``max_comparisons`` guards
(round-6 verdict item 7): calling the operator with ``max_comparisons=0``
runs its linear probe and raises a ValueError naming the measured
volume, which this tool parses — the guard IS the probe, so the number
recorded here is exactly the number the fail-fast protects against.

Usage: python tools/scale_probe.py [query ...]   (default: all nine)
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

SF_DIRS = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": os.path.join(REPO, "testdata_sf1"),
    "sf10": os.path.join(REPO, "testdata_sf10"),
}


def _ccomb(df, keys) -> "tuple[int, int]":
    """sum over key groups of C(count, 2) + the hottest bucket size —
    the candidate volume of a bucket self-join, via one aggregate."""
    r = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(
            F.sum(F.expr("__c * (__c - 1) / 2")).alias("__v"),
            F.max("__c").alias("__m"),
        )
        .collect()[0]
    )
    return int(r["__v"] or 0), int(r["__m"] or 0)


def _divmod_blocks(sigs, sig_col: str, num_bits: int, n_blocks: int):
    """Replicate neardup.hamming_pairs' block splitting (divmod width
    spread) for the volume probe."""
    base_w, extra = divmod(num_bits, n_blocks)
    widths = [base_w + (1 if i < extra else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    return sigs.where(F.col(sig_col).isNotNull()).select(
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col(sig_col), offsets[i]).bitwiseAND(
                        F.lit((1 << widths[i]) - 1).cast("long")
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("__blk", "__val")
    )


def _guard_volume(fn) -> float:
    """Run an operator with max_comparisons=0 and parse the measured
    volume out of its guard ValueError (0 if the guard does not fire)."""
    try:
        fn()
    except ValueError as exc:
        m = re.search(r"(\d+(?:\.\d+)?e[+-]\d+)", str(exc))
        if m:
            return float(m.group(1))
        raise
    return 0.0


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def probe_e08(spark, sf_dir):
    from pivot_spark.operators.neardup import simhash_df

    sigs = simhash_df(_docs(spark, sf_dir), "doc_id", "text", 60, 2, "md5_60")
    v, m = _ccomb(
        _divmod_blocks(sigs, "__sig", num_bits=60, n_blocks=8),
        ["__blk", "__val"],
    )
    return {"candidates": v, "max_bucket": m}


def probe_e117(spark, sf_dir):
    from pivot_spark.operators import multimodal as M
    from pivot_spark.operators.multimodal import ahash

    docs = _docs(spark, sf_dir)
    imgs = docs.select(
        "doc_id",
        M.make_fake_image(
            (F.col("doc_id") % 64 + 1).cast("int"),
            (F.col("doc_id") % 48 + 1).cast("int"),
            F.encode(F.col("text"), "UTF-8"),
        ).alias("image"),
    )
    h = ahash(imgs, "image", grid=60)
    # ahash_pairs -> hamming_pairs: n_blocks = max_hamming + 1 = 6
    v, m = _ccomb(
        _divmod_blocks(h, "ahash", num_bits=60, n_blocks=6), ["__blk", "__val"]
    )
    return {"candidates": v, "max_bucket": m}


def probe_e186(spark, sf_dir):
    from pivot_spark.operators.codecs import audio_fingerprint
    from pivot_spark.plans.declared._q_e182_e207 import _E185_NF, _e185_audio

    sigs = audio_fingerprint(
        _e185_audio(spark, sf_dir), out_col="__afp", n_frames=_E185_NF
    )
    v, m = _ccomb(
        _divmod_blocks(sigs, "__afp", num_bits=_E185_NF - 1, n_blocks=3),
        ["__blk", "__val"],
    )
    return {"candidates": v, "max_bucket": m}


def probe_e188(spark, sf_dir):
    from pivot_spark.operators.codecs import ppm_dhash
    from pivot_spark.plans.declared._q_e182_e207 import _e187_images

    sigs = ppm_dhash(_e187_images(spark, sf_dir))
    v, m = _ccomb(
        _divmod_blocks(sigs, "dhash", num_bits=56, n_blocks=7),
        ["__blk", "__val"],
    )
    return {"candidates": v, "max_bucket": m}


def probe_e11(spark, sf_dir):
    n = _emb(spark, sf_dir).count()
    return {"candidates": n * (n - 1) // 2, "n_rows": n, "flops": n * (n - 1) // 2 * 64}


def probe_e12(spark, sf_dir):
    from pivot_spark.operators.similarity import srp_signatures_pd

    emb = _emb(spark, sf_dir)
    tagged = emb.select(
        F.posexplode(
            srp_signatures_pd(F.col("embedding"), 6, 64, 8, 42)
        ).alias("__t", "__sig")
    )
    v, m = _ccomb(tagged, ["__t", "__sig"])
    return {"candidates": v, "max_bucket": m}


def probe_e73(spark, sf_dir):
    from pivot_spark.operators.fuzzy import fuzzy_join

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    dirty = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.concat(F.substring("c_name", 1, 17), F.lit("X")).alias("dirty_name"),
    )
    clean = cust.select(F.col("c_name").alias("match_name"))
    v = _guard_volume(
        lambda: fuzzy_join(
            dirty, clean, "dirty_name", "match_name", 2,
            F.substring("dirty_name", 1, 16), F.substring("match_name", 1, 16),
            max_comparisons=0,
        )
    )
    return {"candidates": v}


def probe_e89(spark, sf_dir):
    from pivot_spark.operators.neardup import ngram_containment_pairs

    v = _guard_volume(
        lambda: ngram_containment_pairs(
            _docs(spark, sf_dir), threshold=0.8, max_comparisons=0
        )
    )
    return {"candidates": v}


def probe_e123(spark, sf_dir):
    from pivot_spark.operators.neardup import word_shingles_pd
    from pivot_spark.operators.tfidf import tfidf_cosine_pairs

    docs = _docs(spark, sf_dir).select(
        "doc_id", word_shingles_pd(F.lower(F.col("text")), 3).alias("grams")
    )
    v = _guard_volume(
        lambda: tfidf_cosine_pairs(
            docs, "doc_id", "grams", threshold=0.35, max_comparisons=0
        )
    )
    return {"candidates": v}


PROBES = {
    "e08_neardup_simhash": probe_e08,
    "e11_neardup_cosine": probe_e11,
    "e12_neardup_cosine_lsh": probe_e12,
    "e73_fuzzy_match": probe_e73,
    "e89_containment": probe_e89,
    "e117_image_neardup": probe_e117,
    "e123_tfidf_cosine_join": probe_e123,
    "e186_audio_neardup": probe_e186,
    "e188_image_neardup_dhash": probe_e188,
}

# one-line adjudications: what the volume curve means for each plan
ADJUDICATIONS = {
    "e08_neardup_simhash": (
        "block-bucket load (60-bit sigs / 8 blocks): candidate volume is "
        "the superset any pigeonhole scheme must verify; wall-clock "
        "measured at sf10 where recorded"
    ),
    "e11_neardup_cosine": (
        "intrinsic all-pairs (exact=True GEMM): C(n,2) comparisons by "
        "definition; wall-clock MEASURED at sf10 after the round-7 "
        "tile fix (repartition to default parallelism + <=128 MB "
        "score blocks — the original ran every tile in ONE worker "
        "with a 16 GB score matrix): 100 s for 2e10 comparisons, "
        "engine slope 126 against OUTPUT growth 10,541x (920 -> 9.7M "
        "true pairs, the cloned corpus pairs at cos 1.0) — Omega("
        "output) at ~1% of the output growth rate; the operator "
        "refuses corpora past exact_max_rows and the 100x path is "
        "e12 (SRP-LSH)"
    ),
    "e12_neardup_cosine_lsh": (
        "SRP bucket load: sum over (table, signature) of C(c,2); random "
        "embeddings concentrate, so buckets grow with corpus size — "
        "output (true pairs >= 0.4) itself grows ~quadratically"
    ),
    "e73_fuzzy_match": (
        "FIXED and acquitted: candidate volume is FLAT (1.5e5 at "
        "sf0.1, sf1 AND sf10 — distinct c_name stays 15k at every "
        "scale and the distinct-verify collapse absorbs the 100x "
        "clone growth), and the round-7 distinct-reference fix "
        "removed the clone-count join-back re-expansion that the "
        "probe could not see (2.1e9 pre-aggregate rows -> 21M): "
        "measured sf10 wall-clock 1020 s -> 13.2 s, slope 688 -> "
        "4.0; guard = fuzzy_join(max_comparisons)"
    ),
    "e89_containment": (
        "prefix x posting volume on a vocabulary-saturated corpus: "
        "df of every token grows with corpus size (e10's regime, "
        "asymmetric variant); guard = ngram_containment_pairs("
        "max_comparisons); bounded alternative: ngram_jaccard_pairs / "
        "MinHash-LSH"
    ),
    "e117_image_neardup": (
        "output-driven: the fake-image corpus has dense perceptual-hash "
        "clusters, so TRUE pairs grow ~quadratically — Omega(output) "
        "for any exact pair miner; candidate volume tracks the output"
    ),
    "e123_tfidf_cosine_join": (
        "sparse dot-product bound sum C(df,2) after the stop-term "
        "prune; guard = tfidf_cosine_pairs(max_comparisons); bounded "
        "alternative: MinHash-LSH with this join as verifier"
    ),
    "e186_audio_neardup": (
        "output-driven: 16-bit energy-delta fingerprints over "
        "deterministic synthetic audio collide in dense clusters; true "
        "pairs grow ~quadratically — Omega(output) for any exact miner"
    ),
    "e188_image_neardup_dhash": (
        "output-driven: the ~1.4%-of-docs solid-image cluster alone is "
        "C(0.014n, 2) hamming-0 TRUE pairs (37M rows at sf1) — "
        "Omega(output); candidate volume tracks the output"
    ),
}


def main() -> None:
    only = sys.argv[1:]
    names = only or sorted(PROBES)

    from pivot_spark.session import get_spark

    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")

    art_path = os.path.join(REPO, "SOAK_SF10.json")
    with open(art_path) as fh:
        art = json.load(fh)
    queries = art.setdefault("queries", {})

    for q in names:
        fn = PROBES[q]
        row = queries.setdefault(q, {})
        probe = {}
        for sf, d in SF_DIRS.items():
            if not os.path.isdir(d):
                continue
            r = fn(spark, d)
            probe[sf] = r
            print(f"{q:28s} {sf:6s} candidates={r['candidates']:.3e} "
                  f"max_bucket={r.get('max_bucket', '-')}", flush=True)
        row["comparisons_probe"] = {
            sf: r["candidates"] for sf, r in probe.items()
        }
        mb = {sf: r["max_bucket"] for sf, r in probe.items() if "max_bucket" in r}
        if mb:
            row["max_bucket"] = mb
        row["adjudicated"] = ADJUDICATIONS[q]
        row.setdefault("metric", "probe")

    with open(art_path, "w") as fh:
        json.dump(art, fh, indent=1, sort_keys=True)
    print(f"\nmerged {len(names)} adjudication rows into {art_path}")


if __name__ == "__main__":
    main()
