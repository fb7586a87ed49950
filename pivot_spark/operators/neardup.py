"""Near-duplicate detection: MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine — the dedup battery of a large-scale training-data
pipeline.

Pipeline shape (MinHash path), all DataFrame-native:
    shingle -> hash (xxhash64) -> k minhashes (affine transforms, one
    aggregation) -> band keys -> self-join on (band, key) -> candidate
    pairs -> exact Jaccard verify -> pairs >= threshold

Scale notes:
* shingling + hashing are scan-stage expressions (no shuffle);
* the k minhash values come from ONE groupBy(doc) over exploded shingles
  (element-wise min of k affine transforms — map-side combine applies);
* the LSH self-join shuffles on band keys — at 100 TB band buckets are
  the unit of parallelism; hot buckets (boilerplate shingles) are the
  skew risk, mitigated by AQE skew-join + the band hash being uniform;
* exact verification joins candidate pairs back to per-doc shingle-hash
  sets; state per doc is the distinct-shingle set (bounded by doc
  length), never corpus-sized.

Each mining step exists once: every Hamming-distance miner (SimHash,
aHash, dHash, audio) is ``hamming_pairs``' block join; every exact
verify is ``_verify_join``, which broadcasts the id->payload map only
when the size counts of the fence job that already ran put it under
256 MiB; MinHash band keys come from ``_banded``.
"""

from __future__ import annotations

import logging
import random
from typing import Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pivot_spark.operators._fence import materialize
from pivot_spark.operators._spread import spread_input

# 31-bit Mersenne prime: (a*h + b) with a,b,h < 2^31 stays under 2^63, so
# the affine MinHash permutations are exact in Spark's signed-long math
# (a 61-bit modulus would silently wrap the products).
MERSENNE_PRIME = (1 << 31) - 1


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of ``text`` (whitespace-tokenized).
    Matches the DuckDB oracle form: consecutive n-token windows joined by a
    single space; docs shorter than n tokens produce their full text as the
    single shingle."""
    toks = F.filter(F.split(text, r"\s+"), lambda w: w != "")

    # bind the token array to a lambda variable (single-element array +
    # transform) so the split tree is evaluated ONCE per row: outer
    # expressions referenced inside a higher-order-function lambda are
    # re-evaluated per element (no CSE across the lambda boundary),
    # which made the inline form O(n^2) per doc — measured 8x slower
    def _from(tk: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(tk) - n, F.lit(0)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(tk, i + 1, n), " "))
        )

    return F.element_at(F.transform(F.array(toks), _from), 1)


def word_shingles_pd(
    text: Column, n: int = 3, nondeterministic: bool = False
) -> Column:
    """Same shingles as ``word_shingles`` (byte-identical strings, same
    null/short-doc edges) computed in an Arrow-batched pandas UDF. The
    expression form runs ~6 interpreted higher-order passes per doc
    (split/filter/sequence/transform/slice/join) — the shared bottleneck
    of every shingle-based operator (~1 ms/doc measured); this is the
    corpus-scale path.

    ``nondeterministic=True`` marks the (pure) UDF non-deterministic as
    an optimizer fence (guide §4.4): when the shingle array feeds an
    ``explode`` directly, the generate's implicit ``size(..) > 0 AND
    isnotnull(..)`` filter is pushed below the projection and the UDF is
    evaluated TWICE per row (two stacked ArrowEvalPython nodes — seen in
    the e123 plan); the fence keeps it to one evaluation. Opt-in only:
    the mark also disables common-subexpression collapsing, so callers
    that reference the result several times in one projection (e.g.
    ``ngram_overlap.word_ngram_hashes``) must NOT set it."""
    from pyspark.sql.functions import pandas_udf

    import re

    # Java's \s is ASCII-only ([ \t\n\x0B\f\r]); python's str.split()/re \s
    # are unicode-aware (\xa0 etc.) — use the Java class so tokens match
    # the F.split expression byte-for-byte.
    ws = re.compile("[ \t\n\x0b\f\r]+")

    @pandas_udf("array<string>")
    def sh(s: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return None
            toks = [w for w in ws.split(t) if w]
            return list(
                dict.fromkeys(
                    " ".join(toks[i : i + n])
                    for i in range(max(len(toks) - n, 0) + 1)
                )
            )

        return s.map(one)

    if nondeterministic:
        sh = sh.asNondeterministic()
    return sh(text)



_VERIFY_BROADCAST_BYTES = 256 << 20


def _verify_join(
    cand: DataFrame, payload: DataFrame, rows: int, elems: int
) -> DataFrame:
    """The exact-verify join of every pair miner: candidate pairs
    ``cand`` (__ida, __idb) joined to the id -> payload frame
    ``payload`` (__id, value) on both sides, giving (__ida, __idb, __a,
    __b); each caller scores its own verify over __a/__b.

    The payload is broadcast (measured ~3x faster than the shuffled
    join at 5k docs) when its estimated size — 8 B per array element
    plus ~48 B per row, from the ``rows``/``elems`` its fence counted —
    is within 256 MiB; past that both joins shuffle, the plan that is
    safe at any data size. A row-count bound alone would undercount
    corpora of few-but-long documents (100k docs x 10k shingles is an
    8 GB payload)."""
    sa = payload.toDF("__ida", "__a")
    sb = payload.toDF("__idb", "__b")
    if 8 * (elems or 0) + 48 * rows <= _VERIFY_BROADCAST_BYTES:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    return cand.join(sa, "__ida").join(sb, "__idb")


def _jaccard(a: str, b: str) -> Column:
    inter = F.size(F.array_intersect(a, b))
    return inter.cast("double") / (F.size(a) + F.size(b) - inter)


def _affine_params(k: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_PRIME), rng.randrange(0, MERSENNE_PRIME))
        for _ in range(k)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 128,
    shingle_len: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, minhash array<long>[num_hashes], shingles array<long>).

    One ``mapInPandas`` pass does everything doc-locally: shingle,
    hash (md5 top-64-bits — deterministic, engine-portable), and the k
    affine-permutation mins ((a*h + b) mod M31, standard MinHash) as a
    single (shingles × k) numpy min-reduction per doc. ZERO shuffles:
    the previous expression-form pipeline exploded (doc, shingle-hash)
    rows through a persist fence and two groupBys (the k mins must stay
    codegen'd, collect_set must not force ObjectHashAggregate — split
    aggs measured 8x faster than mixed) plus a re-join; doing the
    per-doc reduction inside the Arrow kernel removes the explode, the
    cache, both aggregations and the join (measured ~3x end-to-end at
    sf0.1). Per-doc state is (shingles × k) int64 — bounded by doc
    length, never corpus size; banding downstream remains the only
    shuffle, which is the correct 100 TB shape.
    """
    import numpy as np

    params = _affine_params(num_hashes, seed)
    A = np.array([a for a, _ in params], dtype=np.int64)
    B = np.array([b for _, b in params], dtype=np.int64)
    q_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"__id {q_type}, __minhash array<long>, __shingles array<long>"
    n = shingle_len

    import re

    # Java \s is ASCII-only — match F.split tokenization byte-for-byte
    ws = re.compile("[ \t\n\x0b\f\r]+")

    def compute(batches):
        import hashlib

        import pandas as pd

        P = MERSENNE_PRIME
        md5 = hashlib.md5
        from_bytes = int.from_bytes
        for pdf in batches:
            # per-BATCH gram-hash memo: boilerplate corpora repeat
            # shingles across documents, so each distinct gram's md5 is
            # computed once per Arrow batch instead of once per
            # occurrence (a dict hit is ~10x cheaper than an md5 call).
            # Rebuilt per batch, so its size is bounded by the batch's
            # text (maxRecordsPerBatch rows), never by the partition.
            memo: dict = {}
            ids, mins_col, sets_col = [], [], []
            for doc_id, text in zip(pdf["__id"], pdf["__t"]):
                if text is None:
                    continue
                toks = [w for w in ws.split(text) if w]
                grams = dict.fromkeys(
                    " ".join(toks[i : i + n])
                    for i in range(max(len(toks) - n, 0) + 1)
                )
                # md5 top-8-bytes as signed int64: deterministic across
                # engines/workers (hash() is salted; xxhash isn't in
                # the stdlib)
                hs_list = []
                append = hs_list.append
                get = memo.get
                for g in grams:
                    v = get(g)
                    if v is None:
                        v = from_bytes(
                            md5(g.encode()).digest()[:8], "big", signed=True
                        )
                        memo[g] = v
                    append(v)
                hs = np.array(hs_list, dtype=np.int64)
                hm = np.mod(hs, P)  # python-sign mod == F.pmod
                # (m, k) affine transforms; a,h < 2^31 so products stay
                # in int64. Min over shingles -> the k-signature.
                sig = np.min((hm[:, None] * A[None, :] + B[None, :]) % P, axis=0)
                ids.append(doc_id)
                mins_col.append(sig.tolist())
                sets_col.append(hs.tolist())
            yield pd.DataFrame(
                {"__id": ids, "__minhash": mins_col, "__shingles": sets_col}
            )

    base = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    # a single-file corpus would push EVERY md5+min-reduction through
    # one Arrow worker (see _spread.spread_input)
    return spread_input(base).mapInPandas(compute, schema=out_schema)


def _banded(sigs: DataFrame, bands: int, r: int, *cols) -> DataFrame:
    """(__id, *cols, __band, __key): one row per LSH band of each
    signature, the key an xxhash64 over the band index and its ``r``
    minhash values. Built as ONE SQL string: the Column-DSL form
    (F.array of per-band F.xxhash64) paid ~bands*(r+1) py4j round-trips
    of plan construction per query (the round-7 e134/e221 selectExpr
    finding); the expression tree is identical."""
    keys_sql = ", ".join(
        "xxhash64(%d, %s)"
        % (b, ", ".join(f"__minhash[{b * r + i}]" for i in range(r)))
        for b in range(bands)
    )
    return sigs.select(
        "__id",
        *cols,
        F.posexplode(F.expr(f"array({keys_sql})")).alias("__band", "__key"),
    )


def neardup_minhash_lsh(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 128,
    bands: int = 64,
    shingle_len: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard) with word-n-gram Jaccard
    >= threshold, found via MinHash-LSH banding and verified exactly.

    With r = num_hashes/bands rows per band, a true pair at similarity j
    is missed with probability (1 - j^r)^bands — at the defaults (r=2,
    b=64) that is ~1e-8 for j = 0.5. Verification makes false positives
    impossible; misses are the only approximation.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sigs, (rows, elems) = materialize(
        minhash_signatures(df, id_col, text_col, num_hashes, shingle_len, seed),
        "neardup.neardup_minhash_lsh",
        F.sum(F.size("__shingles")),
    )
    banded = _banded(sigs, bands, r, F.size("__shingles").alias("__nsh"))
    t = float(threshold)
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__key") == F.col("b.__key"))
            & (F.col("a.__id") < F.col("b.__id"))
            # length prefilter INSIDE the join condition (guide §3.2's
            # prefix logic applied to the verify threshold): J(a,b) >= t
            # forces t*max(|Sa|,|Sb|) <= |Sa∩Sb| <= min(|Sa|,|Sb|), so a
            # size-skewed collision never reaches the dedup exchange or
            # the verify join. Exactness-preserving: only pairs that the
            # verify filter would drop anyway are pruned.
            & (F.col("a.__nsh").cast("double") * t <= F.col("b.__nsh"))
            & (F.col("b.__nsh").cast("double") * t <= F.col("a.__nsh")),
        )
        .select(F.col("a.__id").alias("__ida"), F.col("b.__id").alias("__idb"))
        .dropDuplicates(["__ida", "__idb"])
    )
    pairs = _verify_join(cand, sigs.select("__id", "__shingles"), rows, elems)
    return pairs.select(
        F.col("__ida").alias("id_a"),
        F.col("__idb").alias("id_b"),
        _jaccard("__a", "__b").alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_len: int = 3,
    max_comparisons: "int | None" = None,
) -> DataFrame:
    """EXACT n-gram-Jaccard near-dup pairs via a prefix-filtered
    set-similarity self-join (AllPairs/PPJoin family: Bayardo et al.
    WWW'07, public algorithm) — no MinHash approximation.

    Filters, all exactness-preserving:
    * length filter: J(a,b) >= t requires t*|b| <= |a| (and symmetrically);
    * prefix filter: order every doc's shingles by ascending global
      document frequency (rarest first); two sets with J >= t MUST share
      a token within their first |S| - ceil(t*|S|) + 1 tokens. Joining on
      prefix tokens only kills the hot-shingle fan-out that makes the
      naive inverted-index join quadratic on boilerplate n-grams
      (measured 134s -> ~5s on 5k docs with 2-gram shingles);
    * PPJoin positional filter (Xiao et al. WWW'08), applied PER ROW
      inside the join condition: a candidate row matching token h at
      0-based ordered positions (pa, pb) can reach at most
      1 + min(pa, pb) + min(na-pa-1, nb-pb-1) intersecting tokens, so
      rows where that bound < ceil(t/(1+t) * (na+nb)) never leave the
      join operator. Exact: a qualifying pair's FIRST shared token in
      the global order has zero shared tokens before it and |A∩B|-1
      after on both sides, so that row always survives. Evaluating it
      in the join condition (not after a pair groupBy, as before round
      6) matters at scale: the pair-aggregation exchange used to
      receive the UNFILTERED join output — sum over prefix tokens of
      df_pref(h)^2 rows — which exceeded 79 GB of shuffle spill at
      500k docs on the vocabulary-saturated sf10 soak corpus. With the
      per-row bound, the exchange receives survivors only.

    Candidate rows then aggregate to pairs (groupBy min positions),
    where a SECOND, tighter positional filter applies: the aggregated
    minima come from the pair's first shared token (shared tokens keep
    identical relative order under the global sort, and that row always
    survives the per-row bound), at which the max-overlap bound has no
    min(pa,pb) slack — least(na-pa, nb-pb) >= the same ceil. Survivors
    are verified with the true Jaccard on the full shingle-hash sets.
    Scale shape: two shuffles over
    exploded shingles (df-count window, prefix regroup) + an equi-join
    on rare prefix tokens whose non-equi residual prunes in-operator —
    each unit of work is bounded by doc length and token rarity, never
    corpus size. The intrinsic bound is unchanged: the join still
    COMPARES sum over tokens h of C(df_pref(h), 2) row pairs inside the
    merge, so a vocabulary-saturated corpus pays CPU there; it no
    longer pays shuffle/disk for comparisons that fail the positional
    bound.

    THE INTRINSIC Omega() BOUND, measured (soak corpus, t=0.5, 3-gram
    shingles; "comparisons" = sum_h C(df_pref(h), 2), the exact join-row
    count the merge must evaluate, counted by a linear probe):

    | docs | comparisons | max df_pref |
    |---|---|---|
    | 5k   | 4.3e5 | 10  |
    | 50k  | 5.4e7 | 95  |
    | 150k | 5.0e8 | 283 |
    | 500k | 5.7e9 | 944 |

    The synthetic corpus draws from a FIXED vocabulary, so every
    token's document frequency — including the rarest tokens that form
    prefixes — grows linearly with corpus size and the comparison count
    grows quadratically: 13,000x comparisons on 100x docs. That is not
    a plan defect: ANY exact prefix-filter algorithm must evaluate
    those candidates, and at t=0.5 the positional bound cannot help
    (for near-equal set sizes it is ~always satisfiable). Real crawl
    corpora grow vocabulary with N (Heaps' law), which keeps df_pref
    flat and this join near-linear; on vocabulary-saturated or
    heavily-templated corpora use MinHash-LSH (``neardup_minhash_lsh``,
    measured sub-linear engine slope at 100x) and accept approximate
    recall, or raise ``threshold`` (prefix length — and with it
    df_pref — shrinks as t grows).

    ``max_comparisons``: optional fail-fast guard for exactly that
    regime. When set, a linear-cost probe (one aggregate over the
    already-materialized prefix frame — no pair join) counts the
    UNORDERED candidate pairs the join would generate
    (sum_h C(df_pref(h), 2); the physical sort-merge join touches ~2x
    that many row combinations per key before the id-order predicate
    prunes duplicates) and raises ``ValueError`` naming the measured
    volume and the alternatives above if it exceeds the bound. Default
    ``None`` (off): on a multi-executor cluster a 1e10-pair join is
    expensive-but-feasible, so the library does not impose a ceiling;
    single-node callers should set one (a 32-thread host clears ~1e8
    candidate pairs in tens of seconds; 5.7e9 filled an 80 GB disk
    with shuffle spill).

    Survivors are verified through ``_verify_join``, which broadcasts
    the id->shingle-set map when the fence's byte estimate allows."""
    # the df-count, the prefix regroup and the verify read the per-doc
    # shingle-hash set, so the interpreted shingling runs once
    base, (rows, elems) = materialize(
        df.select(
            F.col(id_col).alias("__id"),
            F.transform(
                word_shingles_pd(F.col(text_col), shingle_len),
                lambda g: F.xxhash64(g),
            ).alias("__hs"),  # shingles already distinct
        ).withColumn("__n", F.size("__hs")),
        "neardup.ngram_jaccard_pairs",
        F.sum(F.size("__hs")),
    )

    from pyspark.sql import Window

    ex = base.select("__id", "__n", F.explode("__hs").alias("__h"))
    # document frequency as a window count over the token partition: one
    # exchange on __h, no dfreq build side to sort-merge back in
    ex = ex.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("__h"))
    )
    ordered = ex.groupBy("__id", "__n").agg(
        F.array_sort(F.collect_list(F.struct("__df", "__h"))).alias("__ord")
    )
    prefix_len = F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")).cast("int") + 1
    pref = ordered.select(
        "__id",
        "__n",
        F.posexplode(
            F.slice(
                F.transform("__ord", lambda s: s["__h"]), F.lit(1), prefix_len
            )
        ).alias("__p", "__h"),
    )
    pref = materialize(pref, "neardup.ngram_jaccard_pairs")[0]
    if max_comparisons is not None:
        # linear probe over the materialized prefix frame: counts the
        # UNORDERED same-token candidate pairs sum_h C(df_pref(h), 2) —
        # the quantity that explodes under vocabulary saturation (see
        # docstring table). The sort-merge join itself touches ~2x that
        # many row combinations per key (both orders) before the
        # __id-order predicate prunes half; the guard bounds pairs, the
        # physical join work is a small constant factor above it.
        ncmp = (
            pref.groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__c"))
            .agg(F.sum(F.expr("__c * (__c - 1) / 2")).alias("__ncmp"))
            .collect()[0]["__ncmp"]
        ) or 0
        if ncmp > max_comparisons:
            raise ValueError(
                f"ngram_jaccard_pairs would generate {ncmp:.3e} unordered"
                f" candidate pairs (> max_comparisons={max_comparisons:.3e};"
                " the join itself touches ~2x as many row combinations)."
                " The corpus is vocabulary-saturated for this threshold:"
                " prefix-token document frequencies grow with corpus size,"
                " so the exact join is quadratic here. Use"
                " neardup_minhash_lsh (approximate, sub-linear), raise"
                " `threshold`, or raise/disable `max_comparisons` if the"
                " cluster can absorb the join."
            )
    # PPJoin positional filter, per row IN the join condition (see
    # docstring): the residual predicate is evaluated inside the join
    # operator, so rows failing the overlap bound never reach the
    # dedup exchange — before round 6 this bound ran after a pair
    # groupBy whose input exchange carried the full df_pref^2 join
    # output (79 GB of spill at 500k docs).
    minoverlap = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("a.__n") + F.col("b.__n"))
    )
    pos_bound = (
        1
        + F.least(F.col("a.__p"), F.col("b.__p"))
        + F.least(
            F.col("a.__n") - F.col("a.__p") - 1,
            F.col("b.__n") - F.col("b.__p") - 1,
        )
    )
    # Pair dedup doubles as the SECOND, stronger positional filter: the
    # aggregated min positions (min_pa, min_pb) are achieved by the SAME
    # token — the pair's first shared token — because shared tokens keep
    # identical relative order under the global (df, h) sort, and that
    # row always survives the per-row bound (see docstring), so the
    # aggregate sees the true minima. At the first shared token the
    # max-overlap bound tightens to 1 + min(na-pa-1, nb-pb-1) =
    # least(na-pa, nb-pb) — no min(pa,pb) slack term, since nothing
    # before it is shared. Measured at sf0.1 (t=0.5): the per-row bound
    # alone leaves 308,750 candidate pairs for the verify join; this
    # filter cuts them to 124,839 — distinct() in its place made the
    # whole query 2.2x slower.
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.__h") == F.col("b.__h"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (F.col("a.__n") >= F.ceil(F.lit(threshold) * F.col("b.__n")))
            & (F.col("b.__n") >= F.ceil(F.lit(threshold) * F.col("a.__n")))
            & (pos_bound >= minoverlap),
        )
        .groupBy(
            F.col("a.__id").alias("__ida"),
            F.col("b.__id").alias("__idb"),
            F.col("a.__n").alias("__na"),
            F.col("b.__n").alias("__nb"),
        )
        .agg(F.min("a.__p").alias("__pa"), F.min("b.__p").alias("__pb"))
        .filter(
            F.least(
                F.col("__na") - F.col("__pa"), F.col("__nb") - F.col("__pb")
            )
            >= F.ceil(
                F.lit(threshold / (1.0 + threshold))
                * (F.col("__na") + F.col("__nb"))
            )
        )
        .select("__ida", "__idb")
    )
    pairs = _verify_join(cand, base.select("__id", "__hs"), rows, elems)
    return pairs.select(
        F.col("__ida").alias("id_a"),
        F.col("__idb").alias("id_b"),
        _jaccard("__a", "__b").alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def _bit_mask(bit: int) -> int:
    # bit 63 is the sign bit: 1<<63 doesn't fit a signed long literal, use
    # its two's-complement value.
    return (1 << bit) if bit < 63 else -(1 << 63)


def simhash(text: Column, num_bits: int = 64, shingle_len: int = 2) -> Column:
    """SimHash of word n-grams as a LONG: sign-sum over per-feature hash
    bits, as a single Column expression (aggregate() over the shingle
    array, no shuffle). NOTE: expression-only form — fine for ad-hoc use,
    but the per-bit array passes are interpreted per row; for corpus-scale
    signatures use ``simhash_df`` (explode + scalar sums, codegen'd,
    ~50x faster at 5k docs)."""
    grams = word_shingles(text, shingle_len)
    hashes = F.transform(grams, lambda g: F.xxhash64(g))
    sig = F.lit(0).cast("long")
    for bit in range(num_bits):
        mask = F.lit(_bit_mask(bit)).cast("long")
        balance = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(mask) != 0, F.lit(1)).otherwise(F.lit(-1)),
        )
        # sig accumulates bits 0..62 first (< 2^63), so adding -2^63 last
        # never overflows.
        sig = sig + F.when(balance > 0, mask).otherwise(F.lit(0).cast("long"))
    return sig


def _base_hash(col: Column, base_hash: str) -> Column:
    """Per-shingle base hash. ``xxhash64``: fastest, JVM-only (rows-only
    oracle checks). ``md5_60``: top 60 bits of md5 as a LONG — ~3x the
    hash cost but bit-identical in DuckDB (`('0x'||substr(md5(g),1,15))
    ::BIGINT`), making the whole signature pipeline hash-checkable."""
    if base_hash == "xxhash64":
        return F.xxhash64(col)
    if base_hash == "md5_60":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    raise ValueError(f"base_hash must be 'xxhash64' or 'md5_60', got {base_hash!r}")


def simhash_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_bits: int = 64,
    shingle_len: int = 2,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """(id, sig): corpus-scale SimHash — explode shingles once, compute the
    per-bit sign balances as plain conditional SUM aggregates (one
    shuffle on id, map-side combine, whole-stage codegen), then fold the
    balances into the signature long. ``base_hash='md5_60'`` caps
    num_bits at 60 (the hash's width) and is engine-portable."""
    if base_hash == "md5_60" and num_bits > 60:
        raise ValueError("md5_60 provides 60 hash bits; num_bits must be <= 60")
    if base_hash == "md5_60":
        # portable hash -> the whole signature is computable per doc in
        # one Arrow pass (same fusion as minhash_signatures: no explode,
        # no 60-sum groupBy, no shuffle at all before the block join)
        return _simhash_md5_map(df, id_col, text_col, num_bits, shingle_len)
    sh = df.select(
        F.col(id_col).alias("__id"),
        F.explode(word_shingles_pd(F.col(text_col), shingle_len)).alias("__g"),
    ).select("__id", _base_hash(F.col("__g"), base_hash).alias("__h"))
    balances = [
        F.sum(
            F.when(
                F.col("__h").bitwiseAND(F.lit(_bit_mask(bit)).cast("long")) != 0,
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"__b{bit}")
        for bit in range(num_bits)
    ]
    agg = sh.groupBy("__id").agg(*balances)
    sig = F.lit(0).cast("long")
    for bit in range(num_bits):
        mask = F.lit(_bit_mask(bit)).cast("long")
        sig = sig + F.when(F.col(f"__b{bit}") > 0, mask).otherwise(
            F.lit(0).cast("long")
        )
    return agg.select("__id", sig.alias("__sig"))


def _simhash_md5_map(
    df: DataFrame, id_col: str, text_col: str, num_bits: int, shingle_len: int
) -> DataFrame:
    """md5_60 SimHash fused into one mapInPandas scan: per doc, hash the
    distinct shingles (top 15 md5 hex chars = the exact value DuckDB's
    ``('0x'||substr(md5(g),1,15))::BIGINT`` yields), take per-bit sign
    balances as an (m × num_bits) numpy reduction, fold into the
    signature long. Matches the explode+sums form bit-for-bit."""
    import numpy as np

    import re

    ws = re.compile("[ \t\n\x0b\f\r]+")
    n = shingle_len
    bits = np.arange(num_bits, dtype=np.int64)
    q_type = df.schema[id_col].dataType.simpleString()

    def compute(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids, sigs = [], []
            for doc_id, text in zip(pdf["__id"], pdf["__t"]):
                if text is None:
                    continue
                toks = [w for w in ws.split(text) if w]
                grams = dict.fromkeys(
                    " ".join(toks[i : i + n])
                    for i in range(max(len(toks) - n, 0) + 1)
                )
                hs = np.fromiter(
                    (
                        int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                        for g in grams
                    ),
                    dtype=np.int64,
                    count=len(grams),
                )
                balance = (((hs[:, None] >> bits[None, :]) & 1) * 2 - 1).sum(axis=0)
                sig = int(((balance > 0).astype(np.int64) << bits).sum())
                ids.append(doc_id)
                sigs.append(sig)
            yield pd.DataFrame({"__id": ids, "__sig": sigs})

    base = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    return spread_input(base).mapInPandas(
        compute, schema=f"__id {q_type}, __sig long"
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def neardup_simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 7,
    num_bits: int = 64,
    shingle_len: int = 2,
    n_blocks: "int | None" = None,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs (id_a, id_b, hamming) with id_a < id_b and
    hamming <= max_hamming: the ``simhash_df`` signatures through the
    block-permutation join of ``hamming_pairs``. For billions of docs
    move to 128-bit signatures (two longs) so blocks stay wide."""
    sigs = simhash_df(df, id_col, text_col, num_bits, shingle_len, base_hash)
    return hamming_pairs(sigs, "__id", "__sig", num_bits, max_hamming, n_blocks)


def hamming_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    num_bits: int,
    max_hamming: int,
    n_blocks: "int | None" = None,
) -> DataFrame:
    """Hamming-ball pair join over a PRECOMPUTED <=63-bit BIGINT
    signature column: ``(id_a, id_b, hamming)`` for pairs with id_a <
    id_b within ``max_hamming``. The caller supplies the fingerprint
    (SimHash, aHash/dHash, audio energy-delta, any 64-bit sketch), so
    every perceptual-hash modality shares this one join.

    Block-permutation candidates: split the signature into ``n_blocks``
    chunks; a pair within max_hamming differs in at most max_hamming
    chunks, so when max_hamming < n_blocks it collides on >= 1 (block
    index, block value) and the block equi-join is a superset of all
    true pairs; the exact distance is verified inside the join. Work
    scales with block-bucket load, never n².

    n_blocks defaults to max_hamming + 1 — the minimum that preserves the
    superset guarantee, which maximizes block width and so minimizes
    candidate volume (~ n_docs^2 / 2^width per block). Widths need not
    divide num_bits: the remainder is spread one extra bit over the
    first blocks ({8,8,8,8,7,7,7,7} for 60 bits / 8 blocks — measured
    3x fewer candidates than ten 6-bit blocks)."""
    if n_blocks is None:
        n_blocks = max_hamming + 1
    if max_hamming < 0 or not max_hamming < n_blocks <= num_bits:
        raise ValueError(
            f"need 0 <= max_hamming < n_blocks <= num_bits, got "
            f"{max_hamming}/{n_blocks}/{num_bits}"
        )
    base_w, extra = divmod(num_bits, n_blocks)
    widths = [base_w + (1 if i < extra else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    # NULL-signature rows (e.g. codec poison-pill rejects) are dropped
    # AFTER the persist fence: a .where() on the computed column BEFORE
    # it would be predicate-pushed below the caller's projections,
    # alias-substituting the full signature tree into the Filter — the
    # fingerprint then computes twice and the inlined monster expression
    # falls out of codegen (observed: 87 KB filter condition)
    sigs = materialize(
        df.select(F.col(id_col).alias("__id"), F.col(sig_col).alias("__sig")),
        "neardup.hamming_pairs",
    )[0].where(F.col("__sig").isNotNull())
    blocks = sigs.select(
        "__id",
        "__sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("__sig"), offsets[i]).bitwiseAND(
                        F.lit((1 << widths[i]) - 1).cast("long")
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("__blk", "__val"),
    )
    # hamming verify INSIDE the join condition: the test is a scalar on
    # carried signatures, so block-collision fan-out (tight hash clusters
    # make it ~1000x the true pair count) is cut before the
    # dropDuplicates shuffle instead of after it (measured 5.0s -> 3.3s
    # on 5k aHash docs)
    return (
        blocks.alias("a")
        .join(
            blocks.alias("b"),
            (F.col("a.__blk") == F.col("b.__blk"))
            & (F.col("a.__val") == F.col("b.__val"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (
                hamming64(F.col("a.__sig"), F.col("b.__sig"))
                <= F.lit(max_hamming)
            ),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            hamming64(F.col("a.__sig"), F.col("b.__sig")).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def neardup_embedding_cosine(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 10,
    n_tables: int = 6,
    exact: bool = False,
    exact_max_rows: int = 1_000_000,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs (id_a < id_b, cos >= threshold).

    exact=True: all-pairs via blocked GEMM — the corpus matrix is
    collected and broadcast, each partition multiplies its (batch x dim)
    block against it in numpy and emits only qualifying pairs. Exact and
    fast, but requires the corpus matrix to fit on executors (n*dim*8
    bytes); all-pairs is O(n^2) regardless, so past broadcast size use
    exact=False. A corpus larger than ``exact_max_rows`` (default 1M ≈
    512 MB broadcast at dim=64) raises rather than silently collecting an
    unbounded corpus to the driver. A zero vector scores cos 0 (both
    paths).
    exact=False: SRP-LSH bucketed candidates, then exact cosine verify —
    the 100 TB path (miss probability per true pair at cos c is
    (1 - (1 - acos(c)/pi)^n_planes)^n_tables). Candidates travel as bare
    (id_a, id_b) pairs — vectors are joined back only for the verify, so
    the bucket join and dedup never shuffle array payloads; the verify
    join broadcasts the id->vector map while it is small enough
    (``_verify_join``).
    """
    from pivot_spark.operators.similarity import cosine_pd, srp_signatures_pd

    base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
    if exact:
        return _exact_cosine_pairs_gemm(
            base, df.schema[id_col].dataType, threshold, exact_max_rows
        )

    sig_cols = srp_signatures_pd(F.col("__vec"), n_planes, dim, n_tables, seed)
    # both bucket self-join sides read the signatures; unfenced, the
    # SRP Arrow kernel ran once per side (two scans in the e12 plan)
    tagged, (n_tagged,) = materialize(
        base.select("__id", F.posexplode(sig_cols).alias("__t", "__sig")),
        "neardup.neardup_embedding_cosine",
    )
    cand = (
        tagged.alias("a")
        .join(
            tagged.alias("b"),
            (F.col("a.__t") == F.col("b.__t"))
            & (F.col("a.__sig") == F.col("b.__sig"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("__ida"), F.col("b.__id").alias("__idb"))
        .dropDuplicates(["__ida", "__idb"])
    )
    rows = n_tagged // n_tables  # posexplode: n_tables rows per vector
    pairs = _verify_join(cand, base, rows, rows * dim)
    out = pairs.select(
        F.col("__ida").alias("id_a"),
        F.col("__idb").alias("id_b"),
        # nondeterministic fence: the threshold filter below otherwise
        # pushes under this projection and the verify kernel scores
        # every candidate pair TWICE (guide §4.4)
        cosine_pd(
            F.col("__a"), F.col("__b"), nondeterministic=True
        ).alias("cos"),
    )
    return out.filter(F.col("cos") >= threshold)


def _exact_cosine_pairs_gemm(
    base: DataFrame, id_type, threshold: float, max_rows: int
) -> DataFrame:
    """All-pairs cosine >= threshold by blocked matrix multiply against a
    broadcast L2-normalized corpus matrix. Only qualifying (sparse) pairs
    cross Arrow back to the JVM.

    Two tiling decisions make the O(n^2) compute actually distribute
    (the round-7 sf10 wall-clock caught the original doing ALL tiles in
    ONE worker with a 16 GB score matrix — the parquet scan was a single
    partition, and mapInPandas inherits it):

    * the row side is repartitioned to the session's default
      parallelism, so every core owns an even slice of the A-rows while
      the broadcast corpus matrix is shared read-only per executor;
    * inside each task the Arrow batch is sub-blocked so the dense
      (block x n) score matrix stays <= ~128 MB — peak memory per
      worker is bounded by the corpus matrix (n*dim*8), not by
      batch_rows * n * 8.
    """
    import numpy as np

    from pivot_spark.operators.similarity import _broadcast_rows, _unit_rows

    spark = base.sparkSession
    # the scale gate: the exact path is the correctness anchor for small
    # corpora, never the 100 TB route, so it refuses past broadcast size
    # instead of OOMing the driver mid-collect
    ids_all, M = _broadcast_rows(
        base,
        "__id",
        "__vec",
        max_rows,
        f"exact=True collects the corpus to the driver and scores all "
        f"O(n^2) pairs; corpus has more than exact_max_rows={max_rows} "
        f"rows. Use exact=False (SRP-LSH bucketed candidates + exact "
        f"verify) past broadcast size.",
    )
    n = len(ids_all)
    logging.getLogger(__name__).info(
        "neardup_embedding_cosine exact path: n=%d rows (bound %d)", n, max_rows
    )
    bc = spark.sparkContext.broadcast((ids_all, M))
    # (block x n) float64 score tile capped at ~128 MB, floor 64 rows
    blk = max(64, int(128 * 2**20 / max(n * 8, 1)))

    schema = T.StructType(
        [
            T.StructField("id_a", id_type, False),
            T.StructField("id_b", id_type, False),
            T.StructField("cos", T.DoubleType(), False),
        ]
    )

    def gen(batches):
        import pandas as pd

        ids_b, Mb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = _unit_rows(np.stack(pdf["__vec"].values).astype("float64"))
            a_ids = pdf["__id"].to_numpy()
            for s in range(0, len(a_ids), blk):
                Ab, ab_ids = A[s : s + blk], a_ids[s : s + blk]
                S = Ab @ Mb.T  # (block, n)
                hit = (S >= threshold) & (ids_b[None, :] > ab_ids[:, None])
                ai, bj = np.nonzero(hit)
                yield pd.DataFrame(
                    {"id_a": ab_ids[ai], "id_b": ids_b[bj], "cos": S[ai, bj]}
                )

    par = spark.sparkContext.defaultParallelism
    return base.repartition(par).mapInPandas(gen, schema=schema)


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_len: int = 3,
    collapse_exact_dups: "bool | str" = "auto",
    max_comparisons: "int | None" = None,
) -> DataFrame:
    """EXACT directional n-gram containment pairs: (id_a, id_b,
    containment, jaccard) for every ORDERED pair with
    C(A,B) = |A∩B| / |A| >= threshold — "most of A's shingles appear
    in B", the asymmetric relation Jaccard misses (a short doc quoted
    inside a long one scores near-zero Jaccard but containment ~1).

    Set-containment join (public prefix-filter family: Bayardo et al.
    WWW'07 adapted to containment, with PPJoin's positional filter —
    Xiao et al. WWW'08): order each doc's shingles by ascending global
    document frequency (ties by hash — one total order shared by every
    doc); if C(A,B) >= t, A shares one of its first
    |A| - ceil(t*|A|) + 1 (rarest) tokens with B — so A's PREFIX joins
    B's FULL posting list. Exactness-preserving filters:
    * length: |B| >= ceil(t * |A|) (the intersection fits inside B);
    * the prefix bound above (rarest-first kills hot-token fan-out on
      the A side; the B side is bounded by the df of A's rare tokens);
    * POSITIONAL: a candidate row matching token h at 0-based ordered
      positions (pa, pb) can reach at most
      1 + min(pa, pb) + min(|A|-pa-1, |B|-pb-1) intersecting tokens
      (shared tokens occupy distinct order positions on both sides),
      so rows where that bound < ceil(t*|A|) are dropped. Exact: the
      pair's FIRST shared token in the global order has zero shared
      tokens before it and |A∩B|-1 after on both sides, so that row
      always survives. On vocabulary-saturated corpora (the sf1 soak)
      this prunes ~90% of candidates — the difference between the
      candidate join growing with sum(pref_df x df) and growing with
      the pairs that can actually qualify.
    Verify = exact intersection over the full shingle-hash sets.

    ``collapse_exact_dups``: docs with IDENTICAL shingle sets (exact
    clones and trivial reorderings — the dominant redundancy in web
    corpora: every clone replays its group's full prefix x postings
    fan-out, measured 100x candidate growth on a 10x-cloned corpus)
    are collapsed to one representative before candidate generation;
    the group's id lists join back onto the representative-level pairs
    afterwards, and within-group pairs are emitted directly with
    containment = jaccard = 1.0 (identical sets). Exactness-
    preserving: members share their representative's set, so every
    member-level pair has its representative pair's exact scores, and
    the re-expansion is output-sized. The collapse itself costs one
    groupBy shuffle of the shingle arrays — pure overhead on an
    all-distinct corpus (measured ~1.4x at sf1) — so the default
    ``"auto"`` pays a cheap probe first (one aggregate over 8-byte
    set hashes, ``approx_count_distinct``) and collapses only when
    >10% of docs are set-level clones. True/False force either path.

    Scale bound (the honest Ω() statement): after the collapse the
    candidate volume is sum over A-prefix tokens of df(token) among
    DISTINCT sets, shrunk by the positional filter — but a corpus of
    many distinct same-vocabulary sets (saturated vocabulary, e.g.
    permuted word soup) keeps that product quadratic-ish, and ANY
    exact containment algorithm is Ω(qualifying pairs), which itself
    grows quadratically there (a containment-heavy corpus has
    all-pairs output). For such corpora use the symmetric prefix x
    prefix Jaccard join (``ngram_jaccard_pairs``, measured 4.5x on
    the same corpus) or MinHash-LSH (``neardup_minhash``) and accept
    approximate recall.

    The verify join (``_verify_join``) broadcasts the post-collapse
    representative id->set map while its byte estimate, taken by the
    fence job, stays within budget.

    ``max_comparisons``: optional fail-fast guard (same contract as
    ``ngram_jaccard_pairs``): a linear-cost probe (two token-keyed
    aggregates, no pair join) counts the prefix x posting join rows —
    sum_h pref_df(h) * full_df(h), which for this asymmetric join IS
    the evaluated row count — and raises ``ValueError`` naming the
    measured volume and the bounded alternatives if it exceeds the
    bound, before any pair shuffle. Default ``None`` (off); the probe
    does not perturb results (parity-tested)."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if collapse_exact_dups not in (True, False, "auto"):
        raise ValueError(
            f"collapse_exact_dups must be True/False/'auto', got "
            f"{collapse_exact_dups!r}"
        )
    # the fence's probes are every driver-side decision input (collapse
    # probe + the verify join's size estimate): no probe job of its own
    sets0, (rows, n_distinct, elems) = materialize(
        df.select(
            F.col(id_col).alias("__id"),
            F.array_sort(
                F.transform(
                    word_shingles_pd(F.col(text_col), shingle_len),
                    lambda g: F.xxhash64(g),
                )
            ).alias("__hs"),
        ),
        "neardup.ngram_containment_pairs",
        F.approx_count_distinct(F.xxhash64("__hs")),
        F.sum(F.size("__hs")),
    )
    do_collapse = collapse_exact_dups is True
    if collapse_exact_dups == "auto":
        do_collapse = rows > 0 and n_distinct < 0.9 * rows
    groups = None
    if do_collapse:
        # one representative per distinct (sorted) shingle-hash set;
        # set ops downstream are order-insensitive, so sorting __hs is
        # free canonicalization
        groups, (rows, elems) = materialize(
            sets0.groupBy("__hs").agg(
                F.min("__id").alias("__rep"),
                F.collect_list("__id").alias("__members"),
                F.count(F.lit(1)).alias("__g"),
            ),
            "neardup.ngram_containment_pairs",
            F.sum(F.size("__hs")),
        )
        sets0 = groups.select(F.col("__rep").alias("__id"), "__hs")
    # sets0 (or groups) is already persisted; __n is a cheap projection
    # on top of the cached frame — no second materialization pass
    base = sets0.withColumn("__n", F.size("__hs"))
    from pyspark.sql import Window

    ex = base.select("__id", "__n", F.explode("__hs").alias("__h"))
    ex = ex.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("__h"))
    )
    # both join sides carry the token's POSITION in the shared global
    # (df, hash) order so the positional filter can bound |A∩B| per row.
    # row_number over (df, h) IS that position — the old
    # groupBy + array_sort(struct) + posexplode round-trip built the
    # same ranks through a collect_list of every doc's tokens, and
    # being unpersisted it ran once per join side. Ties (same df AND
    # same hash within one doc) permute interchangeable rows only.
    prefix_len = F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")).cast("int") + 1
    pos_ord = materialize(
        ex.select(
            "__id",
            "__n",
            (
                F.row_number().over(
                    Window.partitionBy("__id").orderBy("__df", "__h")
                )
                - 1
            ).alias("__p"),
            "__h",
        ),
        "neardup.ngram_containment_pairs",
    )[0]
    pref = pos_ord.filter(F.col("__p") < prefix_len).select(
        F.col("__id").alias("__ida"),
        F.col("__n").alias("__na"),
        F.col("__p").alias("__pa"),
        "__h",
    )
    full = pos_ord.select(
        F.col("__id").alias("__idb"),
        F.col("__n").alias("__nb"),
        F.col("__p").alias("__pb"),
        "__h",
    )
    if max_comparisons is not None:
        # linear probe (two token-keyed aggregates, no pair join):
        # candidate join rows = sum_h pref_df(h) * full_df(h) — the
        # asymmetric prefix x postings volume this join evaluates.
        # Unlike the symmetric Jaccard probe this IS the evaluated
        # row count (each A-prefix row meets each B-posting row once).
        np_ = pref.groupBy("__h").agg(F.count(F.lit(1)).alias("__np"))
        nf_ = full.groupBy("__h").agg(F.count(F.lit(1)).alias("__nf"))
        ncmp = (
            np_.join(nf_, "__h")
            .agg(F.sum(F.col("__np") * F.col("__nf")).alias("__ncmp"))
            .collect()[0]["__ncmp"]
        ) or 0
        if ncmp > max_comparisons:
            raise ValueError(
                f"ngram_containment_pairs would evaluate {ncmp:.3e}"
                f" prefix x posting join rows (> max_comparisons="
                f"{max_comparisons:.3e}). The corpus is vocabulary-"
                "saturated for this threshold: prefix-token document"
                " frequencies grow with corpus size, so the exact"
                " containment join is quadratic here. Use the symmetric"
                " prefix x prefix join (ngram_jaccard_pairs, measured"
                " 4.5x cheaper on saturated corpora), MinHash-LSH"
                " (neardup_minhash_lsh, approximate), raise `threshold`,"
                " or raise/disable `max_comparisons` if the cluster can"
                " absorb the join."
            )
    m = F.ceil(F.lit(threshold) * F.col("__na"))
    pos_bound = (
        1
        + F.least(F.col("__pa"), F.col("__pb"))
        + F.least(
            F.col("__na") - F.col("__pa") - 1,
            F.col("__nb") - F.col("__pb") - 1,
        )
    )
    cand = (
        pref.join(
            full,
            (pref["__h"] == full["__h"])
            & (F.col("__ida") != F.col("__idb"))
            & (F.col("__nb") >= m)
            & (pos_bound >= m),
        )
        .select("__ida", "__idb")
        .distinct()
    )
    pairs = _verify_join(cand, base.select("__id", "__hs"), rows, elems)
    c = F.size(F.array_intersect("__a", "__b")).cast("double") / F.size("__a")
    rep_pairs = pairs.select(
        F.col("__ida").alias("id_a"),
        F.col("__idb").alias("id_b"),
        c.alias("containment"),
        _jaccard("__a", "__b").alias("jaccard"),
    ).filter(F.col("containment") >= threshold)
    if not do_collapse:
        return rep_pairs
    # expand representative-level pairs back to member ids (output-
    # sized joins), then add within-group pairs: identical non-empty
    # sets contain each other exactly (scores 1.0; empty sets produce
    # no candidates in the base pipeline, so none here either)
    ga = groups.select(
        F.col("__rep").alias("id_a"), F.explode("__members").alias("__ma")
    )
    gb = groups.select(
        F.col("__rep").alias("id_b"), F.explode("__members").alias("__mb")
    )
    cross = (
        rep_pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            F.col("__ma").alias("id_a"),
            F.col("__mb").alias("id_b"),
            "containment",
            "jaccard",
        )
    )
    m = groups.filter((F.col("__g") >= 2) & (F.size("__hs") > 0))
    wa = m.select(F.col("__rep").alias("__grp"), F.explode("__members").alias("id_a"))
    wb = m.select(F.col("__rep").alias("__grp"), F.explode("__members").alias("id_b"))
    within = (
        wa.join(wb, "__grp")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.lit(1.0).alias("containment"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


def neardup_minhash_incremental(
    index: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 128,
    bands: int = 64,
    shingle_len: int = 3,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup detection — the daily-ingest path: a new
    ``delta`` batch is checked against an already-built signature
    ``index`` (the frame returned by ``minhash_signatures``, pinned by
    the caller with ``_fence.materialize``) WITHOUT re-shingling the
    corpus. Only delta text is hashed; the corpus participates through
    its compact (id, minhash, shingle-hash) index — at 100 TB that is
    the difference between scanning 100 TB and scanning the day's batch
    plus an index ~1% its size.

    Returns ``(pairs, updated_index)``: pairs (id_a, id_b, jaccard)
    covering delta x index and delta x delta (same banding + exact
    verify as ``neardup_minhash_lsh``, so results == the full rebuild
    restricted to pairs touching delta, modulo the ~1e-8 banding miss
    rate), and the union index for the next increment. ``index`` ids
    must be disjoint from delta ids (enforce upstream with the e58
    merge semantics if deltas can replace docs)."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    dsigs, (rows, elems) = materialize(
        minhash_signatures(delta, id_col, text_col, num_hashes, shingle_len, seed),
        "neardup.neardup_minhash_incremental",
        F.sum(F.size("__shingles")),
    )
    # the verify payload is index + delta; the caller pinned the
    # index, so sizing its part is one aggregate over the cache
    idx = index.agg(F.count(F.lit(1)), F.sum(F.size("__shingles"))).head()
    all_sigs = index.unionByName(dsigs)
    cand = (
        _banded(dsigs, bands, r)
        .alias("a")
        .join(
            _banded(all_sigs, bands, r).alias("b"),
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__key") == F.col("b.__key"))
            & (F.col("a.__id") != F.col("b.__id")),
        )
        .select(
            F.least(F.col("a.__id"), F.col("b.__id")).alias("__ida"),
            F.greatest(F.col("a.__id"), F.col("b.__id")).alias("__idb"),
        )
        .dropDuplicates(["__ida", "__idb"])
    )
    pairs = _verify_join(
        cand,
        all_sigs.select("__id", "__shingles"),
        rows + idx[0],
        (elems or 0) + (idx[1] or 0),
    )
    out = pairs.select(
        F.col("__ida").alias("id_a"),
        F.col("__idb").alias("id_b"),
        _jaccard("__a", "__b").alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)
    return out, all_sigs


def minhash_estimate_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_len: int = 3,
    seed: int = 42,
    sample_size: "int | None" = 512,
    n_buckets: int = 10,
    max_pairs: int = 2_000_000,
) -> DataFrame:
    """Estimator-quality audit for the MinHash signature itself: on a
    deterministic document sample, compare the signature-estimated
    Jaccard (fraction of agreeing components) against the TRUE shingle
    Jaccard for every sampled pair, bucketed by true similarity.

    This is the calibration check a dedup pipeline runs before trusting
    an LSH threshold: |est - true| should concentrate near the
    binomial sd sqrt(j(1-j)/k). Auditing every corpus pair is O(n^2)
    and never the plan — the sample is an ABSOLUTE-size deterministic
    draw: the ``sample_size`` ids with the smallest
    ``md5('mh_audit:' || id)`` (engine-portable, ties broken by id).
    In Spark that is a TakeOrdered top-k over ids only (each partition
    keeps k candidates — no global sort, no text movement) followed by
    a broadcast semi-join, so the audit's pair stage is O(k^2)
    REGARDLESS of corpus size — at 100x the data the same k ids win
    and the audit costs the same. ``sample_size=None`` audits every
    row (tiny frames / tests) but still trips the ``max_pairs`` guard:
    any configuration whose pair stage would exceed it raises instead
    of silently exploding.

    Error/means are integer-quantized per pair BEFORE summing (est is
    an exact multiple of 1/k -> ``matches * (1e6/k)``; true is quantized
    ``floor(j*1e6+0.5)``), so every aggregate is an exact BIGINT sum —
    bit-identical on any engine or partitioning, DuckDB-replayable
    because the signature hash is the md5-based portable construction.

    Returns one row per occupied bucket (``bucket = min(B-1,
    B*inter // union)``): n_pairs, mean_est, mean_true, mean_abs_err
    (4dp).
    """
    if num_hashes <= 0 or 1_000_000 % num_hashes != 0:
        raise ValueError(
            f"num_hashes must divide 1e6 for exact quantization, got {num_hashes}"
        )
    base = df.filter(F.col(id_col).isNotNull() & F.col(text_col).isNotNull())
    if sample_size is not None:
        if sample_size < 1:
            raise ValueError(f"sample_size must be >= 1, got {sample_size}")
        if sample_size * (sample_size - 1) // 2 > max_pairs:
            raise ValueError(
                f"sample_size={sample_size} implies "
                f"{sample_size * (sample_size - 1) // 2} pairs "
                f"> max_pairs={max_pairs}"
            )
        ids = (
            base.select(
                F.col(id_col).alias("__sid"),
                F.md5(F.concat(F.lit("mh_audit:"), F.col(id_col).cast("string")))
                .alias("__h"),
            )
            .orderBy("__h", "__sid")
            .limit(sample_size)
            .select("__sid")
        )
        sample = base.join(
            F.broadcast(ids), base[id_col] == F.col("__sid"), "left_semi"
        )
    else:
        n = base.count()
        if n * (n - 1) // 2 > max_pairs:
            raise ValueError(
                f"auditing all {n} rows implies {n * (n - 1) // 2} pairs "
                f"> max_pairs={max_pairs}; pass a sample_size"
            )
        sample = base
    sigs = minhash_signatures(
        sample, id_col, text_col,
        num_hashes=num_hashes, shingle_len=shingle_len, seed=seed,
    )
    sigs = materialize(sigs, "neardup.minhash_estimate_report")[0]  # both join sides read it
    a = sigs.select(
        F.col("__id").alias("__ida"),
        F.col("__minhash").alias("__ma"),
        F.col("__shingles").alias("__sha"),
    )
    b = sigs.select(
        F.col("__id").alias("__idb"),
        F.col("__minhash").alias("__mb"),
        F.col("__shingles").alias("__shb"),
    )
    pairs = a.join(F.broadcast(b), F.col("__ida") < F.col("__idb"))
    matches = F.aggregate(
        F.zip_with("__ma", "__mb", lambda x, y: (x == y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    inter = F.size(F.array_intersect("__sha", "__shb")).cast("long")
    union = (F.size("__sha") + F.size("__shb")).cast("long") - inter
    q = 1_000_000 // num_hashes
    per = pairs.select(
        # exact-integer bucket: B*i // u (u >= 1: empty text yields the
        # single "" shingle)
        F.least(
            F.lit(n_buckets - 1),
            ((F.lit(n_buckets) * inter) - (F.lit(n_buckets) * inter) % union)
            / union,
        ).cast("int").alias("bucket"),
        (matches * q).alias("__qe"),
        F.floor(inter.cast("double") / union * 1e6 + 0.5)
        .cast("long")
        .alias("__qt"),
    )
    agg = per.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("__qe").alias("__se"),
        F.sum("__qt").alias("__st"),
        F.sum(F.abs(F.col("__qe") - F.col("__qt"))).alias("__sa"),
    )
    r4 = lambda c: F.floor(c * 10000 + 0.5) / 10000  # noqa: E731
    n = F.col("n_pairs").cast("double")
    return agg.select(
        "bucket",
        "n_pairs",
        r4(F.col("__se") / n / 1e6).alias("mean_est"),
        r4(F.col("__st") / n / 1e6).alias("mean_true"),
        r4(F.col("__sa") / n / 1e6).alias("mean_abs_err"),
    )
