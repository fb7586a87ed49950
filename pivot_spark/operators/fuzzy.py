"""Blocked fuzzy (edit-distance) join — the entity-resolution primitive:
match dirty strings against a clean reference set without an all-pairs
cross join.

Classic two-phase ER design (Fellegi-Sunter lineage; same shape as the
prefix-filtered set-similarity joins in ``neardup.py``):

1. **block**: candidate pairs come from an equi-join on a user-chosen
   blocking key (phonetic code, prefix, token, length bucket...).
   Blocking is a modeling decision — recall is bounded by it — so the
   keys are explicit arguments, not defaults.
2. **verify**: JVM-side ``levenshtein`` with the built-in early-exit
   threshold (returns -1 past the bound, so the DP matrix stays
   O(len * max_dist)), behind a cheap length pre-filter
   (``abs(len(a) - len(b)) > max_dist`` can never match).

Scale: cost is sum over blocks of |L_b| * |R_b| — bounded by the
blocking key's selectivity, never n². Hot blocks are ordinary join skew
(AQE skew-join splits them; ``skew.salted_join`` is the manual path).
Everything is codegen'd Catalyst — no Python in the hot path.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pivot_spark.operators._fence import pin
from pivot_spark.operators.profile import row_rank


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    max_dist: int,
    left_block: Column,
    right_block: Column,
    dist_col: str = "dist",
    dedup_verify: bool = True,
    length_band: bool = True,
    max_comparisons: "int | None" = None,
) -> DataFrame:
    """All candidate pairs with edit distance <= ``max_dist``.

    Returns every left column plus every right column plus ``dist_col``
    (int). Column names must not collide (alias beforehand). Pairs whose
    blocking keys differ are NOT produced — recall is the blocking
    function's responsibility. VOLUME, however, is the operator's: a
    naive block join is quadratic per block, and real entity data has
    skewed blocks (hot name prefixes like "LLC"/"Inc", corpora full of
    exact clones — the sf1 soak measured 63-72x slope at 10x data on
    exactly that). Two EXACTNESS-PRESERVING defenses are on by
    default, so results are bit-identical to the naive join:

    * ``dedup_verify``: the levenshtein verification runs once per
      DISTINCT (block, key) pair on each side; full rows join back on
      (block, key) afterwards. Per-block verify cost drops from
      |L_b| x |R_b| to |distinct L_b| x |distinct R_b|, and the
      re-expansion is output-sized — any engine is Omega(output).
      Cloned/duplicated keys (the measured blowup) collapse entirely.
    * ``length_band``: candidates additionally equi-join on a length
      band of width ``max(max_dist, 1)``. Since a qualifying pair
      differs by <= ``max_dist`` characters, its bands differ by at
      most 1, so the left side emits bands (b-1, b, b+1) — each pair
      still meets exactly once, and a block mixing many lengths (hot
      prefix over heterogeneous strings) splits into near-uniform
      sub-blocks at 3x left-key fan-out.

    Residual worst case: a block of many DISTINCT same-length
    near-equal keys is irreducibly quadratic in distinct keys — that
    volume equals the candidate set an exact algorithm must verify.
    For such data use ``sorted_neighborhood_pairs`` (candidate volume
    <= 2*window per row at any skew) and trade recall for a bound.

    Caller-side volume lever: the join-back is per ROW by contract
    (every left row x every right row whose keys verify), so a side
    whose duplicated rows carry no information the caller uses —
    e.g. a reference set consumed only through its key column, or
    feeding a multiplicity-insensitive aggregate (min_by/max_by/
    distinct) — should be ``.select(key).distinct()``'d BEFORE the
    call. On a corpus where keys repeat m times that removes an m-fold
    re-expansion the operator cannot elide (measured at 100x scale:
    2.1e9 -> 21M pre-aggregate rows for the e73 lookup, m ~ 100).

    ``max_comparisons``: optional fail-fast guard for exactly that
    residual regime (same contract as ``ngram_jaccard_pairs``): a
    linear-cost probe (two join-key-keyed counts, no pair join) counts
    the candidate join rows the block join would evaluate — sum over
    join keys (block, or block x length-band) of |L_k| x |R_k| over
    the frames ACTUALLY joined (post-dedup, post-band-explode) — and
    raises ``ValueError`` naming the measured volume and the bounded
    alternative if it exceeds the bound, before any pair shuffle.
    Default ``None`` (off); the probe does not perturb results
    (parity-tested).
    """
    def _guard(lf: DataFrame, rf: DataFrame, keys: "list[str]") -> None:
        if max_comparisons is None:
            return
        nl = lf.groupBy(*keys).agg(F.count(F.lit(1)).alias("__nl"))
        nr = rf.groupBy(*keys).agg(F.count(F.lit(1)).alias("__nr"))
        ncmp = (
            nl.join(nr, keys)
            .agg(F.sum(F.col("__nl") * F.col("__nr")).alias("__ncmp"))
            .collect()[0]["__ncmp"]
        ) or 0
        if ncmp > max_comparisons:
            raise ValueError(
                f"fuzzy_join would evaluate {ncmp:.3e} candidate join rows"
                f" (> max_comparisons={max_comparisons:.3e}). The blocking"
                " keys leave blocks of many distinct same-band keys — an"
                " irreducibly quadratic candidate set for exact edit-"
                "distance verification. Use a finer blocking function,"
                " sorted_neighborhood_pairs (candidate volume <= 2*window"
                " per row at any skew, approximate recall), or"
                " raise/disable `max_comparisons` if the cluster can"
                " absorb the join."
            )

    l = left.withColumn("__blk", left_block)
    r = right.withColumn("__blk", right_block)
    if not dedup_verify and not length_band:
        _guard(l.select("__blk"), r.select("__blk"), ["__blk"])
        lc, rc = F.col(left_on), F.col(right_on)
        cand = l.join(r, "__blk").filter(
            F.abs(F.length(lc) - F.length(rc)) <= max_dist
        )
        d = F.levenshtein(lc, rc, max_dist)
        out = cand.withColumn(dist_col, d).filter(F.col(dist_col) >= 0)
        return out.drop("__blk")

    lk = l.select("__blk", left_on)
    rk = r.select("__blk", right_on)
    if dedup_verify:
        lk, rk = lk.distinct(), rk.distinct()
    join_keys = ["__blk"]
    if length_band:
        w = max(max_dist, 1)
        band = F.floor(F.length(right_on) / w)
        rk = rk.withColumn("__band", band)
        lb = F.floor(F.length(left_on) / w)
        lk = lk.withColumn(
            "__band", F.explode(F.array(lb - 1, lb, lb + 1))
        )
        join_keys.append("__band")
    _guard(lk.select(*join_keys), rk.select(*join_keys), join_keys)
    lc, rc = F.col(left_on), F.col(right_on)
    cand = lk.join(rk, join_keys).filter(
        F.abs(F.length(lc) - F.length(rc)) <= max_dist
    )
    verified = (
        cand.withColumn(dist_col, F.levenshtein(lc, rc, max_dist))
        .filter(F.col(dist_col) >= 0)
        .select("__blk", left_on, right_on, dist_col)
    )
    if not dedup_verify:
        # keys were not collapsed: the same (blk, lkey, rkey) pair can
        # appear once per duplicate row; keep one verification row so
        # the join-back multiplicity stays |L rows| x |R rows|
        verified = verified.distinct()
    out = l.join(verified, ["__blk", left_on]).join(r, ["__blk", right_on])
    # same column order as the naive path: left cols, right cols, dist
    return out.select(*left.columns, *right.columns, dist_col)


def best_fuzzy_match(
    pairs: DataFrame,
    left_keys: Sequence[str],
    right_on: str,
    dist_col: str = "dist",
) -> DataFrame:
    """Pick each left entity's single best match: min distance, ties
    broken by the lexicographically smallest match string. One hash
    aggregate (``min_by`` over a composite struct) — no window sort."""
    left_keys = list(left_keys)
    others = [c for c in pairs.columns if c not in left_keys]
    key = F.struct(F.col(dist_col), F.col(right_on))
    return pairs.groupBy(*left_keys).agg(
        *[F.min_by(F.col(c), key).alias(c) for c in others]
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 5,
    max_dist: "int | None" = None,
    num_ranges: int = 32,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo 1995) — the
    classic entity-resolution alternative to hash blocks and LSH:
    records sort by a fuzzy key (name, normalized address) and only
    rows within ``window`` positions of each other become candidate
    pairs, so near-misses that straddle a hash-block boundary (the
    e73 prefix-block blind spot) still meet. With ``max_dist`` the
    pairs are verified with JVM ``levenshtein`` inside the join.

    Distributed shape — NO global sort of the data: the rank is
    ``profile.row_rank`` on (key, id). Candidates come from a
    rank-bucket equi-join (each row joins its floor(rank/window) bucket
    and the next), volume <= 2*window per row. Output: (id_a, id_b, key_a, key_b, rank_gap[, dist]) with
    rank_a < rank_b."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    base = df.select(F.col(id_col).alias("__id"), F.col(key_col).alias("__k"))
    ranked = row_rank(base, ["__k", "__id"], "__r", num_ranges)
    ranked = pin(ranked, "fuzzy.sorted_neighborhood_pairs")  # 2 join sides
    b = F.floor(F.col("__r") / window)
    left = ranked.select(
        "__id", "__k", "__r", F.explode(F.array(b, b + 1)).alias("__b")
    )
    right = ranked.select(
        F.col("__id").alias("__id2"),
        F.col("__k").alias("__k2"),
        F.col("__r").alias("__r2"),
        b.alias("__b"),
    )
    pairs = left.join(right, "__b").filter(
        (F.col("__r2") > F.col("__r")) & (F.col("__r2") - F.col("__r") <= window)
    )
    out = pairs.select(
        F.col("__id").alias("id_a"),
        F.col("__id2").alias("id_b"),
        F.col("__k").alias("key_a"),
        F.col("__k2").alias("key_b"),
        (F.col("__r2") - F.col("__r")).cast("int").alias("rank_gap"),
    ).dropDuplicates(["id_a", "id_b"])
    if max_dist is not None:
        out = out.withColumn(
            "dist", F.levenshtein("key_a", "key_b")
        ).filter(F.col("dist") <= max_dist)
    return out
