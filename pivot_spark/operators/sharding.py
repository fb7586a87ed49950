"""Rendezvous (highest-random-weight) hashing — the shard-assignment
scheme behind consistent routing in storage systems (Thaler & Ravishankar
1998): key k goes to argmax_s h(s, k). Unlike modulo hashing, growing
the cluster from N to M shards moves only (M-N)/M of the keys (each key
keeps its shard unless one of the NEW shards wins its argmax) — no ring
metadata, no virtual nodes, deterministic on any engine.

Everything is scan-stage: the per-shard hashes are md5 hex strings
(lexicographic argmax over uniform hashes == argmax over uniforms)
built as an in-plan literal-seeded array, reduced with array_max over
(hash, shard) structs. The rebalance report is one aggregate."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pivot_spark.operators._fence import pin


def rendezvous_shard(key: Column, n_shards: int, salt: str = "shard") -> Column:
    """Shard id (INT in [0, n_shards)) of ``key`` under HRW hashing."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    entries = F.array(
        *[
            F.struct(
                F.md5(
                    F.concat(F.lit(f"{salt}:{s}:"), key.cast("string"))
                ).alias("h"),
                F.lit(s).alias("s"),
            )
            for s in range(n_shards)
        ]
    )
    return F.array_max(entries)["s"]


def rebalance_report(
    df: DataFrame,
    key_col: str,
    n_from: int,
    n_to: int,
    salt: str = "shard",
) -> DataFrame:
    """Movement audit for growing (or shrinking) an HRW cluster from
    ``n_from`` to ``n_to`` shards: ONE row — (n_keys, moved,
    moved_share, expected_share = (M-N)/M for growth, max_share_from,
    max_share_to — the hottest shard's key share before/after, the
    balance check). One pass over the distinct keys, one aggregate."""
    if n_from < 1 or n_to < 1:
        raise ValueError("shard counts must be >= 1")
    k = F.col(key_col)
    keys = df.filter(k.isNotNull()).select(k.alias("key")).distinct()
    tagged = keys.select(
        "key",
        rendezvous_shard(F.col("key"), n_from, salt).alias("s_from"),
        rendezvous_shard(F.col("key"), n_to, salt).alias("s_to"),
    )
    # three aggregates read the tags; each key's md5 draws run once
    tagged = pin(tagged, "sharding.rebalance_report")
    agg = tagged.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum((F.col("s_from") != F.col("s_to")).cast("long")).alias("moved"),
    )
    mf = tagged.groupBy("s_from").agg(F.count(F.lit(1)).alias("c")).agg(
        F.max("c").alias("__mf")
    )
    mt = tagged.groupBy("s_to").agg(F.count(F.lit(1)).alias("c")).agg(
        F.max("c").alias("__mt")
    )
    expected = (
        (n_to - n_from) / n_to if n_to >= n_from else (n_from - n_to) / n_from
    )
    return (
        agg.crossJoin(F.broadcast(mf))
        .crossJoin(F.broadcast(mt))
        .select(
            "n_keys",
            "moved",
            (F.col("moved") / F.col("n_keys")).alias("moved_share"),
            F.lit(float(expected)).alias("expected_share"),
            (F.col("__mf") / F.col("n_keys")).alias("max_share_from"),
            (F.col("__mt") / F.col("n_keys")).alias("max_share_to"),
        )
    )
