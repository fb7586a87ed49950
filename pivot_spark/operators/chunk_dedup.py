"""Corpus-level duplicated-chunk signals (CCNet-style paragraph dedup).

CCNet/RefinedWeb-style pipelines dedup at *sub-document* granularity:
split every document into paragraphs, count each paragraph's frequency
across the whole corpus, and drop or down-weight documents dominated by
boilerplate (chunks that appear elsewhere). The reference
(data-integrations/pivot) has nothing like this; it is part of the
training-data extension surface (SURVEY.md §2.4 E32).

Chunking here is fixed-size word windows (the synthetic corpus has no
newlines); with real data pass a paragraph splitter regex instead.

Scale shape (100 TB): chunks are grouped by their **md5** digest, not the
chunk text — the global-frequency shuffle then carries 16-byte keys
instead of arbitrary-length strings, and md5 is replayable in any engine
(the DuckDB oracle uses the same digest). Two shuffles total: the global
chunk-frequency aggregation and the per-document reaggregation; both are
plain hash aggregates with map-side partial combine. No UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pivot_spark.operators._fence import pin


def chunk_dup_signals(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = 10,
) -> DataFrame:
    """Per-document corpus-duplication signals.

    Returns ``(id_col, n_chunks, n_dup_chunks, dup_chunk_fraction)`` where
    a chunk is "dup" when its md5 occurs more than once corpus-wide
    (including repeats inside the same document). Documents with no words
    get ``(0, 0, 0.0)``.
    """
    cw = int(chunk_words)
    ws = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != F.lit(""))
    n_chunk = F.ceil(F.size("ws") / F.lit(float(cw))).cast("int")
    # sequence(0, -1) would infer step -1 and yield [0, -1]: guard empties
    idx = F.when(F.size("ws") > 0, F.sequence(F.lit(0), n_chunk - 1)).otherwise(
        F.lit(None).cast("array<int>")
    )

    chunks = (
        df.select(F.col(id_col), ws.alias("ws"))
        .select(id_col, F.explode(idx).alias("i"), "ws")
        .select(
            id_col,
            F.md5(
                F.array_join(F.slice("ws", F.col("i") * cw + 1, F.lit(cw)), " ")
            ).alias("ch"),
        )
    )
    freq = chunks.groupBy("ch").agg(F.count(F.lit(1)).alias("f"))
    per_doc = (
        chunks.join(freq, "ch")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("f") > 1, 1).otherwise(0)).alias("n_dup_chunks"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0)).alias("n_dup_chunks"),
            F.round(
                F.coalesce(
                    F.col("n_dup_chunks") / F.col("n_chunks"), F.lit(0.0)
                ),
                4,
            ).alias("dup_chunk_fraction"),
        )
    )


def cross_source_dup_matrix(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Cross-source duplication matrix — the curation diagnosis that
    tells you WHICH feeds copy from which: near-dup pairs (from any of
    the e03/e08/e10/e123 detectors) roll up to unordered source-pair
    counts plus each source's internal-dup count. Two broadcast-scale
    joins of the (tiny) pair frame against the (id, source) projection
    — the corpus itself is scanned once for the projection and never
    shuffled wide. Output: (source_a <= source_b, n_pairs,
    within_source BOOLEAN)."""
    sides = docs.select(F.col(id_col), F.col(source_col))
    a = sides.withColumnsRenamed({id_col: id_a, source_col: "__sa"})
    b = sides.withColumnsRenamed({id_col: id_b, source_col: "__sb"})
    j = pairs.join(F.broadcast(a), id_a).join(F.broadcast(b), id_b)
    return (
        j.select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("within_source", F.col("source_a") == F.col("source_b"))
    )


def source_diversity(
    df: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    text_col: str = "text",
    sample_k: int = 10,
    shingle_len: int = 3,
    salt: str = "div",
) -> DataFrame:
    """Within-group redundancy audit — how internally repetitive is
    each feed: a deterministic md5-ranked sample of ``sample_k`` docs
    per group (the e52 machinery — reproducible on any engine), all
    within-group sample pairs compared by word-shingle Jaccard, and the
    group summarized by its mean/max pairwise similarity. The pair
    count is bounded by k(k-1)/2 per group regardless of group size —
    the audit costs the same on a 10^9-doc feed as on 10^4.

    Output: (group, n_docs, n_pairs, mean_jaccard, max_jaccard) —
    high mean = the feed is boilerplate-heavy (dedup it first)."""
    if sample_k < 2:
        raise ValueError(f"sample_k must be >= 2, got {sample_k}")
    # Expression shingles, not the pandas-UDF variant: shingling runs
    # AFTER the top-k sample filter (<= k rows per group), so the
    # corpus-scale argument for the Arrow path doesn't apply and the
    # expression keeps the stage in whole-stage codegen with no Python
    # worker round-trip (round-4 bench flag e161).
    from pivot_spark.operators.neardup import word_shingles

    base = df.filter(
        F.col(id_col).isNotNull() & F.col(group_col).isNotNull()
    )
    rk = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(rk, F.col(id_col))
    sampled = (
        base.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= sample_k)
        .select(
            F.col(group_col).alias("grp"),
            F.col(id_col).alias("__id"),
            word_shingles(F.lower(F.col(text_col)), shingle_len).alias("__g"),
        )
    )
    sampled = pin(sampled, "chunk_dedup.source_diversity")  # 2 join sides
    n_docs = base.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    a, b = sampled.alias("a"), sampled.alias("b")
    pairs = a.join(
        b, (F.col("a.grp") == F.col("b.grp")) & (F.col("a.__id") < F.col("b.__id"))
    )
    inter = F.size(F.array_intersect(F.col("a.__g"), F.col("b.__g")))
    union = F.size(F.col("a.__g")) + F.size(F.col("b.__g")) - inter
    per = pairs.select(
        F.col("a.grp").alias("grp"),
        F.try_divide(inter.cast("double"), union.cast("double")).alias("__j"),
    ).groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.avg("__j").alias("mean_jaccard"),
        F.max("__j").alias("max_jaccard"),
    )
    return n_docs.join(per, "grp", "left").select(
        F.col("grp").alias(group_col),
        "n_docs",
        F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        "mean_jaccard",
        "max_jaccard",
    )
