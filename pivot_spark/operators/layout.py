"""Data-layout optimization: Z-order (Morton) clustering for
multi-dimensional data skipping.

Sorting a table by one column gives perfect min/max pruning on that
column and none on others; interleaving the bits of k columns (the
Z-order curve) gives every column ~1/k of the pruning power — the
standard lakehouse layout trick (Delta/Iceberg ``OPTIMIZE ZORDER BY``)
re-expressed as plain Spark primitives:

1. per-column min/max from one tiny aggregate (broadcast back),
2. scale each value to a ``bits``-bit integer rank,
3. ``zorder_key`` = bit-interleave (pure Catalyst shift/mask
   expressions, codegen'd),
4. ``repartitionByRange`` + ``sortWithinPartitions`` on the key, so
   each output file covers a compact hyper-rectangle and its parquet
   min/max footer prunes on EVERY clustered column.

The key is deterministic given the column domains; the oracle replays
the same shift/mask arithmetic.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pivot_spark.operators.profile import _range_scan


def interleave_bits(cols: Sequence[Column], bits: int) -> Column:
    """Morton-interleave ``bits`` low bits of each non-negative integer
    column: bit b of column i lands at position b*k + i. Result fits a
    BIGINT for bits*k <= 63."""
    k = len(cols)
    if k == 0:
        raise ValueError("need at least one column")
    if bits * k > 63:
        raise ValueError(f"bits*k must be <= 63, got {bits}*{k}")
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, c in enumerate(cols):
            z = z + F.shiftleft(
                F.shiftright(c.cast("bigint"), b).bitwiseAND(F.lit(1)),
                b * k + i,
            )
    return z


def zorder_key(
    df: DataFrame,
    columns: Sequence[str],
    bits: int = 10,
    key_col: str = "zorder_key",
) -> DataFrame:
    """Append the Z-order key: each numeric column is min/max-scaled to
    [0, 2^bits - 1] (ranks from one broadcast stats row — constant
    columns map to 0) and bit-interleaved. NULLs rank 0."""
    cols = list(columns)
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__lo_{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"__hi_{i}") for i, c in enumerate(cols)],
    )
    out = df.crossJoin(F.broadcast(stats))
    top = float(2**bits - 1)
    scaled = []
    for i, c in enumerate(cols):
        lo, hi = F.col(f"__lo_{i}"), F.col(f"__hi_{i}")
        x = F.col(c).cast("double")
        s = F.when(
            x.isNotNull() & (hi > lo),
            F.floor((x - lo) / (hi - lo) * top),
        ).otherwise(F.lit(0))
        scaled.append(s)
    out = out.withColumn(key_col, interleave_bits(scaled, bits))
    return out.drop(*[f"__lo_{i}" for i in range(len(cols))], *[f"__hi_{i}" for i in range(len(cols))])


def cluster_by_zorder(
    df: DataFrame,
    columns: Sequence[str],
    bits: int = 10,
    num_partitions: int = 200,
) -> DataFrame:
    """Range-partition + sort by the Z-order key — write the result and
    every file's parquet min/max footer prunes on all ``columns``."""
    keyed = zorder_key(df, columns, bits)
    return keyed.repartitionByRange(num_partitions, "zorder_key").sortWithinPartitions(
        "zorder_key"
    )


def file_stats(df: DataFrame) -> DataFrame:
    """Per-input-file row counts for a file-backed DataFrame:
    (file STRING, n_rows LONG). One scan + one small aggregate keyed by
    file path — the audit input for ``compact``. Columns are pruned to
    the metadata column, so the scan reads no data pages for columnar
    sources."""
    return (
        df.select(F.input_file_name().alias("file"))
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def compact(
    spark,
    in_path: str,
    out_path: str,
    target_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """Small-file compaction: rewrite ``in_path`` into
    ``ceil(total_bytes / target_bytes)`` files at ``out_path``; returns
    the output file count.

    The small-files problem is a driver/namenode tax: every file costs a
    task, a footer read and an open per scan — a 100 TB table written by
    10k streaming micro-batches can hold millions of KB-sized files.
    Sizing uses the FILESYSTEM byte total (Hadoop listing, no data
    scan); the rewrite itself is one round-robin ``repartition`` (no
    key, so perfectly even output sizes) and never touches the driver.
    Use ``cluster_by_zorder`` instead when the rewrite should also
    establish a sort/cluster order.
    """
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(in_path)
    fs = p.getFileSystem(conf)
    total = fs.getContentSummary(p).getLength()
    n_files = max(1, -(-total // target_bytes))
    df = spark.read.format(fmt).load(in_path)
    df.repartition(int(n_files)).write.format(fmt).mode("overwrite").save(out_path)
    return int(n_files)


def plan_compaction(
    df: DataFrame,
    id_col: str,
    size_col: str,
    target_bytes: int,
) -> DataFrame:
    """Small-file compaction planner — the lakehouse OPTIMIZE
    prerequisite: group files into rewrite tasks of ~``target_bytes``
    each. Files order by (size DESC, id) and split by running size:
    bin = floor((cumsum - size) / target) — deterministic sorted
    next-fit, within 2x of optimal bin count like any first-fit
    family, and replayable on any engine (no driver-side bin state).

    The running size is a ``profile._range_scan`` — file listings are
    millions of rows at lake scale, so no global-sort single-partition
    window. Output: (``id_col``, ``size_col``, bin, bin_bytes — total of
    the file's bin)."""
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    base = df.select(
        F.col(id_col).alias("__id"), F.col(size_col).cast("long").alias("__sz")
    ).filter(F.col("__sz").isNotNull())
    order = [F.col("__sz").desc(), F.col("__id")]
    cum = _range_scan(base, order, [("__cum", "sum", "__sz", True)], "layout.plan_compaction")
    binned = cum.withColumn(
        "bin", F.floor((F.col("__cum") - F.col("__sz")) / target_bytes)
    )
    sizes = binned.groupBy("bin").agg(F.sum("__sz").alias("bin_bytes"))
    return (
        binned.join(sizes, "bin")
        .select(
            F.col("__id").alias(id_col),
            F.col("__sz").alias(size_col),
            "bin",
            "bin_bytes",
        )
    )
