"""Duplicated-substring detection — the exact-substring rung of the
dedup ladder (Lee et al. 2021, "Deduplicating Training Data Makes
Language Models Better" §4: any ≥k-token substring that occurs twice in
the corpus is a dedup target). The reference suffix-array method is a
single-machine construction; the distributed equivalent here slides a
k-token window over every document (stride 1 — unlike e32's fixed
CCNet chunks, which miss unaligned repeats), finds windows whose text
occurs more than once corpus-wide, and merges overlapping hits into
maximal duplicated spans per document.

Plan shape:
1. (doc, pos, gram) sliding windows    [scan-stage array expressions]
2. corpus gram counts                  [gram-keyed agg, map-side combine]
3. dup windows = join back on gram, count >= 2   [gram-keyed join]
4. per-doc interval merge: sort positions, break where the gap
   exceeds k, running-sum span ids     [ONE doc-keyed exchange+sort]

Scale: state is sliding windows (n_tokens per doc) — linear, never
quadratic; the gram join's hot keys are boilerplate n-grams whose
fan-out is exactly the duplication being measured. A 100 TB corpus
would hash grams (xxhash64) to shrink shuffle width — position
arithmetic is unchanged; the declared query keeps raw gram strings for
oracle replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pivot_spark.operators._fence import pin


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    lowercase: bool = True,
) -> DataFrame:
    """Maximal duplicated spans: one row per merged span of k-token
    windows whose text occurs >= 2 times corpus-wide (across documents
    or repeated within one). Output: (``id_col``, span_start, span_end,
    span_tokens) with 1-based inclusive token positions."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    # materialize tokens as a COLUMN before the window transform:
    # expressions referenced inside a higher-order-function lambda are
    # re-evaluated per array element (no CSE across the lambda
    # boundary), so an inline lower+split+filter tree makes the explode
    # O(n^2) per doc — measured 2.5x slower on the whole stage
    base = df.withColumn("__sp_toks", toks).withColumn(
        "__sp_n", F.size("__sp_toks")
    )
    wins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.col("__sp_n") - (k - 1), F.lit(0))),
        lambda i: F.struct(
            i.alias("pos"),
            F.array_join(F.slice(F.col("__sp_toks"), i, k), " ").alias("gram"),
        ),
    )
    pw = (
        base.filter(F.col("__sp_n") >= k)
        .select(F.col(id_col).alias("__id"), F.explode(wins).alias("w"))
        .select("__id", F.col("w.pos").alias("pos"), F.col("w.gram").alias("gram"))
    )
    pw = pin(pw, "spans.duplicated_spans")  # counts + join read it
    counts = pw.groupBy("gram").agg(F.count(F.lit(1)).alias("__c"))
    dup = pw.join(counts.filter(F.col("__c") >= 2), "gram").select("__id", "pos")
    # merge: windows [pos, pos+k-1]; a new span starts when the gap from
    # the previous window start exceeds k (disjoint, non-adjacent)
    w_ord = Window.partitionBy("__id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w_ord) > k, 1
    ).otherwise(0)
    spans = (
        dup.withColumn("__brk", brk)
        .withColumn(
            "__sid",
            F.sum("__brk").over(
                w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("__id", "__sid")
        .agg(F.min("pos").alias("span_start"), (F.max("pos") + (k - 1)).alias("span_end"))
    )
    return spans.select(
        F.col("__id").alias(id_col),
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
    )


def repetition_runs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_period: int = 2,
    lowercase: bool = True,
) -> DataFrame:
    """Degenerate-loop detection (the 'the the the' / 'a b a b' failure
    mode of generated text, and a standard quality filter on scraped
    corpora): for each period p in 1..``max_period``, the longest run
    of tokens satisfying t[i] == t[i-p], reported as the repeated-block
    count (a run of r extra matches at period p means the p-token block
    repeats r/p + 1 times... reported raw as ``run_p{p}`` = longest
    chain of period-p matches, 0 when none).

    Pure scan-stage: one ordered array fold per period over the token
    array — zero shuffles, zero UDFs. Output: (``id_col``, n_tokens,
    run_p1, ..., run_p{max_period})."""
    if max_period < 1:
        raise ValueError(f"max_period must be >= 1, got {max_period}")
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    out = df.select(F.col(id_col), toks.alias("__t"))

    def longest_run(p: int):
        # fold over positions p+1..n: match iff t[i] == t[i-p].
        # sequence(1, max(n, 1)) + filter keeps the range ascending and
        # in-bounds for docs shorter than the period (empty fold -> 0)
        idx = F.sequence(F.lit(1), F.greatest(F.size(F.col("__t")), F.lit(1)))
        acc0 = F.struct(F.lit(0).alias("cur"), F.lit(0).alias("mx"))
        folded = F.aggregate(
            F.filter(idx, lambda i: (i > p) & (i <= F.size(F.col("__t")))),
            acc0,
            lambda a, i: F.struct(
                F.when(
                    F.element_at(F.col("__t"), i)
                    == F.element_at(F.col("__t"), i - p),
                    a["cur"] + 1,
                )
                .otherwise(F.lit(0))
                .alias("cur"),
                F.greatest(
                    a["mx"],
                    F.when(
                        F.element_at(F.col("__t"), i)
                        == F.element_at(F.col("__t"), i - p),
                        a["cur"] + 1,
                    ).otherwise(F.lit(0)),
                ).alias("mx"),
            ),
            lambda a: a["mx"],
        )
        return folded

    cols = [F.size(F.col("__t")).alias("n_tokens")]
    for p in range(1, max_period + 1):
        cols.append(longest_run(p).alias(f"run_p{p}"))
    return out.select(id_col, *cols)


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    lowercase: bool = True,
) -> DataFrame:
    """Apply-side of ``duplicated_spans`` — Lee et al. 2021's actual
    dedup action: every duplicated k-token window is REMOVED except its
    first corpus occurrence (ordered by (doc, pos) — deterministic on
    any engine/partitioning), so exactly one copy of each repeated
    passage survives. Tokens covered by any non-first duplicate window
    are cut and the document re-assembled from the survivors.

    Plan: the e127 sliding windows [scan-stage] -> per-gram first-
    occurrence rank (ONE gram-keyed window — the gram is the shuffle
    key, so boilerplate fan-out is the duplication itself) -> covered
    token positions exploded + deduped per doc [doc-keyed agg] ->
    doc-keyed join back onto the corpus (only docs that lose tokens
    appear on the build side). Position filtering and re-assembly are
    pure array expressions; output text is the lowercased,
    whitespace-normalized token join (declared). Output: (``id_col``,
    ``text_col`` cleaned, n_tokens, n_removed)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    # tokens materialized as a column first — see duplicated_spans
    tb = df.withColumn("__sp_toks", toks).withColumn(
        "__sp_n", F.size("__sp_toks")
    )
    wins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.col("__sp_n") - (k - 1), F.lit(0))),
        lambda i: F.struct(
            i.alias("pos"),
            F.array_join(F.slice(F.col("__sp_toks"), i, k), " ").alias("gram"),
        ),
    )
    pw = (
        tb.filter(F.col("__sp_n") >= k)
        .select(F.col(id_col).alias("__id"), F.explode(wins).alias("w"))
        .select("__id", F.col("w.pos").alias("pos"), F.col("w.gram").alias("gram"))
    )
    w_first = Window.partitionBy("gram").orderBy("__id", "pos")
    marked = (
        pw.withColumn("__rn", F.row_number().over(w_first))
        .filter(F.col("__rn") > 1)
        .select("__id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("p"))
        .distinct()
    )
    rem = marked.groupBy("__id").agg(F.sort_array(F.collect_list("p")).alias("__rem"))
    base = df.select(F.col(id_col), toks.alias("__t"))
    j = base.join(rem, base[id_col] == rem["__id"], "left")
    remc = F.coalesce(F.col("__rem"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("__t"), lambda x, i: ~F.array_contains(remc, (i + 1).cast("int"))
    )
    return j.select(
        F.col(id_col),
        F.array_join(kept, " ").alias(text_col),
        F.size("__t").alias("n_tokens"),
        F.size(remc).alias("n_removed"),
    )


def dedup_savings_report(
    df: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Effective-dataset-size report — the number that matters after
    dedup: per group (feed/source), raw tokens vs tokens surviving
    keep-first duplicated-span removal (``remove_duplicated_spans``),
    and the savings fraction. This is the per-feed budget table a
    mixture plan (e37/e132) should consume INSTEAD of raw counts —
    a feed that is 40% internal boilerplate contributes 40% fewer
    real tokens than its size suggests.

    One pass of the span-removal pipeline + one group aggregate over
    its per-doc output. Output: (group, n_docs, raw_tokens,
    effective_tokens, removed_tokens, savings_frac)."""
    cleaned = remove_duplicated_spans(df, id_col, text_col, k=k)
    j = cleaned.join(
        df.select(F.col(id_col), F.col(group_col).alias("__grp")), id_col
    )
    return (
        j.groupBy(F.col("__grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("raw_tokens"),
            F.sum(F.col("n_tokens") - F.col("n_removed")).alias("effective_tokens"),
            F.sum("n_removed").alias("removed_tokens"),
        )
        .withColumn(
            "savings_frac",
            F.try_divide(
                F.col("removed_tokens").cast("double"), F.col("raw_tokens")
            ),
        )
    )
