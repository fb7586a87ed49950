"""Byte-pair-encoding subword learning + tokenization (Sennrich et al.
2016, the GPT/Llama tokenizer-training family) as distributed DataFrame
algebra.

Scale shape — the part that matters at 100 TB:
* The corpus is touched ONCE: a whitespace word histogram (one hash
  aggregate). Everything after runs on the distinct-WORD frame, which is
  vocabulary-sized (Heaps' law: millions of rows for a trillion-token
  corpus), not corpus-sized.
* Each merge round is one pair-count aggregate over that vocab frame +
  a driver argmax of ONE (pair, count) row + a literal string-replace
  rewrite — all Catalyst; lineage is truncated with localCheckpoint so
  round N's plan is O(1).
* Words are represented as space-joined symbol strings ending in the
  </w> marker. Merging pair (x, y) is the literal replacement
  ``' x y ' -> ' xy '`` on the padded string: non-overlapping left-to-
  right replacement is exactly BPE's greedy merge order, so the whole
  recurrence stays in string expressions (hash-checkable in SQL — see
  plans/declared.py e113) instead of per-row Python.
* Encoding applies the learned merge list as a chained literal-replace
  scan over the input — zero shuffles, zero Python; the chain is staged
  every few merges to stay inside codegen limits.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

END = "</w>"


def _words(df: DataFrame, text_col: str, lowercase: bool) -> DataFrame:
    txt = F.col(text_col)
    if lowercase:
        txt = F.lower(txt)
    tok = F.explode(F.split(txt, r"\s+")).alias("w")
    return (
        df.select(tok)
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _sym_expr(w: Column) -> Column:
    """word -> 'c h a r s </w>' (space-joined single chars + end mark)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(w)), lambda i: F.substring(w, i, 1)
    )
    return F.concat(F.array_join(chars, " "), F.lit(" " + END))


def _merge_expr(sym: Column, left: str, right: str) -> Column:
    """Apply one merge to a symbol string: greedy left-to-right, the
    literal replace on the space-padded form."""
    padded = F.concat(F.lit(" "), sym, F.lit(" "))
    replaced = F.replace(
        padded,
        F.lit(f" {left} {right} "),
        F.lit(f" {left}{right} "),
    )
    return F.trim(replaced)


def bpe_learn(
    df: DataFrame,
    text_col: str,
    num_merges: int = 10,
    lowercase: bool = True,
) -> DataFrame:
    """Learn ``num_merges`` BPE merges from the corpus. Returns the merge
    table ``(merge_idx INT 1-based, left STRING, right STRING,
    pair_count BIGINT — the pair's weighted frequency when chosen)`` in
    learning order. Ties break deterministically: highest count, then
    lexicographically smallest (left, right).
    """
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    spark = df.sparkSession
    vocab = _words(df, text_col, lowercase).select(
        _sym_expr(F.col("w")).alias("sym"), "c"
    )
    merges = []
    for idx in range(1, num_merges + 1):
        # the round's pair count and its merge both read vocab; the
        # checkpoint also keeps the plan from growing with the rounds
        vocab = vocab.localCheckpoint(eager=False)
        # bind the split array to a lambda variable so it is evaluated
        # once per vocab row, not once per adjacent pair (expressions
        # referenced inside an HOF lambda are re-evaluated per element)
        # NB: fully-merged single-symbol words must yield NO pairs —
        # sequence(1, 0) is DESCENDING [1, 0] in Spark, so an unguarded
        # size-1 word would index element_at(sp, 2) out of bounds
        pairs = F.explode(
            F.element_at(
                F.transform(
                    F.array(F.split(F.col("sym"), " ")),
                    lambda sp: F.when(
                        F.size(sp) >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size(sp) - 1),
                            lambda i: F.struct(
                                F.element_at(sp, i).alias("l"),
                                F.element_at(sp, i + F.lit(1)).alias("r"),
                            ),
                        ),
                    ).otherwise(
                        F.array().cast("array<struct<l:string,r:string>>")
                    ),
                ),
                1,
            )
        )
        top = (
            vocab.select(pairs.alias("p"), "c")
            .groupBy("p")
            .agg(F.sum("c").alias("n"))
            .orderBy(F.desc("n"), F.asc("p.l"), F.asc("p.r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        row = top[0]
        left, right, n = row.p.l, row.p.r, row.n
        merges.append((idx, left, right, n))
        vocab = vocab.select(
            _merge_expr(F.col("sym"), left, right).alias("sym"), "c"
        )
    return spark.createDataFrame(
        merges, "merge_idx int, left string, right string, pair_count long"
    )


def bpe_encode(
    df: DataFrame,
    text_col: str,
    merges: Sequence[tuple],
    out_col: str = "tokens",
    lowercase: bool = True,
    stage_every: int = 8,
) -> DataFrame:
    """Tokenize ``text_col`` with a learned merge list (``(left, right)``
    tuples in merge order): per whitespace word, split to characters +
    ``</w>`` and apply every merge greedily. Adds ``out_col``
    (array<string> of subword tokens, ``</w>``-terminated words).

    Pure scan-stage string algebra — the merge chain compiles into the
    projection (staged every ``stage_every`` merges to keep generated
    methods under the JVM codegen limit). For a production tokenizer
    with 30k+ merges, swap this for an Arrow ``mapInPandas`` with a real
    tokenizer library; the plan shape (scan-stage, no shuffle) is the
    same.
    """
    txt = F.col(text_col)
    if lowercase:
        txt = F.lower(txt)
    words = F.filter(F.split(txt, r"\s+"), lambda w: w != F.lit(""))
    out = df.withColumn("__bpe_syms", F.transform(words, _sym_expr))
    def _apply_one(left: str, right: str):
        # single-arg lambda factory: Spark derives the higher-order
        # function's arity from the python signature
        return lambda s: _merge_expr(s, left, right)

    applied = 0
    cur = F.col("__bpe_syms")
    for left, right in [(m[0], m[1]) if not hasattr(m, "left") else (m.left, m.right) for m in merges]:
        cur = F.transform(cur, _apply_one(left, right))
        applied += 1
        if applied % stage_every == 0:
            out = out.withColumn("__bpe_syms", cur)
            cur = F.col("__bpe_syms")
    out = out.withColumn("__bpe_syms", cur)
    tokens = F.flatten(
        F.transform(F.col("__bpe_syms"), lambda s: F.split(s, " "))
    )
    return out.withColumn(out_col, tokens).drop("__bpe_syms")


def bpe_decode(
    df: DataFrame,
    tokens_col: str,
    out_col: str = "decoded",
) -> DataFrame:
    """Inverse of ``bpe_encode``: concatenate the subword tokens and
    turn each ``</w>`` terminator back into a word boundary. For any
    merge list, decode(encode(text)) equals the canonical form of the
    input (lowercased, whitespace collapsed — exactly what the encoder
    consumed), which makes this the round-trip audit for a learned
    tokenizer: a match-rate below 1.0 means the merge table or the
    encoder is corrupt. Pure scan-stage string algebra."""
    joined = F.array_join(F.col(tokens_col), "")
    return df.withColumn(
        out_col, F.trim(F.regexp_replace(joined, "</w>", " "))
    )
