"""Corpus-level unigram language-model scoring — the cheap, fully
distributed stand-in for the KenLM perplexity filter used by CCNet /
RefinedWeb-style pipelines (Wenzek et al. 2020 train an n-gram LM and
drop high-perplexity documents; a unigram LM is the degenerate case
that needs no external model artifact).

Plan shape (two passes over the exploded tokens, both skew-free):

1. **Vocabulary**: token -> occurrence count (one hash agg with
   map-side combine), then a bounded distributed top-V selection
   (``orderBy(...).limit(V)`` compiles to TakeOrdered — per-partition
   heaps, never a global sort) with the deterministic tie-break
   (count desc, token asc). V bounds driver/broadcast state no matter
   how many distinct tokens the corpus has.
2. **Scoring**: tokens LEFT-join the broadcast vocabulary (hot tokens
   are replicated to every task — no shuffle skew by construction);
   out-of-vocabulary tokens get the floor probability 1/N. Per-doc
   mean of -ln(p) is one hash agg keyed by doc id.

Score semantics: avg_neg_logp = (1/n_d) * sum_t -ln(cnt(t)/N), with
N = total token occurrences in the corpus; OOV -> -ln(1/N). Lower is
more "typical" text; filter by thresholding, as with any LM filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pivot_spark.functions.text import tokens
from pivot_spark.operators._fence import pin


def unigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 10_000,
    lowercase: bool = True,
    score_col: str = "avg_neg_logp",
) -> DataFrame:
    """One row per document: ``id_col``, ``n_tokens``, ``score_col``
    (mean negative log unigram probability, DOUBLE rounded 4)."""
    if vocab_size <= 0:
        raise ValueError("vocab_size must be positive")
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = df.select(
        F.col(id_col), F.explode(tokens(text)).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = counts.orderBy(F.col("cnt").desc(), F.col("token")).limit(vocab_size)
    totals = counts.agg(F.sum("cnt").alias("n_total"))

    scored = (
        toks.join(F.broadcast(vocab), "token", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            (
                -F.log(
                    F.coalesce(F.col("cnt"), F.lit(1)).cast("double")
                    / F.col("n_total")
                )
            ).alias("__nlp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("__nlp"), 4).alias(score_col),
    )


def bigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 10_000,
    lam: float = 0.7,
    lowercase: bool = True,
    score_col: str = "avg_neg_logp",
    unk_token: str = "<unk>",
) -> DataFrame:
    """Interpolated bigram LM score per document — one step closer to
    the KenLM filter than ``unigram_lm_score``:

        p(w2 | w1) = lam * c(w1 w2)/c(w1) + (1-lam) * c(w2)/N

    over the <unk>-mapped token stream (tokens outside the top-V
    vocabulary collapse to ``unk_token``, bounding both count tables'
    key spaces). Returns (``id_col``, n_bigrams BIGINT, ``score_col``
    DOUBLE rounded 4 — mean -ln p over the doc's bigrams; docs with
    < 2 tokens score NULL).

    Scale shape: bigrams are built in the ARRAY domain (zip of the
    token array with its shift — no per-doc window, so there is no
    corpus shuffle keyed by doc id); the <unk> map and the ≤ V+1-row
    unigram table are broadcast; the only corpus-sized shuffles are the
    bigram count aggregate and the count join, both keyed by the
    bigram itself (map-side combine absorbs hot bigrams). The pair
    frame is pinned (``_fence.pin``) so tokenization runs once.
    """
    if vocab_size <= 0:
        raise ValueError("vocab_size must be positive")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = df.select(F.col(id_col), tokens(text).alias("__w"))
    expl = toks.select(id_col, F.explode("__w").alias("__tok"))
    raw_counts = expl.groupBy("__tok").agg(F.count(F.lit(1)).alias("__c"))
    # ≤ V rows read by three broadcast sides (one TakeOrdered)
    vocab = pin(
        raw_counts.orderBy(F.col("__c").desc(), F.col("__tok"))
        .limit(vocab_size)
        .select("__tok"),
        "lm.bigram_lm_score",
    )

    # raw pairs from the array (w[:-1] zip w[1:]); docs with <2 tokens
    # produce no pairs and come back via the final left join
    n = F.size("__w")
    praw = toks.filter(n >= 2).select(
        id_col,
        F.explode(
            F.zip_with(
                F.slice("__w", 1, n - 1),
                F.slice("__w", 2, n - 1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("__p"),
    ).select(id_col, F.col("__p.a").alias("__a"), F.col("__p.b").alias("__b"))
    # (doc, a, b, multiplicity): read by the bigram counts and the scoring
    vmark = vocab.withColumn("__v", F.lit(True))
    dp = pin(
        praw.join(F.broadcast(vmark.withColumnRenamed("__tok", "__a").withColumnRenamed("__v", "__av")), "__a", "left")
        .join(F.broadcast(vmark.withColumnRenamed("__tok", "__b").withColumnRenamed("__v", "__bv")), "__b", "left")
        .select(
            id_col,
            F.when(F.col("__av"), F.col("__a")).otherwise(F.lit(unk_token)).alias("__a"),
            F.when(F.col("__bv"), F.col("__b")).otherwise(F.lit(unk_token)).alias("__b"),
        )
        .groupBy(id_col, "__a", "__b")
        .agg(F.count(F.lit(1)).alias("__m")),
        "lm.bigram_lm_score",
    )
    # <unk>-mapped unigram counts in ONE conditional aggregate;
    # ≤ V+1 rows read by three broadcast sides
    uni_all = pin(
        expl.join(F.broadcast(vmark), "__tok", "left")
        .select(
            F.when(F.col("__v"), F.col("__tok")).otherwise(F.lit(unk_token)).alias("__tok")
        )
        .groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__c")),
        "lm.bigram_lm_score",
    )
    total = uni_all.agg(F.sum("__c").cast("double").alias("__n"))

    bc = dp.groupBy("__a", "__b").agg(F.sum("__m").alias("__cb"))
    u1 = uni_all.select(F.col("__tok").alias("__a"), F.col("__c").alias("__c1"))
    u2 = uni_all.select(F.col("__tok").alias("__b"), F.col("__c").alias("__c2"))
    p = (
        F.lit(lam) * F.col("__cb") / F.col("__c1")
        + F.lit(1.0 - lam) * F.col("__c2") / F.col("__n")
    )
    scored = (
        dp.join(bc, ["__a", "__b"])
        .join(F.broadcast(u1), "__a")
        .join(F.broadcast(u2), "__b")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("__m").alias("n_bigrams"),
            F.round(
                F.sum(F.col("__m") * -F.log(p)) / F.sum("__m"), 4
            ).alias(score_col),
        )
    )
    return df.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
        F.col(score_col),
    )


def stupid_backoff_score(
    train_df: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 10_000,
    alpha: float = 0.4,
    lowercase: bool = True,
    score_col: str = "avg_neg_logs",
    unk_token: str = "<unk>",
) -> DataFrame:
    """Held-out Stupid-Backoff bigram scoring (Brants et al. 2007,
    "Large Language Models in Machine Translation") — the LM filter at
    web scale: counts are NOT a probability model, just

        S(b | a) = c(a b) / c(a)        if the bigram was seen in train
                 = alpha * c(b) / N      otherwise (backoff, no renorm)

    which needs no discounting pass and therefore distributes as plain
    counting. Train and score corpora are separate inputs (score a
    shard against counts from a held-out shard — unlike the
    interpolated ``bigram_lm_score``, unseen bigrams genuinely hit the
    backoff branch). Unigram/vocabulary tables come from TRAIN; score
    tokens outside the train vocabulary collapse to ``unk_token``; a
    backoff word absent even from train unigrams floors at c(b)=1.

    Scale: both corpora are touched once; the only corpus-keyed
    shuffles are bigram-count aggregates and the (a, b)-keyed count
    join; vocab and unigram tables are ≤ V+1 rows, broadcast. Returns
    (``id_col``, n_bigrams BIGINT, ``score_col`` DOUBLE r4 — mean
    -ln S over the doc's bigrams; docs with < 2 tokens score NULL).
    """
    if vocab_size <= 0:
        raise ValueError("vocab_size must be positive")
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    from pivot_spark.functions.text import tokens

    def toks_of(frame: DataFrame) -> DataFrame:
        text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
        return frame.select(F.col(id_col), tokens(text).alias("__w"))

    def pairs_of(tok_frame: DataFrame) -> DataFrame:
        n = F.size("__w")
        return (
            tok_frame.filter(n >= 2)
            .select(
                id_col,
                F.explode(
                    F.zip_with(
                        F.slice("__w", 1, n - 1),
                        F.slice("__w", 2, n - 1),
                        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                    )
                ).alias("__p"),
            )
            .select(
                id_col,
                F.col("__p.a").alias("__a"),
                F.col("__p.b").alias("__b"),
            )
        )

    ttoks = toks_of(train_df)
    texpl = ttoks.select(F.explode("__w").alias("__tok"))
    vocab = pin(
        texpl.groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.col("__c").desc(), F.col("__tok"))
        .limit(vocab_size)
        .select("__tok"),
        "lm.stupid_backoff_score",
    )
    vmark = vocab.withColumn("__v", F.lit(True))

    def unk_map(frame: DataFrame, col: str) -> DataFrame:
        side = F.broadcast(
            vmark.withColumnRenamed("__tok", col).withColumnRenamed("__v", f"__{col}v")
        )
        return frame.join(side, col, "left").withColumn(
            col,
            F.when(F.col(f"__{col}v"), F.col(col)).otherwise(F.lit(unk_token)),
        ).drop(f"__{col}v")

    # train tables: unk-mapped unigram counts (≤ V+1 rows) + bigram counts
    uni = pin(
        unk_map(texpl.withColumnRenamed("__tok", "__t1"), "__t1")
        .groupBy("__t1")
        .agg(F.count(F.lit(1)).alias("__c")),
        "lm.stupid_backoff_score",
    )
    total = uni.agg(F.sum("__c").cast("double").alias("__n"))
    tb = unk_map(unk_map(pairs_of(ttoks), "__a"), "__b")
    bc = tb.groupBy("__a", "__b").agg(F.count(F.lit(1)).alias("__cb"))

    # score side: distinct (doc, a, b, multiplicity) pre-aggregate
    dp = (
        unk_map(unk_map(pairs_of(toks_of(df)), "__a"), "__b")
        .groupBy(id_col, "__a", "__b")
        .agg(F.count(F.lit(1)).alias("__m"))
    )
    u1 = F.broadcast(uni.select(F.col("__t1").alias("__a"), F.col("__c").alias("__c1")))
    u2 = F.broadcast(uni.select(F.col("__t1").alias("__b"), F.col("__c").alias("__c2")))
    s = F.when(
        F.col("__cb").isNotNull(),
        F.col("__cb").cast("double") / F.col("__c1"),
    ).otherwise(
        F.lit(alpha) * F.coalesce(F.col("__c2"), F.lit(1)).cast("double") / F.col("__n")
    )
    scored = (
        dp.join(bc, ["__a", "__b"], "left")
        .join(u1, "__a", "left")
        .join(u2, "__b", "left")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("__m").alias("n_bigrams"),
            F.round(F.sum(F.col("__m") * -F.log(s)) / F.sum("__m"), 4).alias(
                score_col
            ),
        )
    )
    return df.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
        F.col(score_col),
    )


def char_bigram_gibberish(
    train_df: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    laplace: float = 1.0,
    score_col: str = "avg_neg_log",
) -> DataFrame:
    """Character-bigram gibberish score — the classic keyboard-mash /
    mojibake screen (the char-level analogue of the word-level LM
    filters above, and the shape of the widely-used public
    "gibberish-detector" trick): train char-bigram counts on a clean
    shard, score every document by the mean negative log of
    P(c2 | c1) with Laplace smoothing over the observed alphabet.

    Text is canonicalized to lowercase with whitespace collapsed to
    single spaces; documents shorter than 2 chars are dropped. Natural
    language sits in a tight score band; random characters, base64
    blobs and broken encodings score far above it.

        P(c2|c1) = (c(c1 c2) + laplace) / (c(c1) + laplace * |alphabet|)

    Plan: train side is two char-keyed count aggregates (alphabet- and
    alphabet²-bounded, broadcastable); score side explodes the document
    into bigrams once, joins the two count tables (broadcast), and
    aggregates back per doc — one doc-keyed exchange. Output: one row
    per scored doc — (id, n_bigrams BIGINT, ``score_col`` DOUBLE).
    """
    if laplace <= 0:
        raise ValueError(f"laplace must be positive, got {laplace}")

    def canon(c):
        return F.trim(F.regexp_replace(F.lower(F.col(c)), r"\s+", " "))

    def bigrams(frame, with_id):
        t = frame.filter(F.col(text_col).isNotNull()).select(
            *( [F.col(id_col).alias("__id")] if with_id else [] ),
            canon(text_col).alias("__t"),
        ).filter(F.length("__t") >= 2)
        idx = F.sequence(F.lit(1), F.length("__t") - 1)
        return t.select(
            *( ["__id"] if with_id else [] ),
            F.explode(
                F.transform(idx, lambda i: F.substring(F.col("__t"), i, 2))
            ).alias("__bg"),
        )

    tr = bigrams(train_df, with_id=False)
    # one explode pass over the train shard: uni is the bigram counts
    # re-grouped by first char (sum of c(c1 c2) over c2 == c(c1) counted
    # directly), and |alphabet| is uni's row count — deriving both from
    # the alphabet^2-bounded count table (every reader shares its one
    # exchange through exchange reuse) instead of from `tr` saves two
    # full canon+explode scans of the train corpus
    big = tr.groupBy("__bg").agg(F.count(F.lit(1)).alias("__cbg"))
    uni = (
        big.select(F.substring("__bg", 1, 1).alias("__c1"), "__cbg")
        .groupBy("__c1")
        .agg(F.sum("__cbg").alias("__c1n"))
    )
    alpha_sz = uni.select(
        F.count(F.lit(1)).cast("double").alias("__V")
    )
    sc = bigrams(df, with_id=True).withColumn(
        "__c1", F.substring("__bg", 1, 1)
    )
    j = (
        sc.join(F.broadcast(big), "__bg", "left")
        .join(F.broadcast(uni), "__c1", "left")
        .crossJoin(F.broadcast(alpha_sz))
    )
    p = (F.coalesce(F.col("__cbg"), F.lit(0)) + F.lit(laplace)) / (
        F.coalesce(F.col("__c1n"), F.lit(0)) + F.lit(laplace) * F.col("__V")
    )
    return (
        j.select("__id", (-F.log(p)).alias("__nl"))
        .groupBy(F.col("__id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg("__nl").alias(score_col),
        )
    )
