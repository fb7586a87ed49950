"""TF-IDF keyword extraction over a document corpus — the classic
content-signature step of data curation (topic bucketing, boilerplate
spotting, near-dup triage) in pure DataFrame algebra.

Plan shape (three aggregations, no UDFs):
1. explode tokens -> per-(doc, term) term frequency        [shuffle 1]
2. per-term document frequency over distinct (doc, term)   [reuses 1's
   frame; shuffle on term]
3. tf-idf = tf * ln(N / df), top-j terms per doc via the bounded
   sorted-array aggregation                                [shuffle on doc]

Scale notes: the unit of state is (doc, term) pairs — bounded by corpus
token count, never quadratic; every aggregate is partial/final with
map-side combine. The doc-frequency frame (one row per distinct term) is
the only broadcast-sized artifact and joins back to the exploded frame
on term; a hot term (stopword) fans out but the per-(doc,term) grouping
has already collapsed it to one row per document. The smooth variant
ln(N/(1+df)) is not used — we match the textbook idf and declare terms
present in every doc to have idf 0 (dropped from top lists by ranking).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pivot_spark.functions.text import tokens
from pivot_spark.operators._fence import materialize, pin


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top: int = 3,
    min_token_len: int = 2,
) -> DataFrame:
    """(id, term, tf, df_docs, tfidf, rank): the ``top`` highest-tf-idf
    terms per document; ties broken by term ascending (deterministic,
    oracle-checkable). Tokens are lowercased whitespace words of length
    >= ``min_token_len``."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda w: F.length(w) >= min_token_len,
    )
    pairs = df.select(F.col(id_col).alias("__id"), F.explode(toks).alias("term"))
    tf = pairs.groupBy("__id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(id_col).distinct().count()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    scored = tf.join(dfreq, "term").withColumn(
        "tfidf", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df_docs"))
    )
    item = F.struct(
        (-F.col("tfidf")).alias("__neg"),
        F.col("term"),
        F.col("tf"),
        F.col("df_docs"),
    )
    agg = scored.groupBy("__id").agg(
        F.slice(F.array_sort(F.collect_list(item)), 1, top).alias("__top")
    )
    out = agg.select("__id", F.posexplode("__top").alias("__rank", "__it"))
    return out.select(
        F.col("__id").alias(id_col),
        F.col("__it.term").alias("term"),
        F.col("__it.tf").alias("tf"),
        F.col("__it.df_docs").alias("df_docs"),
        (-F.col("__it.__neg")).alias("tfidf"),
        (F.col("__rank") + 1).cast("int").alias("rank"),
    )


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int = 1000,
    lowercase: bool = True,
) -> DataFrame:
    """Build a bounded inverted index: one row per term with
    ``df`` (document frequency, BIGINT), ``postings`` (sorted doc ids,
    truncated to ``max_postings``) and ``truncated`` (BOOLEAN — true for
    stop-word-grade terms whose full list was cut).

    Plan: explode to DISTINCT (term, doc) pairs — one hash agg keyed by
    the pair, skew-free because a hot term's pairs still differ by doc —
    then one groupBy(term) building the sorted, sliced posting array.
    The cap bounds per-term state at ingest time, which is what makes a
    posting-list build survive stop words at 100 TB (the full lists for
    'the' are useless anyway; df is still exact).
    """
    if max_postings <= 0:
        raise ValueError("max_postings must be positive")
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    pairs = (
        df.select(F.col(id_col).alias("doc"), F.explode(tokens(text)).alias("term"))
        .distinct()
    )
    return (
        pairs.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.slice(
                F.array_sort(F.collect_list("doc")), 1, max_postings
            ).alias("postings"),
        )
        .withColumn("truncated", F.col("df") > F.size("postings"))
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    terms_col: str,
    threshold: float = 0.5,
    prefix_filter: bool = False,
    max_df_share: float = 0.8,
    max_comparisons: "int | None" = None,
) -> DataFrame:
    """EXACT thresholded cosine-similarity self-join over TF-IDF vectors
    — the *weighted* sibling of the e10 n-gram Jaccard join.
    ``terms_col`` is an ``array<string>`` of terms per document
    (unigrams, bigrams, shingles — caller's choice); weights are
    tf·ln(N/df), L2-normalized per document, and the output is every
    unordered pair with cosine >= ``threshold``.

    Default plan — inverted-index sparse dot product:
    1. explode -> per-(doc, term) tf           [shuffle on (doc, term)]
    2. per-term df (idf = ln(N/df), N an in-plan one-row broadcast);
       weights joined back, L2-normalized by a window over the doc
       partition (one doc exchange, no join-back)
    3. postings self-join on term, doc_a < doc_b, summing w_a·w_b per
       pair in ONE pair-keyed aggregate        [shuffle on (a, b)]
    Exact by construction; join volume is sum(df^2) over terms — the
    sparse-matrix-product bound, Zipf-shaped by the term granularity
    (use shingles, not unigrams, to keep df small; measured 90s->2s at
    sf0.1 moving bigrams->trigrams on a uniform-weight corpus).

    ``max_df_share`` (default 0.8) prunes stop-grade terms with
    df > max_df_share * N BEFORE weighting: on a Zipfian unigram corpus
    the top stop-terms dominate sum(df^2) (a df=N/2 term alone is N^2/4
    join rows) while contributing ~0 cosine mass — idf = ln(N/df) -> 0
    as df -> N, so their normalized weight product is ~0 per pair. The
    prune keeps the join volume survivable at 100x corpus growth at the
    cost of a bounded cosine perturbation of O(ln(1/share)^2 * tf^2 /
    norm^2) per dropped term; pass ``max_df_share=1.0`` for the strict
    textbook score. Dropped-term count is reported via ``logging``
    (logger ``pivot_spark.tfidf``) so the cap is never silent. For the
    heaviest corpora start from MinHash/LSH (e03/e12) and use this as
    the exact verifier.

    ``prefix_filter=True`` adds the AllPairs/Bayardo (WWW 2007)
    candidate pruning for *skewed-weight* corpora at high thresholds:
    order each doc's terms by (df DESC, term) and index only the
    shortest prefix whose remaining suffix has L2 mass < threshold/2 —
    by Cauchy-Schwarz two docs sharing no prefix-prefix term have
    cos < threshold, so the pair shuffle shrinks to prefix postings,
    then candidates are verified with a full dot product. On
    near-uniform weights the prefix is ~everything and the extra
    verify join only adds cost (measured: keep it off there).

    ``max_comparisons``: optional fail-fast guard (same contract as
    ``ngram_jaccard_pairs``): a linear-cost probe over the one-row-per-
    term df frame counts the UNORDERED candidate pairs the postings
    self-join would generate — sum_term C(df, 2), the sparse-matrix-
    product bound above — and raises ``ValueError`` naming the measured
    volume if it exceeds the bound, BEFORE any pair shuffle happens.
    Alternatives named in the error: coarser terms (shingles), a lower
    ``max_df_share``, MinHash/LSH (e03/e12) with this join as the
    verifier. Default ``None`` (off) for multi-executor clusters;
    single-node callers should set one. The probe does not perturb
    results (parity-tested).

    Precision: the per-pair dot product and the per-document norm are
    double sums taken in shuffle order, so a cosine's last bits depend
    on the shuffle partition count — 0.8603050411059813 at 1 partition,
    0.8603050411059803 at 4; the two agree to 12 decimals. The declared
    queries round every DOUBLE to 4 digits, so their oracles hold.

    Output: (id_a, id_b, cosine) with id_a < id_b."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if not 0.0 < max_df_share <= 1.0:
        raise ValueError(f"max_df_share must be in (0, 1], got {max_df_share}")
    # N as an in-plan one-row broadcast instead of an up-front
    # distinct().count() driver job (guide §1.3: count the jobs) — the
    # idf and the df cap read it as a column; the arithmetic is the
    # same double division/multiplication as the old literal form
    nd = df.agg(F.count_distinct(F.col(id_col)).alias("__N"))
    pairs = df.select(
        F.col(id_col).alias("doc"), F.explode(F.col(terms_col)).alias("term")
    )
    tf = pairs.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_cap = F.lit(max_df_share) * F.col("__N")
    need_probe = max_df_share < 1.0 or max_comparisons is not None
    if need_probe:
        # the dfreq fence below and the weight join both read tf
        tf = pin(tf, "tfidf.tfidf_cosine_pairs")
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")).crossJoin(
        F.broadcast(nd)
    )
    if need_probe:
        # probes: the prune-log count, N (for the log line) and the
        # max_comparisons probe over the POST-PRUNE df values
        dfreq, (_, n_dropped, n_docs, ncmp) = materialize(
            dfreq,
            "tfidf.tfidf_cosine_pairs",
            F.sum(F.when(F.col("df") > df_cap, 1)),
            F.first("__N"),
            F.sum(F.when(F.col("df") <= df_cap, F.expr("df * (df - 1) / 2"))),
        )
        n_docs = n_docs or 0
        if max_df_share < 1.0:
            if n_dropped:
                import logging

                logging.getLogger("pivot_spark.tfidf").info(
                    "tfidf_cosine_pairs: pruned %d term(s) with df > %.0f "
                    "(max_df_share=%.2f, N=%d)",
                    n_dropped, max_df_share * n_docs, max_df_share, n_docs,
                )
            dfreq = dfreq.filter(F.col("df") <= df_cap)
        if max_comparisons is not None:
            # linear probe over the one-row-per-term df frame: unordered
            # candidate pairs the postings self-join would generate (the
            # physical join touches ~2x row combinations per term before
            # the doc-order predicate prunes duplicates)
            ncmp = ncmp or 0
            if ncmp > max_comparisons:
                raise ValueError(
                    f"tfidf_cosine_pairs would generate {ncmp:.3e} unordered"
                    f" candidate pairs (> max_comparisons={max_comparisons:.3e};"
                    " the postings self-join touches ~2x as many row"
                    " combinations). Term document frequencies are too hot for"
                    " an exact sparse dot-product join at this granularity:"
                    " use coarser terms (word shingles instead of unigrams),"
                    " lower `max_df_share` to prune stop-grade terms, start"
                    " from MinHash-LSH (neardup_minhash_lsh) and use this join"
                    " only as the verifier, or raise/disable `max_comparisons`"
                    " if the cluster can absorb the join."
                )
    w = tf.join(dfreq, "term").select(
        "doc",
        "term",
        "df",
        (F.col("tf") * F.log(F.col("__N").cast("double") / F.col("df"))).alias("w"),
    )
    # per-doc L2 norm as a window over the doc partition: ONE exchange
    # on doc instead of the groupBy + join-back pair (guide §2.4 share
    # the exchange); same partial-sum arithmetic per doc
    from pyspark.sql import Window as _W

    nrm = F.sqrt(F.sum(F.col("w") * F.col("w")).over(_W.partitionBy("doc")))
    wn = (
        w.withColumn("nrm", nrm)
        .filter(F.col("nrm") > 0)
        .select("doc", "term", "df", (F.col("w") / F.col("nrm")).alias("wn"))
    )
    if not prefix_filter:
        # eager: with a lazy cache both self-join sides computed wn (1.5x)
        wn = materialize(wn, "tfidf.tfidf_cosine_pairs")[0]
        dots = (
            wn.alias("a")
            .join(wn.alias("b"), "term")
            .filter(F.col("a.doc") < F.col("b.doc"))
            .groupBy(F.col("a.doc").alias("da"), F.col("b.doc").alias("db"))
            .agg(F.sum(F.col("a.wn") * F.col("b.wn")).alias("cosine"))
        )
        return dots.filter(F.col("cosine") >= threshold).select(
            F.col("da").alias("id_a"), F.col("db").alias("id_b"), "cosine"
        )

    from pyspark.sql import Window

    # fenced: prefix + both verify sides read it (4 consumers)
    wn = materialize(wn, "tfidf.tfidf_cosine_pairs")[0]
    # suffix L2 mass in (df DESC, term) order; prefix = rows where the
    # mass from this term onward is still >= (threshold/2)^2
    win = Window.partitionBy("doc").orderBy(
        F.col("df").desc(), F.col("term")
    ).rowsBetween(Window.currentRow, Window.unboundedFollowing)
    tail = F.sum(F.col("wn") * F.col("wn")).over(win)
    prefix = wn.withColumn("__tail", tail).filter(
        F.col("__tail") >= F.lit((threshold / 2.0) ** 2)
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "term")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("da"), F.col("b.doc").alias("db"))
        .distinct()
    )
    dots = (
        cand.join(wn.alias("wa"), cand["da"] == F.col("wa.doc"))
        .join(
            wn.alias("wb"),
            (F.col("wb.doc") == cand["db"]) & (F.col("wa.term") == F.col("wb.term")),
        )
        .groupBy("da", "db")
        .agg(F.sum(F.col("wa.wn") * F.col("wb.wn")).alias("cosine"))
    )
    return dots.filter(F.col("cosine") >= threshold).select(
        F.col("da").alias("id_a"), F.col("db").alias("id_b"), "cosine"
    )


def keyword_contexts(
    df: DataFrame,
    keywords: "list[str]",
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 3,
    max_hits_per_doc: "int | None" = None,
) -> DataFrame:
    """KWIC (keyword-in-context) extraction — grep-at-scale for corpus
    inspection: every occurrence of any keyword (exact whitespace-token
    match) becomes one row (id_col, pos BIGINT 1-based token position,
    keyword, context) where ``context`` is the surrounding ±``window``
    tokens joined by spaces. The targeted-audit tool a curation
    pipeline runs before shipping a filter rule ("show me every place
    'javascript' survives the C4 pass").

    Scale shape: tokens explode WITHOUT the token array (id, pos, token
    only — the array is never copied per token row); hits filter
    against the broadcast-small keyword literal set in the scan stage;
    only the HIT rows (rare by construction) join back to the corpus on
    id to slice their context window. With ``max_hits_per_doc`` the
    per-doc hit list is cut deterministically by ascending position
    (bounded window state), protecting against keyword-stuffed
    documents."""
    if not keywords:
        raise ValueError("keywords must be non-empty")
    if window < 0:
        raise ValueError(f"window must be >= 0, got {window}")
    words = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: t != ""
    )
    toks = df.select(
        F.col(id_col),
        F.posexplode(words).alias("__p0", "__tok"),
    ).where(F.col("__tok").isin(list(keywords)))
    hits = toks.select(
        id_col, (F.col("__p0") + 1).cast("long").alias("pos"),
        F.col("__tok").alias("keyword"),
    )
    if max_hits_per_doc is not None:
        if max_hits_per_doc < 1:
            raise ValueError(
                f"max_hits_per_doc must be >= 1, got {max_hits_per_doc}"
            )
        from pyspark.sql import Window

        w = Window.partitionBy(id_col).orderBy("pos", "keyword")
        hits = (
            hits.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= max_hits_per_doc)
            .drop("__rn")
        )
    corpus = df.select(F.col(id_col), words.alias("__w"))
    joined = hits.join(corpus, id_col)
    start = F.greatest(F.lit(1).cast("long"), F.col("pos") - window)
    end = F.least(F.size("__w").cast("long"), F.col("pos") + window)
    ctx = F.array_join(
        F.slice(F.col("__w"), start.cast("int"), (end - start + 1).cast("int")),
        " ",
    )
    return joined.select(id_col, "pos", "keyword", ctx.alias("context"))
