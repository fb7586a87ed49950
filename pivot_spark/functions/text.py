"""Text-analysis functions for training-data pipelines.

All pure Catalyst expressions (no Python UDFs): language-ID by stopword
scoring, quality metrics (length / punctuation / stopword ratios), token
counting (whitespace + a word-regex), and document fingerprinting (MD5 of
normalized text — MD5 so the result is oracle-checkable against DuckDB's
``md5``; for scale-only use, ``F.xxhash64`` is cheaper and the swap is one
line).

Each function takes and returns Columns so they compose into any plan and
stay inside whole-stage codegen — at 100 TB these run in the scan stage
with zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small, fixed stopword inventories — the *determinism* matters more than
# linguistic accuracy here; extend freely.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se", "del", "las"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "des", "un", "une", "du", "est", "pour"],
    "zh": [],  # detected by CJK codepoint presence, not stopwords
}

WORD_RE = r"[A-Za-z0-9]+"  # same syntax/semantics in Java regex and RE2/DuckDB
CJK_RE = r"[一-鿿]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization (empty strings removed)."""
    return F.filter(F.split(text, r"\s+"), lambda w: w != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def word_count(text: Column) -> Column:
    """Count of WORD_RE matches — a BPE-ish pre-tokenizer proxy."""
    return F.regexp_count(text, F.lit(WORD_RE))


# GPT-2's published pre-tokenizer pattern (public: openai/gpt-2
# encoder.py), translated to Java regex (\p{L}/\p{N} supported natively).
# BPE merges subdivide these pre-tokens, so their count upper-bounds and
# tracks real BPE token counts closely on natural text.
BPE_PRETOKEN_RE = (
    r"'(?:[sdmt]|ll|ve|re)"
    r"| ?\p{L}+"
    r"| ?\p{N}+"
    r"| ?[^\s\p{L}\p{N}]+"
    r"|\s+(?!\S)"
    r"|\s+"
)


def bpe_pretokens(text: Column) -> Column:
    """GPT-2 pre-tokenizer segmentation as an array of pre-tokens."""
    return F.regexp_extract_all(text, F.lit(BPE_PRETOKEN_RE), F.lit(0))


def bpe_pretoken_count(text: Column) -> Column:
    """Fast LLM-token-count estimate: number of GPT-2 pre-tokens."""
    return F.regexp_count(text, F.lit(BPE_PRETOKEN_RE))


def char_count(text: Column) -> Column:
    return F.length(text)


def alpha_ratio(text: Column) -> Column:
    """Fraction of characters that are ASCII alphanumeric."""
    stripped = F.regexp_replace(text, r"[^A-Za-z0-9]", "")
    return F.when(F.length(text) > 0, F.length(stripped) / F.length(text)).otherwise(
        F.lit(0.0)
    )


def punct_ratio(text: Column) -> Column:
    kept = F.regexp_replace(text, r"[^.,;:!?'\"()\[\]{}-]", "")
    return F.when(F.length(text) > 0, F.length(kept) / F.length(text)).otherwise(
        F.lit(0.0)
    )


def mean_token_len(text: Column) -> Column:
    t = tokens(text)
    return F.when(
        F.size(t) > 0,
        F.aggregate(t, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w))
        / F.size(t),
    ).otherwise(F.lit(0.0))


def stopword_count(text: Column, lang: str = "en") -> Column:
    return _dict_hits(tokens(F.lower(text)), LANG_STOPWORDS[lang])


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    t = tokens(F.lower(text))
    return F.when(F.size(t) > 0, _dict_hits(t, LANG_STOPWORDS[lang]) / F.size(t)).otherwise(
        F.lit(0.0)
    )


def _dict_hits(toks: Column, words: list[str]) -> Column:
    d = F.array(*[F.lit(w) for w in words]) if words else F.array().cast("array<string>")
    return F.size(F.filter(toks, lambda w: F.array_contains(d, w)))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, mostly alphanumeric,
    not punctuation-soup, some stopwords (≈ natural language)."""
    len_score = F.least(char_count(text) / F.lit(200.0), F.lit(1.0))
    return F.round(
        0.4 * len_score
        + 0.3 * alpha_ratio(text)
        + 0.2 * (1 - F.least(punct_ratio(text) * 5, F.lit(1.0)))
        + 0.1 * F.least(stopword_ratio(text) * 10, F.lit(1.0)),
        4,
    )


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language integer scores. ``zh`` scores CJK codepoints; others
    score stopword occurrences."""
    toks = tokens(F.lower(text))
    scores: dict[str, Column] = {}
    for lang, words in LANG_STOPWORDS.items():
        if lang == "zh":
            scores[lang] = F.regexp_count(text, F.lit(CJK_RE))
        else:
            scores[lang] = _dict_hits(toks, words)
    return scores


def lang_guess(text: Column) -> Column:
    """Argmax language with a deterministic priority-order tie-break: a
    forward CASE chain, so on equal scores the earlier language in
    LANG_STOPWORDS order wins; 'und' when every score is 0. The same CASE
    chain is expressible verbatim in SQL for oracle checks.

    The token array and the five scores are bound ONCE per row via the
    single-element-array + ``transform`` trick (see
    ``winnow_fingerprints``): the naive form inlined each score's full
    tokenize-and-count tree into every CASE comparison (~45 token-array
    scans per row — measured 4x the query cost on the lang-ID family).
    The CASE chain itself compares plain struct fields, so the emitted
    decision logic (and therefore the result) is unchanged."""
    langs = list(LANG_STOPWORDS)
    toks_once = F.array(tokens(F.lower(text)))

    def _score_struct(t: Column) -> Column:
        fields = []
        for lang, words in LANG_STOPWORDS.items():
            if lang == "zh":
                fields.append(F.regexp_count(text, F.lit(CJK_RE)).alias(lang))
            else:
                fields.append(_dict_hits(t, words).alias(lang))
        return F.struct(*fields)

    scored = F.transform(toks_once, _score_struct)

    def _chain(s: Column) -> Column:
        expr = None
        for lang in langs:
            cond = s[lang] > 0
            for other in langs:
                if other != lang:
                    cond = cond & (s[lang] >= s[other])
            expr = (
                F.when(cond, F.lit(lang))
                if expr is None
                else expr.when(cond, F.lit(lang))
            )
        return expr.otherwise(F.lit("und"))

    return F.element_at(F.transform(scored, _chain), 1)


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed whitespace,
    trimmed."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic 32-hex-char document fingerprint (MD5 of normalized
    text). Matches DuckDB ``md5(...)`` for oracle checks."""
    return F.md5(normalize_text(text))


def winnow_fingerprints(
    text: Column, k: int = 5, window: int = 4
) -> Column:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    MOSS scheme, public): hash every char k-gram of the normalized text
    (rolling set), slide a window of ``window`` consecutive hashes and
    keep each window's minimum; consecutive duplicates collapse. Two
    documents sharing any sufficiently long run share fingerprints
    regardless of global position — robust to insertions where a whole-
    document hash is not.

    Returns array<long>, sorted distinct (canonical set form). Pure
    Catalyst expressions: usable inside any projection, no shuffle.
    """
    # each stage binds its input to a lambda variable (single-element
    # array + transform) so the normalized text / gram array is
    # evaluated ONCE per row — an expression tree referenced inside a
    # higher-order-function lambda is re-evaluated per element, making
    # the inline form O(n^2) per doc
    def _grams(t: Column) -> Column:
        n_grams = F.greatest(F.length(t) - k + 1, F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.xxhash64(F.substring(t, i, k)),
        )

    def _mins(grams: Column) -> Column:
        n_windows = F.greatest(F.size(grams) - window + 1, F.lit(1))
        return F.transform(
            F.sequence(F.lit(0), n_windows - 1),
            lambda i: F.array_min(F.slice(grams, i + 1, window)),
        )

    grams = F.element_at(F.transform(F.array(normalize_text(text)), _grams), 1)
    mins = F.element_at(F.transform(F.array(grams), _mins), 1)
    return F.array_sort(F.array_distinct(mins))


def syllable_count(text: Column) -> Column:
    """Corpus-scale syllable heuristic: per whitespace token, the number
    of vowel groups (``[aeiouyAEIOUY]+`` runs — case-insensitive via the
    character class, NOT an F.lower() copy, so all-caps words and
    sentence-initial vowels count at zero extra string cost), floored
    at 1 — no silent-e modeling (declared: a deterministic,
    engine-portable proxy, the standard readability-pipeline shortcut).
    Pure scan-stage array arithmetic."""
    per_word = F.transform(
        tokens(text),
        lambda w: F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(w, F.lit(r"[aeiouyAEIOUY]+"), 0)),
        ),
    )
    return F.aggregate(per_word, F.lit(0), lambda a, x: a + x)


def sentence_count(text: Column) -> Column:
    """Number of terminal-punctuation runs (``[.!?]+``), floored at 1 so
    punctuation-free text counts as a single run-on sentence."""
    return F.greatest(F.lit(1), F.regexp_count(text, F.lit(r"[.!?]+")))


def flesch_reading_ease(text: Column) -> Column:
    """Flesch reading ease (Flesch 1948): 206.835 - 1.015*(W/S) -
    84.6*(Syl/W) over the syllable/sentence heuristics above. NULL for
    wordless text."""
    w = token_count(text).cast("double")
    s = sentence_count(text).cast("double")
    syl = syllable_count(text).cast("double")
    return F.when(
        w > 0,
        F.lit(206.835) - F.lit(1.015) * (w / s) - F.lit(84.6) * (syl / w),
    )


def fk_grade(text: Column) -> Column:
    """Flesch–Kincaid grade level (Kincaid 1975): 0.39*(W/S) +
    11.8*(Syl/W) - 15.59. NULL for wordless text."""
    w = token_count(text).cast("double")
    s = sentence_count(text).cast("double")
    syl = syllable_count(text).cast("double")
    return F.when(
        w > 0, F.lit(0.39) * (w / s) + F.lit(11.8) * (syl / w) - F.lit(15.59)
    )


def hapax_novelty(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Per-document lexical novelty against the corpus — which docs
    carry vocabulary nobody else uses (OCR noise, code, genuinely new
    domains): the fraction of the doc's tokens whose corpus frequency
    is 1 (corpus hapax legomena) and the fraction whose corpus
    frequency is <= 10 (rare mass). One corpus type-count aggregate
    (the e154 frame) joined back onto the exploded tokens, one doc
    aggregate. Output: (``id_col``, n_tokens, hapax_frac, rare_frac).
    """
    from pyspark.sql import functions as F

    from pivot_spark.operators._fence import pin

    toks = tokens(F.lower(F.col(text_col)))
    pairs = df.select(F.col(id_col).alias("__id"), F.explode(toks).alias("__t"))
    pairs = pin(pairs, "text.hapax_novelty")  # counts + join read it
    counts = pairs.groupBy("__t").agg(F.count(F.lit(1)).alias("__c"))
    j = pairs.join(counts, "__t")
    return (
        j.groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg((F.col("__c") == 1).cast("double")).alias("hapax_frac"),
            F.avg((F.col("__c") <= 10).cast("double")).alias("rare_frac"),
        )
        .withColumnRenamed("__id", id_col)
    )


# --- Unicode text normalization (crawl-curation primitive) -----------------
# All patterns live in the Java-regex ∩ RE2 common subset (\x{hhhh}
# classes only) and the fold tables are module constants, so the DuckDB
# oracle splices the IDENTICAL strings — the replica cannot drift.
# Scope is the deterministic punctuation/whitespace subset of NFKC that
# crawl pipelines actually apply scan-side; full Unicode normalization
# (composed forms, confusables) needs ICU and is out of scope, declared.

# 1:1 character folds (translate): curly quotes -> ASCII, dash family
# -> '-', minus sign -> '-'
NORM_FOLD_FROM = "‘’‚‛“”„–—−"
NORM_FOLD_TO = "''''\"\"\"---"
NORM_CTRL_RE = r"[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}\x{007F}]"
NORM_ZEROWIDTH_RE = r"[\x{200B}\x{200C}\x{200D}\x{FEFF}]"
NORM_USPACE_RE = r"[\x{00A0}\x{2000}-\x{200A}\x{202F}\x{205F}\x{3000}]"
NORM_WS_RUN_RE = r"[ \t]{2,}"


def normalize_unicode(text: Column) -> Column:
    """Normalize the Unicode punctuation/whitespace noise of crawled
    text: strip control chars (newlines/tabs kept) and zero-width
    chars (ZWSP/ZWNJ/ZWJ/BOM), fold curly quotes and the dash family to
    ASCII, expand the ellipsis char to ``...``, turn exotic Unicode
    spaces into plain spaces, collapse space/tab runs, trim. Pure
    scan-stage Catalyst; order matters and is mirrored verbatim by the
    e184 oracle. (Distinct from ``normalize_text``, the
    lowercase/collapse canonicalizer the fingerprint family hashes —
    this one PRESERVES case and newlines and targets crawl noise.)"""
    t = F.regexp_replace(text, NORM_CTRL_RE, "")
    t = F.regexp_replace(t, NORM_ZEROWIDTH_RE, "")
    t = F.translate(t, NORM_FOLD_FROM, NORM_FOLD_TO)
    t = F.replace(t, F.lit("…"), F.lit("..."))
    t = F.regexp_replace(t, NORM_USPACE_RE, " ")
    t = F.regexp_replace(t, NORM_WS_RUN_RE, " ")
    return F.trim(t)
