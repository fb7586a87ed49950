"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship two-pivot-column query at sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2.4 P01-P23
plus extension operators), each (spark, sf_dir) -> DataFrame.
``oracle_sql()`` — matching DuckDB SQL per query; keys without an oracle
get the driver's rows-only check.

ORDER MATTERS: the driver's correctness gate checks the FIRST 50 entries
of ``queries()``. Rounds 1-2 verified the original first 50 (p01-p25,
e01-e23); each round since front-loads a window of canaries +
not-yet-driver-checked queries so the hard signal sweeps the whole
declared set over successive rounds (round-2 verdict item #1). Round 7
completed the never-checked backlog; round 8 front-loads every query
whose plan or declared semantics changed in round 7 (the round-7
verdict's item #1 list: e57b's lockstep oracle change first, the
contract rewrites and fold anchors, the ~30 plan-changed queries) plus
the queries round 8 itself touches. The full dict still contains every
query (bench runs them all).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

# Round 8 runs no standing canary either: all 50 slots go to the
# round-7/8-MODIFIED set (round-7 verdict item #1 — the round-7 window
# was pre-committed to the never-checked backlog, so none of the ~30
# queries whose plans or declared semantics changed in round 7 were
# driver-re-checked; this window closes that).
_CANARIES: "list[str]" = []

# Round-8 rotation (50 slots), per the round-7 verdict's explicit list:
# (a) e57b first — its k=⌈√n⌉ change was a LOCKSTEP query+oracle edit
#     the driver has never re-verified;
# (b) the round-7 contract rewrites (e26b/e79/e108b) and rows-only fold
#     anchors (e15_knn_ivf_fullprobe/e71b_knn_pq_rerank) + the e147
#     holdover;
# (c) every round-7 plan-changed query (fuzzy/tfidf/LSH/neardup/
#     bootstrap/OOD/gibberish/markov/krippendorff/classifier/rake/
#     isotonic/ks/hll/scd2/char-LM/guards + the 8-query audio family);
# (d) the 10 graph-family consumers of the MinHash mining stage that
#     round 8 changed, plus e188/e117 media neardup, e81 and s04/s13:
#     round 8 planned changes to these five but made none, so they are
#     plain re-checks here.
_ROUND_WINDOW = [
    "e57b_semdedup_gemm", "e26b_threshold_buckets",
    "e79_incremental_distinct", "e108b_pca_project",
    "e15_knn_ivf_fullprobe", "e71b_knn_pq_rerank",
    "e147_linear_regression", "e73_fuzzy_match",
    "e123_tfidf_cosine_join", "e12_neardup_cosine_lsh", "e09_knn_lsh",
    "e129_neardup_incremental", "e89_containment", "e11_neardup_cosine",
    "e134_poisson_bootstrap", "e221_ood_scores", "e222_char_gibberish",
    "e223_markov_attribution", "e210_krippendorff_alpha",
    "e109_quality_classifier", "e145_rake_weights",
    "e208_isotonic_calibration", "e100_ks_test", "e130_hll_overlap",
    "e70_scd2_apply", "e85_bigram_lm", "e10_ngram_jaccard",
    "e174_audio_features", "e178_audio_downsample", "e182_audio_mixdown",
    "e185_audio_fingerprint", "e186_audio_neardup", "e189_audio_trim",
    "e194_audio_spectral", "e219_audio_gain",
    "e31_dup_clusters", "e82_dedup_keep_best", "e103_triangle_stats",
    "e107_pagerank", "e115_leakage_safe_split", "e116_negative_sampling",
    "e136_label_propagation", "e157_cross_source_dups",
    "e162_degree_stats", "e209_local_clustering",
    "e188_image_neardup_dhash", "e117_image_neardup",
    "e81_spearman_matrix", "s04_stream_debounce",
    "s13_stream_session_native",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: two-pivot-column sum over lineitem at sf0.001."""
    from pivot_spark.plans.declared import QUERIES

    return QUERIES["p17"](spark, "/root/testdata/sf0.001")


def _ordered() -> "dict[str, Callable[[SparkSession, str], DataFrame]]":
    from pivot_spark.plans.declared import QUERIES

    front = _CANARIES + [q for q in _ROUND_WINDOW if q not in _CANARIES]
    missing = [q for q in front if q not in QUERIES]
    assert not missing, f"window names not in QUERIES: {missing}"
    out = {name: QUERIES[name] for name in front}
    for name, fn in QUERIES.items():
        out.setdefault(name, fn)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered()


def oracle_sql() -> dict[str, str]:
    from pivot_spark.plans.declared import ORACLES

    return dict(ORACLES)
