"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship two-pivot-column query at sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2.4 P01-P23
plus extension operators), each (spark, sf_dir) -> DataFrame.
``oracle_sql()`` — matching DuckDB SQL per query; keys without an oracle
get the driver's rows-only check.

ORDER MATTERS: the driver's correctness gate checks the FIRST 50 entries
of ``queries()``; ``_ROUND_WINDOW`` puts the queries to re-check first.
The full dict still contains every query (bench runs them all).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

# No standing canary: every slot goes to a query to re-check.
_CANARIES: "list[str]" = []

# The 50-slot window, in order. Python workers now start from
# ``pivot_spark/_daemon.py`` and import pyspark from ``$SPARK_HOME/python``,
# so the queries that start workers lead:
# (a) the queries whose Python kernels reference the vector-search core in
#     ``operators/similarity.py`` (and s10);
# (b) the Python-stateful streaming replays, folded in the workers by
#     ``streaming/_fold.py``;
# (c) five codec queries, whose pixels run in Arrow ``mapInPandas`` kernels;
# (d) the 27 pivot queries, which use the root ``pivot_spark`` init, now
#     loaded lazily.
_ROUND_WINDOW = [
    "e04_knn_cosine", "e09_knn_lsh", "e11_neardup_cosine",
    "e12_neardup_cosine_lsh", "e15_knn_ivf_fullprobe", "e20_tfidf",
    "e57_semdedup", "e57b_semdedup_gemm", "e71b_knn_pq_rerank",
    "e84_hybrid_rrf", "e180_semantic_decontam", "e212_matryoshka_recall",
    "s10_stream_upsert",
    "s03_stream_session", "s04_stream_debounce", "s06_stream_topk",
    "s07_stream_ewma", "s08_stream_quantile",
    "e204_contrast_stretch", "e216_image_equalize", "e220_image_otsu",
    "e228_png_decode", "e231_png_deflate_decode",
    "p01", "p02", "p03", "p04", "p05", "p06", "p07", "p08", "p09", "p10",
    "p11", "p12", "p13", "p14", "p15", "p16", "p17", "p18", "p19", "p20",
    "p22", "p21", "p21_errors", "p23", "p24", "p25", "p26b",
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
