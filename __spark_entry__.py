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

# The 50-slot window, in order:
# (a) the streaming replays whose stateful fold moved into
#     ``streaming/_fold.py``;
# (b) the 27 pivot queries, whose plans were re-routed (routed plan and
#     error port in the one scan);
# (c) the codec queries whose operators run only their Arrow kernels,
#     until the 50 slots are full.
_ROUND_WINDOW = [
    "s03_stream_session", "s04_stream_debounce", "s06_stream_topk",
    "s07_stream_ewma", "s08_stream_quantile",
    "p01", "p02", "p03", "p04", "p05", "p06", "p07", "p08", "p09", "p10",
    "p11", "p12", "p13", "p14", "p15", "p16", "p17", "p18", "p19", "p20",
    "p22", "p21", "p21_errors", "p23", "p24", "p25", "p26b",
    "e168_ppm_decode", "e169_bmp_decode", "e170_wav_decode",
    "e174_audio_features", "e175_image_stats", "e177_image_resize",
    "e178_audio_downsample", "e179_image_gray", "e181_media_sniff",
    "e182_audio_mixdown", "e185_audio_fingerprint", "e186_audio_neardup",
    "e187_image_dhash", "e188_image_neardup_dhash", "e189_audio_trim",
    "e190_image_crop", "e193_image_blur", "e194_audio_spectral",
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
