"""The benchmark's named workloads.

Each workload is a fixed query list from ``pivot_spark.plans.declared.QUERIES``
run at one input scale, with the sanity check its traced run must pass so
that a change cannot silently route around what the workload is for.
Scales are multiples of the committed sf0.01 seed (``data.sf_dir``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple
    copies: int  # input scale, in copies of the sf0.01 seed
    warm_passes: int  # unmeasured set-up passes at this scale, after one on the seed
    pass_s: float  # nominal seconds per pass on a 4-core host; sets the pass count
    check: Callable[[dict], "list[str]"]


def _check_pivot(layers: dict) -> "list[str]":
    bad = []
    if layers["pyworker.run_s"] > 0.01:
        bad.append(f"pyworker.run_s={layers['pyworker.run_s']:.3f}, expected ~0")
    if layers["streaming.batches"] != 0:
        bad.append(f"streaming.batches={layers['streaming.batches']}, expected 0")
    return bad


def _check_curation(layers: dict) -> "list[str]":
    return [] if layers["plans.build_jobs"] > 0 else ["plans.build_jobs=0, expected > 0"]


def _check_stream(layers: dict) -> "list[str]":
    return [] if layers["streaming.batches"] > 0 else ["streaming.batches=0, expected > 0"]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "pivot_sf1",
            "the paper's pivot operator at sf1 (6M lineitem rows), where JVM "
            "execution dominates; p21 also gives collect real work",
            ("p03", "p21", "p24"),
            copies=100,
            warm_passes=2,
            pass_s=9.0,
            check=_check_pivot,
        ),
        Workload(
            "pivot_sf01",
            "the paper's pivot operator at sf0.1 (600k lineitem rows), small "
            "enough for about ten warm measured passes in a 20 s run",
            ("p03", "p21", "p24"),
            copies=10,
            warm_passes=3,
            pass_s=2.3,
            check=_check_pivot,
        ),
        Workload(
            "curation_sf01",
            "LLM-data-pipeline queries at sf0.1: driver-side eager jobs and "
            "Arrow/pandas kernels dominate, JVM execution is small",
            ("e81_spearman_matrix", "e202_minhash_audit", "e145_rake_weights",
             "e228_png_decode"),
            copies=10,
            warm_passes=1,
            pass_s=8.0,
            check=_check_curation,
        ),
        Workload(
            "stream_replay",
            "streaming replays at sf0.01: micro-batches, state store, the Python "
            "stateful fold and the native session with the same answer",
            ("s01_stream_pivot", "s04_stream_debounce", "s13_stream_session_native"),
            copies=1,
            warm_passes=2,
            pass_s=5.5,
            check=_check_stream,
        ),
    )
}
