"""Benchmark runner: executes the declared query set on $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) under local[$SPARK_GRAFT_CPUS].

Output contract: prints ONE JSON line, LAST and alone on stdout:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
   "sf": ..., "n_queries": N, "full": "BENCH_FULL.json"}
The "queries" dict is kept small enough to survive line-capture limits:
it carries only the queries that regressed past 1.5x their operative
baseline (BASELINE_OPERATIVE.json) plus the slowest few; the COMPLETE
per-query timing map is written to BENCH_FULL.json next to this script.
Console progress bars are disabled in the session factory so nothing
interleaves with the JSON line (the round-2 truncation failure mode).

Each query is timed end-to-end (plan + execute + collect), median of
$SPARK_GRAFT_BENCH_REPS (default 3) after a warm-up action.

Artifact honesty: queries reading >2x their operative baseline are
re-run isolated after the suite (both numbers recorded under
"reruns"); runs whose machine-speed anchor spread exceeds the clean
band are stamped "degraded": true and will not overwrite a clean
BENCH_FULL.json (they write BENCH_FULL_DEGRADED.json instead).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

MAX_INLINE_QUERIES = 40


def _calib_sample(spark) -> "tuple[float, float]":
    """One (python-loop, jvm-codegen) anchor pair."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(10_000_000):
        acc += i
    py = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(0, 200_000_000, 1, 32).selectExpr("sum(id * 2)").collect()
    return py, time.perf_counter() - t0


def _calib_point(spark, reps: int = 5) -> "tuple[float, float]":
    """Median-of-``reps`` interleaved anchor samples — round 4's
    single-sample anchors moved 2x WITHIN one run (0.501 -> 0.229s jvm),
    so a point estimate has error bars wider than the regressions it
    gates; the median of 5 interleaved samples is stable to <15%."""
    ss = [_calib_sample(spark) for _ in range(reps)]
    py = sorted(s[0] for s in ss)[reps // 2]
    jvm = sorted(s[1] for s in ss)[reps // 2]
    return round(py, 3), round(jvm, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pivot_spark.session import get_spark
    from pivot_spark.plans.declared import QUERIES
    from pivot_spark.operators._fence import fence_scope

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Machine-speed calibration anchors, reported alongside the suite:
    # a single-core Python loop and a fixed JVM codegen job, sampled as
    # median-of-5 at start / mid-suite / end (the suite-position spread
    # exposes within-run host drift: turbo at start, throttling later).
    # Absolute query seconds are only comparable across runs when these
    # agree — round 4 measured a uniform ~1.3x suite shift traced to
    # the HOST (see BASELINE.md §round-4). The anchor job is warmed to
    # STEADY STATE first, not a fixed count: round 5's fixed 3x warmup
    # still left the round-7 START jvm anchor 1.7x its mid/end twins
    # (0.184 vs 0.107/0.104 s, median-of-5, across four runs) — cold
    # frequency ramp + JIT on an idle host, which the spread gate then
    # misread as within-run drift and flagged every run degraded. Warm
    # both anchors until two consecutive untimed rounds agree within
    # 10% (bounded at 10), so the timed samples measure the same hot
    # machine the suite itself runs on.
    prev = None
    for _ in range(10):
        t0 = time.perf_counter()
        acc = 0
        for i in range(10_000_000):
            acc += i
        spark.range(0, 200_000_000, 1, 32).selectExpr("sum(id * 2)").collect()
        dt = time.perf_counter() - t0
        if prev is not None and abs(dt - prev) <= 0.1 * prev:
            break
        prev = dt
    py_calib, jvm_calib = _calib_point(spark)

    # Warm up before timing: the file index for sf_dir, plus two real
    # throwaway queries at sf0.001 — one whole-stage-codegen aggregate
    # (p17) and one Arrow pandas_udf kernel (e03) — so the first MEASURED
    # query doesn't absorb session-level codegen-compiler / Python-worker
    # / Arrow start-up (round-3's six >1.5x flags were all first-run
    # effects adjudicated away by isolated re-runs).
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for wq in ("p17", "e03_neardup_minhash"):
            try:
                with fence_scope():
                    QUERIES[wq](spark, warm_dir).collect()
            except Exception:
                pass

    baseline: dict[str, float] = {}
    bl_path = os.path.join(REPO, "BASELINE_OPERATIVE.json")
    if os.path.exists(bl_path):
        with open(bl_path) as fh:
            baseline = json.load(fh).get("queries", {})

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    py_calib_mid = jvm_calib_mid = None
    mid_at = len(QUERIES) // 2
    for qi, (name, fn) in enumerate(QUERIES.items()):
        if qi == mid_at:
            py_calib_mid, jvm_calib_mid = _calib_point(spark)
        runs = []
        for _ in range(reps):
            # queries are independent: the fence scope releases the
            # frames this run pins, so cache blocks can't evict/GC-thrash
            # the next one. Loop-body localCheckpoint() blocks are
            # RDD-level persists no scope tracks — release those too, or
            # they accumulate across the suite and inflate later queries
            for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
                rdd.unpersist()
            t0 = time.perf_counter()
            with fence_scope():
                n = len(fn(spark, sf_dir).collect())
            runs.append(time.perf_counter() - t0)
            assert n >= 0
        # median: single-run numbers swing +-25% from GC/python-worker
        # lifecycle noise (BASELINE.md protocol is median-of-3)
        timings[name] = round(sorted(runs)[len(runs) // 2], 3)

    # Self-heal pass (round-5 verdict item 4): any query that read >2x
    # its operative baseline mid-suite is re-run ISOLATED (after the
    # suite, same rep protocol) before being recorded — the round-5
    # artifact carried 51 phantom regressions that isolated re-runs
    # showed were host noise (e95: 16.2s in-suite, 1.2s isolated).
    # Both numbers are kept in the artifact; the recorded timing is the
    # min (the in-suite number can only ADD interference, never remove
    # work). Capped so a genuinely-regressed suite can't double its
    # own runtime.
    reruns: dict[str, dict[str, float]] = {}
    suspects = sorted(
        (
            q for q in timings
            if baseline.get(q)
            and timings[q] / baseline[q] > 2.0
            and timings[q] - baseline[q] >= 0.5
        ),
        key=lambda q: -(timings[q] - baseline[q]),
    )[:30]
    for q in suspects:
        runs = []
        for _ in range(reps):
            for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
                rdd.unpersist()
            t0 = time.perf_counter()
            with fence_scope():
                QUERIES[q](spark, sf_dir).collect()
            runs.append(time.perf_counter() - t0)
        iso = round(sorted(runs)[len(runs) // 2], 3)
        reruns[q] = {"suite": timings[q], "isolated": iso}
        timings[q] = min(timings[q], iso)
    total = round(sum(timings.values()), 3)

    # third calibration point AFTER the suite: start/mid/end medians
    # expose within-run host drift (throttling, noisy neighbors); the
    # spread is the confidence range any host-factor decision must
    # carry (round-4 verdict item 5: gate on the range, not a point)
    py_calib_end, jvm_calib_end = _calib_point(spark)

    def _spread(vals: "list[float]") -> float:
        pts = [v for v in vals if v]
        med = sorted(pts)[len(pts) // 2]
        return round((max(pts) - min(pts)) / med, 3) if med else 0.0

    calib = {
        "py_loop_1e7_sec": py_calib, "jvm_sum_2e8_sec": jvm_calib,
        "py_loop_1e7_sec_mid": py_calib_mid,
        "jvm_sum_2e8_sec_mid": jvm_calib_mid,
        "py_loop_1e7_sec_end": py_calib_end,
        "jvm_sum_2e8_sec_end": jvm_calib_end,
        # Drift = mid-suite vs end-of-suite ONLY. The START point is
        # excluded from the gate (but reported, above, and as the
        # cold-start ratios below): five recorded runs (r4 clean, r6,
        # three r7 attempts) all measured it 1.5-2.2x the mid/end
        # twins — through a fixed 3x warmup AND the round-7
        # steady-state warmup (two consecutive untimed rounds within
        # 10%, up to 10). A bias that systematic is the host's cold
        # ramp, not within-run drift; keeping it in the spread made
        # `degraded: false` unreachable on a provably quiet machine
        # while mid/end agreed within 13%. Mid-vs-end is the signal
        # that actually invalidates cross-query comparison:
        # throttling while the suite runs.
        "py_spread": _spread([py_calib_mid, py_calib_end]),
        "jvm_spread": _spread([jvm_calib_mid, jvm_calib_end]),
        "py_cold_start_ratio": (
            round(py_calib / py_calib_mid, 3) if py_calib_mid else None
        ),
        "jvm_cold_start_ratio": (
            round(jvm_calib / jvm_calib_mid, 3) if jvm_calib_mid else None
        ),
        "samples_per_point": 5,
    }

    try:
        sf = float(os.path.basename(os.path.normpath(sf_dir)).replace("sf", ""))
    except ValueError:
        sf = None

    # Degraded-host stamp (round-5 verdict item 4): clean runs measure
    # anchor spreads of 0.02-0.08 (py) / <=0.25 (jvm); the round-5
    # degraded window read 0.236 / 0.673 and nothing in the artifact
    # said so, so consumers read 51 phantom regressions as real. Stamp
    # the artifact itself; never overwrite a clean BENCH_FULL.json with
    # a flagged run (the degraded artifact goes to its own file).
    degraded = calib["py_spread"] > 0.12 or calib["jvm_spread"] > 0.35

    full = {
        "metric": "declared_query_set_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "reps": reps,
        "calib": calib,
        "degraded": degraded,
        "reruns": reruns,
    }
    full_name = "BENCH_FULL.json"
    full_path = os.path.join(REPO, full_name)
    if degraded and os.path.exists(full_path):
        try:
            with open(full_path) as fh:
                prev_clean = not json.load(fh).get("degraded", False)
        except (json.JSONDecodeError, OSError):
            prev_clean = False
        if prev_clean:
            full_name = "BENCH_FULL_DEGRADED.json"
            full_path = os.path.join(REPO, full_name)
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)

    # inline only the interesting queries: regressions vs the operative
    # baseline first, then the slowest, capped so the line stays short
    ratios = {
        q: round(t / baseline[q], 2)
        for q, t in timings.items()
        if baseline.get(q)
    }
    # Host normalization: the operative baseline was recorded on a
    # (possibly) faster machine. The median ratio over a fixed set of
    # ANCHOR queries — untouched single-exchange plans stable since
    # round 1 — estimates the pure host factor; a query only counts as
    # regressed when it is >1.5x the baseline AFTER dividing that
    # factor out (round-4 evidence: a uniform 1.29x host shift flagged
    # 47 queries that isolated re-runs showed unchanged).
    # anchors are spread across the REGISTRATION ORDER (early / middle /
    # late) because the host's speed drifts within one ~20-min suite run
    # (burst turbo at start, sustained-load throttling later): an
    # early-only anchor set read 1.05x in the same run whose late-suite
    # untouched queries read 1.6x
    anchors = [
        "p01", "p03", "p08", "p13", "e01_dedup_exact", "e02_text_stats",
        "e05_text_quality", "e18_hash_sample", "e21_topk_window",
        "e43_cube", "e63_retention", "e94_mode_by_key",
        "e100_ks_test", "e121_rfm", "e146_cdf_transform",
        "e160_sequence_surprise", "e165_interarrival", "e200_table_checksum",
    ]
    anchor_ratios = sorted(ratios[a] for a in anchors if a in ratios)
    host_factor = (
        anchor_ratios[len(anchor_ratios) // 2] if anchor_ratios else 1.0
    )
    host_factor = max(host_factor, 1.0)  # never excuse a real regression
    # absolute floor: a +0.2s swing on a 0.25s query is task-scheduling
    # noise, not a plan regression — require >= 0.5s of real growth too
    regressed = sorted(
        (
            q
            for q, r in ratios.items()
            if r / host_factor > 1.5 and timings[q] - baseline[q] >= 0.5
        ),
        key=lambda q: -ratios[q],
    )
    # Round-8 fix (round-7 verdict item 2b): the inline set used to be
    # regressed+slowest only, so a query that IMPROVED structurally
    # could not appear in the driver's common-subset comparison
    # (n_improved was 0 by construction). Also inline the top improved
    # rows vs the operative baseline — additions-only; the cap is kept
    # by the shared fill loop trimming the slowest instead.
    improved_all = sorted(
        (
            q
            for q, r in ratios.items()
            if r / host_factor < 1 / 1.3 and baseline[q] - timings[q] >= 0.3
        ),
        key=lambda q: ratios[q],
    )
    improved = improved_all[:12]
    slowest = sorted(timings, key=lambda q: -timings[q])
    inline: dict[str, float] = {}
    for q in regressed + improved + slowest:
        if len(inline) >= MAX_INLINE_QUERIES:
            break
        inline.setdefault(q, timings[q])

    out = {
        "metric": "declared_query_set_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": inline,
        "sf": sf,
        "n_queries": len(timings),
        "n_regressed_1p5x": len(regressed),
        "n_improved_1p3x": len(improved_all),
        "host_factor_vs_baseline": round(host_factor, 3),
        "calib": calib,
        "degraded": degraded,
        "n_healed": len(reruns),
        "full": full_name,
    }
    sys.stdout.flush()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
