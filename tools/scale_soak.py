"""10x scale soak: run the heaviest declared queries at sf0.1 AND at
the generated sf1 (tools/make_sf.py), and report the per-query scaling
slope t(sf1)/t(sf0.1). Rows grow 10x, so a scale-correct plan shows a
slope <= ~10 (sub-linear where fixed overhead dominates); a slope
meaningfully above 10 names a super-linear operator — the scale bug no
static plan audit can catch (e.g. pair-output growth, per-group state
that grows with corpus size, a broadcast that stopped fitting).

Writes SOAK_SF1.json: {query: {t_sf01, t_sf1, slope, rows_sf01,
rows_sf1, row_growth}} plus machine anchors, and prints a slope table.

Usage: python tools/scale_soak.py [n_heaviest] [reps] [skip]
  (``skip`` drops the first N heaviest — e.g. ``30 2 30`` soaks ranks
  31-60 and merges into the existing SOAK_SF1.json)

Env overrides (for soaks beyond the default sf0.1 -> sf1 decade):
  SOAK_SF_DIR     big-side data dir        (default <repo>/testdata_sf1)
  SOAK_OUT        artifact filename        (default SOAK_SF1.json)
  SOAK_THRESHOLD  over-linear slope cutoff (default 12; use ~120 for a
                  100x corpus)
  SOAK_QUERIES    comma-separated explicit query list (overrides the
                  heaviest-N selection)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _run(spark, fn, sf_dir: str, reps: int) -> "tuple[float, int, float]":
    """Wall-clock for two actions: ``collect()`` (the legacy end-to-end
    metric — includes driver materialization of the result set) and a
    ``noop``-sink write (engine-side only — the number that matters at
    100 TB, where results are written to storage, never collected). A
    query whose collect-slope is high but whose noop-slope is ~linear
    has a driver-transfer artifact, not a plan problem.

    min-of-reps, not median: with reps=2 ``sorted(...)[1]`` is the MAX,
    i.e. the first execution's one-time codegen/JIT compile cost (3-4x
    the warm time for compile-heavy plans) — a per-query constant, not
    data work, and it poisons both ends of the slope with noise. The
    noop write is measured once, after the collect reps warmed the
    plan's generated code."""
    from pivot_spark.operators._fence import fence_scope

    def _isolate() -> None:
        # same cold-cache start for every sample: each sample runs in
        # its own fence scope, so frames an operator pins through
        # _fence are recomputed at BOTH SFs — otherwise the
        # noop sample is a cache-hit at one SF and a cache-miss at the
        # other and the slope compares those instead. Loop-body
        # localCheckpoint RDDs are outside any scope; release them here
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist()

    runs, n = [], 0
    for _ in range(reps):
        _isolate()
        t0 = time.perf_counter()
        with fence_scope():
            n = len(fn(spark, sf_dir).collect())
        runs.append(time.perf_counter() - t0)
    _isolate()
    t0 = time.perf_counter()
    with fence_scope():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return min(runs), n, time.perf_counter() - t0


def main() -> None:
    n_heaviest = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    skip = int(sys.argv[3]) if len(sys.argv) > 3 else 0
    sf01 = "/root/testdata/sf0.1"
    sf1 = os.environ.get("SOAK_SF_DIR") or os.path.join(REPO, "testdata_sf1")
    out_name = os.environ.get("SOAK_OUT", "SOAK_SF1.json")
    threshold = float(os.environ.get("SOAK_THRESHOLD", "12"))
    if not os.path.isdir(sf1):
        sys.exit("run tools/make_sf.py first")

    from pivot_spark.session import get_spark
    from pivot_spark.plans.declared import QUERIES

    spark = get_spark("soak")
    spark.sparkContext.setLogLevel("ERROR")

    with open(os.path.join(REPO, "BENCH_FULL.json")) as fh:
        last = json.load(fh)["queries"]
    # heaviest by the last full bench; streaming replays excluded (the
    # micro-batch harness is replay overhead, not data-volume work)
    explicit = os.environ.get("SOAK_QUERIES")
    if explicit:
        names = [q.strip() for q in explicit.split(",") if q.strip()]
    else:
        names = [
            q for q in sorted(last, key=lambda q: -last[q])
            if not q.startswith("s")
        ][skip : skip + n_heaviest]

    # warm up: file index + one codegen query + one Arrow kernel query
    spark.read.parquet(os.path.join(sf01, "lineitem.parquet")).count()
    spark.read.parquet(os.path.join(sf1, "lineitem.parquet")).count()
    for wq in ("p17", "e170_wav_decode"):
        if wq in QUERIES:
            QUERIES[wq](spark, "/root/testdata/sf0.001").collect()

    out = {}
    for q in names:
        # survive transient Python-worker deaths (a long-lived daemon
        # fork occasionally dies mid-suite): retry once, then record the
        # error and move on — one flaky query must not void the wave
        try:
            t01, n01, e01 = _run(spark, QUERIES[q], sf01, reps)
            t1, n1, e1 = _run(spark, QUERIES[q], sf1, reps)
        except Exception as exc:  # noqa: BLE001
            print(f"{q}: RETRY after {type(exc).__name__}", flush=True)
            try:
                t01, n01, e01 = _run(spark, QUERIES[q], sf01, reps)
                t1, n1, e1 = _run(spark, QUERIES[q], sf1, reps)
            except Exception as exc2:  # noqa: BLE001
                print(f"{q}: FAILED {type(exc2).__name__}: {exc2}", flush=True)
                out[q] = {"error": f"{type(exc2).__name__}: {exc2}"[:300]}
                # e10-style auto-adjudication (round-6 verdict item 6):
                # when a query dies at scale and a volume probe exists
                # for it, record the measured comparison curve so the
                # failure ships with its diagnosis, not just a traceback
                try:
                    from tools.scale_probe import ADJUDICATIONS, PROBES

                    if q in PROBES:
                        out[q]["comparisons_probe"] = {
                            "sf0.1": PROBES[q](spark, sf01)["candidates"],
                            os.path.basename(sf1): PROBES[q](spark, sf1)[
                                "candidates"
                            ],
                        }
                        out[q]["adjudicated"] = ADJUDICATIONS[q]
                        out[q]["metric"] = "probe"
                        print(f"{q}: probe {out[q]['comparisons_probe']}",
                              flush=True)
                except Exception as pexc:  # noqa: BLE001
                    print(f"{q}: probe failed {pexc}", flush=True)
                continue
        slope = round(t1 / t01, 2) if t01 > 0 else None
        eslope = round(e1 / e01, 2) if e01 > 0 else None
        out[q] = {
            "t_sf01": round(t01, 3), "t_sf1": round(t1, 3), "slope": slope,
            "t_noop_sf01": round(e01, 3), "t_noop_sf1": round(e1, 3),
            "slope_noop": eslope,
            "rows_sf01": n01, "rows_sf1": n1,
            "row_growth": round(n1 / n01, 2) if n01 else None,
            # timing metric + rep count of THIS entry — merged artifacts
            # can mix eras (pre-round-5 entries were median-of-reps;
            # wide sf10 waves run reps=1 to fit the wall clock)
            "metric": "min", "n_reps": reps,
        }
        _s = f"{slope:6.2f}" if slope is not None else "     -"
        _e = f"{eslope:6.2f}" if eslope is not None else "     -"
        print(
            f"{q:32s} {t01:7.2f}s -> {t1:7.2f}s  slope={_s}"
            f"  engine={_e}  rows {n01} -> {n1}", flush=True,
        )

    art_path = os.path.join(REPO, out_name)
    if (skip or explicit) and os.path.exists(art_path):
        with open(art_path) as fh:
            prev = json.load(fh).get("queries", {})
        for q, v in prev.items():
            out.setdefault(q, v)
    art = {
        "sf01_dir": sf01, "sf1_dir": sf1, "reps": reps,
        "threshold": threshold,
        "queries": out,
        "max_slope": max(
            (v["slope"] for v in out.values() if v.get("slope") is not None),
            default=None,
        ),
        # the engine-side (noop-write) slope is the scale signal where
        # measured; collect-slope is the fallback for legacy entries
        "over_linear": sorted(
            q for q, v in out.items()
            if (v.get("slope_noop") or v.get("slope"))
            and (v.get("slope_noop") or v.get("slope")) > threshold
        ),
    }
    with open(art_path, "w") as fh:
        json.dump(art, fh, indent=1, sort_keys=True)
    print(f"\nmax slope: {art['max_slope']} over-linear (>{threshold:g}):",
          art["over_linear"])


if __name__ == "__main__":
    main()
