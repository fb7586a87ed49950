"""Declared-suite benchmark, timed through perfbench's runner.

    python bench.py                              # every declared query
    python bench.py p03 e10_ngram_jaccard ...    # only these

One session sized from the host (``perfbench.run._prepare_env``), one
warm-up pass of p17 and e03 at the sibling sf0.001, then
$SPARK_GRAFT_BENCH_REPS (default 3) passes of ``perfbench.run.Runner`` at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1). The runner times each
build and collect, records a query that raises as failed and releases what
the query left pinned. A query's time is its median over the passes.
Results are not hashed: correctness is ``tools/oracle_check.py``'s job.

The last stdout line is one JSON object (``summary``). A run of the whole
suite also writes BENCH_FULL.json: every median under ``queries``, each
query's build/collect seconds, CPU by process and leak counters under
``rows``. BASELINE_OPERATIVE.json is a copy of a BENCH_FULL.json recorded
on the same host.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
MAX_INLINE_QUERIES = 40


def pass_walls(passes: "list[list[dict]]", failed: "set[str]") -> "dict[str, list[float]]":
    """Per query, its ``wall_s`` in each pass, failed ones left out."""
    walls: dict = {}
    for r in (r for p in passes for r in p):
        if r["query"] not in failed:
            walls.setdefault(r["query"], []).append(r["wall_s"])
    return walls


def medians(passes: "list[list[dict]]", failed: "set[str]") -> "dict[str, float]":
    """Per query, the median ``wall_s`` over the passes, failed ones left out."""
    return {q: round(statistics.median(v), 3) for q, v in pass_walls(passes, failed).items()}


def rows_from_spans(spans: "list[dict]") -> "dict[str, dict]":
    """Per query, the median over passes of what the runner's spans hold:
    the query span's attributes and the build and collect spans' seconds."""
    per_run: dict = {}
    for s in spans:
        if s["kind"] == "query":
            per_run[s["id"]] = (s["name"], dict(s["attrs"]))
        elif s["kind"] in ("build", "collect") and s["end"] is not None:
            per_run[s["parent"]][1][f"{s['kind']}_s"] = s["end"] - s["start"]
    runs: dict = {}
    for name, attrs in per_run.values():
        runs.setdefault(name, []).append(attrs)
    return {
        q: {k: round(statistics.median(a[k] for a in rs if k in a), 3)
            for k in sorted({k for a in rs for k in a})
            if k != "workload"}
        for q, rs in runs.items()
    }


def summary(passes: "list[list[dict]]", baseline: "dict[str, float]",
            failed: "set[str]", sf: "float | None", full: "str | None") -> dict:
    """The stdout line: ``queries`` holds at most 40 medians, the queries that
    regressed past 1.5x their baseline (by at least 0.5 s) first, then those
    that improved past 1/1.3x (by at least 0.3 s), then the slowest. A query
    is flagged only when every pass is past the line, not just its median:
    one run's passes straddle a 1.3x line on host noise alone."""
    timings = medians(passes, failed)
    walls = {q: v for q, v in pass_walls(passes, failed).items() if baseline.get(q)}
    ratio = {q: timings[q] / baseline[q] for q in walls}
    regressed = sorted((q for q, v in walls.items()
                        if min(v) > 1.5 * baseline[q] and min(v) - baseline[q] >= 0.5),
                       key=lambda q: -ratio[q])
    improved = sorted((q for q, v in walls.items()
                       if max(v) < baseline[q] / 1.3 and baseline[q] - max(v) >= 0.3),
                      key=lambda q: ratio[q])
    slowest = sorted(timings, key=lambda q: -timings[q])
    inline: dict = {}
    for q in regressed + improved + slowest:
        if len(inline) >= MAX_INLINE_QUERIES:
            break
        inline.setdefault(q, timings[q])
    return {
        "metric": "declared_query_set_total_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": inline,
        "sf": sf,
        "n_queries": len(timings),
        "n_regressed_1p5x": len(regressed),
        "n_improved_1p3x": len(improved),
        "failed": sorted(failed),
        "full": full,
    }


def main(names: "list[str]") -> None:
    from perfbench import procfs
    from perfbench.run import Runner, Session, _prepare_env
    from perfbench.workloads import Workload
    from pivot_spark.plans.declared import QUERIES

    unknown = [q for q in names if q not in QUERIES]
    if unknown:
        sys.exit(f"bench.py: unknown queries {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), "sf0.001")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    cpus, mem_mb = procfs.host_cpus(), procfs.driver_mem_mb()
    commit = subprocess.run(["git", "describe", "--always", "--dirty"], cwd=REPO,
                            capture_output=True, text=True).stdout.strip()
    _prepare_env(cpus, mem_mb)

    def workload(name: str, queries: tuple) -> Workload:
        return Workload(name, "declared-suite bench", queries, copies=1,
                        warm_passes=0, pass_s=0.0, check=lambda layers: [])

    session = Session()
    runner = Runner(workload("bench", tuple(names or QUERIES)), session, seed=0)
    try:
        session.start()
        if os.path.isdir(warm_dir):
            warm = workload("bench_warm", ("p17", "e03_neardup_minhash"))
            Runner(warm, session, seed=0).run_pass(warm_dir, -1, measured=False)
        passes = [runner.run_pass(sf_dir, i, measured=False) for i in range(reps)]
    finally:
        session.shutdown()

    timings = medians(passes, runner.failed)
    rows = rows_from_spans(runner.spans.items)
    for q, r in sorted(rows.items()):
        print(f"bench: {q:40} " + " ".join(f"{k}={r.get(k, 0):.3f}" for k in
                                           ("wall_s", "build_s", "collect_s")), file=sys.stderr)
    baseline: dict = {}
    if os.path.exists(bl_path := os.path.join(REPO, "BASELINE_OPERATIVE.json")):
        with open(bl_path) as fh:
            baseline = json.load(fh)["queries"]
    try:
        sf = float(os.path.basename(os.path.normpath(sf_dir)).replace("sf", ""))
    except ValueError:
        sf = None
    full = None if names else "BENCH_FULL.json"
    out = summary(passes, baseline, runner.failed, sf, full)
    if full:
        with open(os.path.join(REPO, full), "w") as fh:
            json.dump({**out, "queries": timings, "rows": rows, "reps": reps,
                       "host": {"cpus": cpus, "driver_mem_mb": mem_mb, "commit": commit}},
                      fh, indent=1, sort_keys=True)
    sys.stdout.flush()
    print(json.dumps(out))


if __name__ == "__main__":
    main(sys.argv[1:])
