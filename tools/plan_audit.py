"""Physical-plan audit over EVERY declared batch query.

`.explain` discipline, made systematic: build each query's DataFrame at
sf0.001 (plan analysis only — building a batch query executes nothing
but the eager fence jobs of ``operators/_fence.py::materialize``, which
compute a row count or size probe an operator needs at build time; each
query is built inside its own ``fence_scope()`` so the frames it pins
are released), walk the physical plan string, and report the operators
that decide 100 TB behavior:

* shuffle surface — hash / range / single-partition Exchanges;
* join strategies — broadcast vs sort-merge vs the two landmines
  (CartesianProduct, BroadcastNestedLoopJoin);
* whole-stage-codegen span count (informational: pre-execution AQE
  plans report 0 — the spans materialize per stage at runtime; use
  ``df.explain("codegen")`` for a live view);
* scans with pushed filters vs bare scans.

Writes PLANS.json next to the repo root and prints a summary. It exits
1 if any query plans a CartesianProduct; no test runs it. The plan
shapes a refactor must not regress are pinned per operator in
tests/test_plans.py; this tool is the full report for humans.

Streaming queries (s01-s13) execute their drain inside the query fn,
so they are skipped here — their plan shape is covered by the
streaming operator tests.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MARKERS = {
    "exchange_hash": "Exchange hashpartitioning",
    "exchange_range": "Exchange rangepartitioning",
    "exchange_single": "Exchange SinglePartition",
    "broadcast_exchange": "BroadcastExchange",
    "bhj": "BroadcastHashJoin",
    "smj": "SortMergeJoin",
    "shj": "ShuffledHashJoin",
    "bnlj": "BroadcastNestedLoopJoin",
    "cartesian": "CartesianProduct",
    "codegen": "WholeStageCodegen",
    "inmemory_scan": "InMemoryTableScan",
    "take_ordered": "TakeOrderedAndProject",
}


def audit_plan(plan: str) -> dict:
    out = {k: plan.count(m) for k, m in MARKERS.items()}
    scans = re.findall(r"FileScan \w+", plan)
    out["file_scans"] = len(scans)
    out["pushed_filter_scans"] = len(
        [m for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan) if m.group(1).strip()]
    )
    return out


def main() -> int:
    import __spark_entry__ as entry_mod
    from pivot_spark.operators._fence import fence_scope
    from pivot_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    report: dict[str, dict] = {}
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        if name.startswith("s") and "_stream" in name:
            continue
        with fence_scope():
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        report[name] = audit_plan(plan)

    summary = {
        "n_queries": len(report),
        "cartesian_products": sorted(
            q for q, r in report.items() if r["cartesian"]
        ),
        "max_hash_exchanges": max(
            (r["exchange_hash"] for r in report.values()), default=0
        ),
        "queries_over_4_hash_exchanges": sorted(
            q for q, r in report.items() if r["exchange_hash"] > 4
        ),
        "bnlj_queries": sorted(q for q, r in report.items() if r["bnlj"]),
        "zero_shuffle_queries": len(
            [
                q
                for q, r in report.items()
                if not (r["exchange_hash"] or r["exchange_range"])
            ]
        ),
    }
    with open(os.path.join(REPO, "PLANS.json"), "w") as fh:
        json.dump({"summary": summary, "queries": report}, fh, indent=1, sort_keys=True)
    print(json.dumps(summary, indent=2))
    return 1 if summary["cartesian_products"] else 0


if __name__ == "__main__":
    sys.exit(main())
