"""Per-query optimization probe (round 7, guide §1).

For each named query: build the DataFrame (plan construction — includes
any eager driver steps the operator runs), time `collect()` and the
noop sink (`format("noop")` — computes every column, §1.4) over
N reps, and write `.explain("formatted")` to plans/r07/<query>_<tag>.txt.

Timing protocol matches bench.py (each rep inside its own fence scope,
checkpointed RDDs released between reps, median of reps), but per
query, so a change can be measured in ~30 s instead of a 25-min suite
run.

Usage: python tools/perf_probe.py <tag> <query> [query ...]
  env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       PROBE_REPS (default 3)
Prints one line per query: build_s, collect_s (median), noop_s (median).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("PROBE_REPS", "3"))

    from pivot_spark.operators._fence import fence_scope
    from pivot_spark.session import get_spark
    from pivot_spark.plans.declared import QUERIES

    spark = get_spark("perf_probe")
    spark.sparkContext.setLogLevel("ERROR")

    # same warmup as bench.py: codegen compiler + Arrow worker start-up
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for wq in ("p17", "e03_neardup_minhash"):
            try:
                with fence_scope():
                    QUERIES[wq](spark, warm_dir).collect()
            except Exception:
                pass

    out = {}
    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"probe:{name}")
        builds, collects, noops = [], [], []
        for _ in range(reps):
            for rdd in list(
                spark.sparkContext._jsc.getPersistentRDDs().values()
            ):
                rdd.unpersist()
            with fence_scope():
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                builds.append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                df.collect()
                collects.append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                noops.append(time.perf_counter() - t0)
        # explain AFTER execution so AQE-final shapes are near-real;
        # formatted explain shows the initial plan either way
        try:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception:
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        with open(
            os.path.join(REPO, "plans", "r07", f"{name}_{tag}.txt"), "w"
        ) as fh:
            fh.write(plan)
        med = lambda xs: round(sorted(xs)[len(xs) // 2], 3)  # noqa: E731
        out[name] = {
            "build": med(builds),
            "collect": med(collects),
            "noop": med(noops),
        }
        print(
            f"{name:40} build={out[name]['build']:7.3f} "
            f"collect={out[name]['collect']:7.3f} noop={out[name]['noop']:7.3f}",
            flush=True,
        )
    print(json.dumps({"tag": tag, "sf_dir": sf_dir, "reps": reps, "queries": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
