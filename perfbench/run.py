"""pivot-spark benchmark: one closed-loop client, one query at a time.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pivot_sf01 --seed 1 --seconds 20 --trace 0

A run sizes the Spark session from the host (``SPARK_GRAFT_CPUS`` from the
CPU count, ``SPARK_GRAFT_DRIVER_MEM`` from ``/proc/meminfo``), sets up and
warms up (``setup_s``), then runs passes over the workload's queries, in an
order drawn from ``--seed``, until ``--seconds`` have been measured. Each
query is the public entry point ``QUERIES[q](spark, sf_dir)`` (build)
followed by ``DataFrame.collect()``. Its result is hashed outside the timed
region and compared with ``reference_hashes.json``. The last line of stdout
is one JSON object: ``correct``, ``attempted`` (queries), ``failed``
(queries that raised or mismatched) and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` also measures
untraced, then restarts the context with Spark's event log, job groups and a
streaming listener, repeats the passes and reports the per-layer metrics
(``trace.fold``), including the tracing overhead. Its spans go to
``perfbench/.work/trace/``.

    python3 perfbench/run.py --record-hashes [workload ...]
    python3 perfbench/run.py --check-oracles [workload ...]

re-derive the reference hashes from the DuckDB oracles (``ORACLES``) on the
same inputs, writing them or comparing them with the stored ones.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shlex
import statistics
import subprocess
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
HASHES = os.path.join(BENCH_DIR, "reference_hashes.json")


def _prepare_env(cpus: int, mem_mb: int) -> None:
    """Keep every file Spark writes inside the checkout and size the session."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        # a fixed, pre-touched heap: how far G1 grew and touched it varied
        # by 25% of RSS from run to run, so RSS counts the heap at its full
        # size and what changes is the memory outside it
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in (
            "--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -Xms{mem_mb}m -XX:+AlwaysPreTouch",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "pyspark-shell")),
    })


def result_hash(cols, rows) -> str:
    from tools.oracle_check import canon_frame

    c, r = canon_frame(list(cols), [tuple(x) for x in rows])
    h = hashlib.sha256("\x1f".join(c).encode())
    for row in r:
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return h.hexdigest()


class Session:
    """The Spark session, restarted in place, and the JVM process behind it."""

    def __init__(self) -> None:
        self.spark = None
        self.listener = None

    def start(self, event_log: "str | None" = None) -> float:
        from pyspark import SparkContext
        from pivot_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        if event_log is not None:
            # the JVM already runs: a system property reaches the next
            # SparkConf exactly as a --conf in PYSPARK_SUBMIT_ARGS would
            props = SparkContext._jvm.java.lang.System
            props.setProperty("spark.eventLog.enabled", "true")
            props.setProperty("spark.eventLog.compress", "false")
            props.setProperty("spark.eventLog.dir", "file://" + event_log)
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def listen(self) -> list:
        from pyspark.sql.streaming import StreamingQueryListener

        records: list = []

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                records.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Progress()  # kept alive for as long as the session
        self.spark.streams.addListener(self.listener)
        return records

    def drain_listeners(self) -> None:
        """Wait until every queued listener event (event log, streaming
        progress) has been delivered."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for it and its Python workers."""
        from pyspark import SparkContext

        from perfbench import procfs

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        kids = procfs.descendants(proc.pid)
        if self.spark is not None:
            self.spark.stop()
        gw.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(30)
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while kids and time.monotonic() < deadline:
            kids = [k for k in kids if procfs.alive(k)]
            time.sleep(0.05)
        for k in kids:
            os.kill(k, 9)


class Runner:
    """Runs passes of one workload and keeps every measurement."""

    def __init__(self, wl, session: Session, seed: int) -> None:
        self.wl = wl
        self.session = session
        self.rng = random.Random(seed)
        from perfbench.trace import Spans

        self.spans = Spans()
        self.failed: set = set()
        self.checked: set = set()
        with open(HASHES) as fh:
            self.reference = json.load(fh).get(wl.name, {})
        self.traced = False

    def cleanup(self) -> "tuple[int, float, int]":
        """Record what the query left pinned, then release it so queries stay
        independent: (persistent RDDs, their MB, memory-sink tables)."""
        spark = self.session.spark
        jsc = spark.sparkContext._jsc
        rdds = list(jsc.getPersistentRDDs().values())
        leaked_mb = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()) / 1e6
        sinks = [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_replay_")]
        spark.catalog.clearCache()
        for rdd in rdds:
            rdd.unpersist()
        for name in sinks:
            spark.catalog.dropTempView(name)
        return len(rdds), leaked_mb, len(sinks)

    def _phase(self, q: str, parent: dict, phase: str) -> dict:
        if self.traced:
            group = f"bench:{self.wl.name}:{q}:{phase}"
            self.session.spark.sparkContext.setJobGroup(group, group)
        return self.spans.open(phase, q, parent["id"], time.time(),
                               workload=self.wl.name, query=q)

    def run_pass(self, sf: str, index: int, measured: bool) -> "list[dict]":
        """One pass over the workload in a seeded order. Per query: build and
        collect (timed), then, untimed, the result hash and the cleanup."""
        from perfbench import procfs
        from pivot_spark.plans.declared import QUERIES

        spark = self.session.spark
        pid, jvm = os.getpid(), self.session.jvm_pid
        order = list(self.wl.queries)
        self.rng.shuffle(order)
        ps = self.spans.open("pass", f"{self.wl.name}#{index}", None, time.time(),
                             workload=self.wl.name, index=index, measured=measured,
                             traced=self.traced)
        out = []
        for q in order:
            before = procfs.sample(pid, jvm)
            qs = self.spans.open("query", q, ps["id"], time.time(), workload=self.wl.name)
            df = rows = None
            wall = 0.0
            try:
                for phase in ("build", "collect"):
                    sp = self._phase(q, qs, phase)
                    t0 = time.perf_counter()
                    try:
                        if phase == "build":
                            df = QUERIES[q](spark, sf)
                        else:
                            rows = df.collect()
                            sp["attrs"]["rows"] = len(rows)
                    finally:
                        wall += time.perf_counter() - t0
                        sp["end"] = time.time()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                self.failed.add(q)
            after = procfs.sample(pid, jvm)
            if measured and rows is not None and q not in self.checked:
                self.checked.add(q)
                if result_hash(df.columns, rows) != self.reference.get(q):
                    print(f"perfbench: {q}: result hash differs from the reference",
                          file=sys.stderr)
                    self.failed.add(q)
            df = rows = None
            sp = self._phase(q, qs, "cleanup")
            leaked_rdds, leaked_mb, sinks = self.cleanup()
            sp["end"] = qs["end"] = time.time()
            if self.traced:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            qs["attrs"].update(
                wall_s=wall,
                leaked_rdds=leaked_rdds, leaked_mb=leaked_mb, sink_tables_left=sinks,
                **{f"cpu_{r}_s": after.cpu.get(r, 0.0) - before.cpu.get(r, 0.0)
                   for r in ("jvm", "driver_py", "pyworker")},
                **{f"rss_{r}_mb": max(after.rss.get(r, 0.0), before.rss.get(r, 0.0))
                   for r in ("jvm", "pyworker")},
            )
            out.append({"query": q, "wall_s": wall,
                        "cpu_s": after.cpu_total - before.cpu_total,
                        "rss_mb": max(before.rss_total, after.rss_total)})
        ps["end"] = time.time()
        return out

    def measure(self, sf: str, seconds: float, first_index: int) -> "list[list[dict]]":
        """``seconds`` of passes at the workload's nominal pass time (at least
        one): the count depends on the arguments only, never on timing."""
        passes = []
        for i in range(max(1, round(seconds / self.wl.pass_s))):
            passes.append(self.run_pass(sf, first_index + i, measured=True))
            print(f"perfbench: pass {i + 1}: "
                  f"{sum(r['wall_s'] for r in passes[-1]):.3f} s "
                  + " ".join(f"{r['query']}={r['wall_s']:.2f}" for r in passes[-1]),
                  file=sys.stderr)
        return passes


def summarize(passes: "list[list[dict]]") -> dict:
    """A typical pass: per query, the median over every measured pass, so
    one query slowed in one pass barely moves the sums."""
    wall: dict = {}
    cpu: dict = {}
    for p in passes:
        for r in p:
            wall.setdefault(r["query"], []).append(r["wall_s"])
            cpu.setdefault(r["query"], []).append(r["cpu_s"])
    med = {q: statistics.median(v) for q, v in wall.items()}
    return {
        "total_s": sum(med.values()),
        "geomean_query_s": math.exp(statistics.fmean(math.log(v) for v in med.values())),
        "cpu_s": sum(statistics.median(v) for v in cpu.values()),
        "peak_rss_mb": max(r["rss_mb"] for p in passes for r in p),
        "passes": len(passes),
    }


def run(wl_name: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import data, procfs
    from perfbench.workloads import WORKLOADS

    t_start = time.perf_counter()
    wl = WORKLOADS[wl_name]
    cpus, mem_mb = procfs.host_cpus(), procfs.driver_mem_mb()
    _prepare_env(cpus, mem_mb)
    sf = data.sf_dir(wl.copies)
    print(f"perfbench: workload={wl.name} seed={seed} SPARK_GRAFT_CPUS={cpus} "
          f"SPARK_GRAFT_DRIVER_MEM={mem_mb}m data={os.path.relpath(sf, ROOT)}", flush=True)

    session = Session()
    runner = Runner(wl, session, seed)
    try:
        # set-up: interpreter imports, JVM launch, session start and the
        # warm-up passes, everything before the first measured pass
        session_start_s = session.start()
        # a cold pass on the small seed tables pays JIT, imports and Python
        # worker start cheaply; the warm passes then run at the measured scale
        runner.run_pass(data.sf_dir(1), -1, measured=False)
        for k in range(wl.warm_passes):
            runner.run_pass(sf, -2 - k, measured=False)
        setup_s = time.perf_counter() - t_start
        steal0 = procfs.host_cpu_ticks()
        passes = runner.measure(sf, seconds, 0)
        steal1 = procfs.host_cpu_ticks()
        e2e = summarize(passes)
        metrics = {
            "setup_s": (setup_s, "s"),
            "total_s": (e2e["total_s"], "s"),
            "geomean_query_s": (e2e["geomean_query_s"], "s"),
            "cpu_s": (e2e["cpu_s"], "s"),
            "peak_rss_mb": (e2e["peak_rss_mb"], "MB"),
        }
        problems: list = []
        if trace:
            metrics, problems = traced_run(wl, session, runner, sf, seconds, e2e,
                                           session_start_s, seed)
    finally:
        session.shutdown()
    print(f"perfbench: setup {setup_s:.2f} s, {e2e['passes']} measured passes, "
          f"host steal {(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.1%} "
          "of CPU time while measuring", file=sys.stderr)
    for p in problems:
        print(f"perfbench: sanity check failed: {p}", file=sys.stderr)
    return {
        "correct": not runner.failed and not problems,
        "attempted": len(wl.queries),
        "failed": len(runner.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def traced_run(wl, session, runner, sf, seconds, untraced, session_start_s, seed):
    from perfbench import trace

    log_dir = os.path.join(WORK, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    session.start(event_log=log_dir)
    app_id = session.spark.sparkContext.applicationId
    progress = session.listen()
    runner.traced = True
    runner.run_pass(sf, -100, measured=False)
    passes = runner.measure(sf, seconds, 100)
    session.drain_listeners()
    session.spark.stop()  # flushes and closes the event log
    session.spark = None
    events = trace.read_event_log(os.path.join(log_dir, f"eventlog_v2_{app_id}"))
    folded = trace.fold(events, runner.spans.items, progress)
    layers = folded["layers"]
    layers["session.start_s"] = session_start_s
    layers["trace.overhead_ratio"] = summarize(passes)["total_s"] / untraced["total_s"]
    layers["trace.attributed_share"] = folded["attributed_share"]
    problems = wl.check(layers)
    if folded["attributed_share"] < 0.99:
        problems.append(f"only {folded['attributed_share']:.4f} of job time attributed")
    out_dir = os.path.join(WORK, "trace")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{wl.name}-seed{seed}.json")
    runner.spans.items.extend(folded["job_spans"])
    runner.spans.write(path, {"queries": folded["queries"], "layers": layers})
    _print_self_times(folded["queries"])
    print(f"perfbench: spans and per-query layers in {os.path.relpath(path, ROOT)}",
          file=sys.stderr)
    return {k: (layers[k], trace.UNITS[k]) for k in trace.UNITS}, problems


def _print_self_times(rows: "list[dict]") -> None:
    cols = ("build_driver_s", "build_job_s", "stream_job_s", "collect_driver_s",
            "collect_job_s", "py_run_s")
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query"], []).append(r)
    print("perfbench: self time per query (median over traced passes), s", file=sys.stderr)
    print("  " + "query".ljust(28) + "".join(c.rjust(17) for c in cols), file=sys.stderr)
    for q, rs in sorted(by_q.items()):
        vals = "".join(f"{statistics.median(r[c] for r in rs):17.3f}" for c in cols)
        print("  " + q.ljust(28) + vals, file=sys.stderr)


def oracle_hashes(names: "list[str]") -> dict:
    import duckdb

    from perfbench import data
    from perfbench.workloads import WORKLOADS
    from pivot_spark.plans.declared import ORACLES
    from pivot_spark.sources.catalog import TABLES

    out = {}
    for name in names:
        wl = WORKLOADS[name]
        sf = data.sf_dir(wl.copies)
        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(sf, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out[name] = {}
        for q in wl.queries:
            res = con.execute(ORACLES[q])
            out[name][q] = result_hash([d[0] for d in res.description], res.fetchall())
        con.close()
    return out


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-hashes", nargs="*", metavar="WORKLOAD")
    ap.add_argument("--check-oracles", nargs="*", metavar="WORKLOAD")
    args = ap.parse_args(argv)

    needed = ("pivot_spark/plans/declared/__init__.py", "tools/make_sf.py", "tools/oracle_check.py")
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a pivot-spark checkout, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    for mode in ("record_hashes", "check_oracles"):
        names = getattr(args, mode)
        if names is None:
            continue
        names = names or list(WORKLOADS)
        got = oracle_hashes(names)
        if mode == "record_hashes":
            with open(HASHES) as fh:
                stored = json.load(fh)
            stored.update(got)
            with open(HASHES, "w") as fh:
                json.dump(stored, fh, indent=1, sort_keys=True)
                fh.write("\n")
            return 0
        with open(HASHES) as fh:
            stored = json.load(fh)
        bad = [(w, q) for w in got for q in got[w] if stored.get(w, {}).get(q) != got[w][q]]
        for w, q in bad:
            print(f"{w}/{q}: stored reference hash differs from the DuckDB oracle")
        print(f"{sum(map(len, got.values())) - len(bad)} of {sum(map(len, got.values()))} "
              "reference hashes match their DuckDB oracle")
        return 1 if bad else 0

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
