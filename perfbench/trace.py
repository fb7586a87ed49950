"""Spans of a traced run, and their fold into per-layer metrics.

The benchmark records its own spans in memory: workload pass -> query ->
build | collect | cleanup, each with epoch start/end and the span that
caused it (cleanup is the benchmark's own untimed bookkeeping).
Spark's event log supplies the jobs, their stages and their tasks. A job
is attributed to a (workload, query, phase) triple by its job group
``bench:<workload>:<query>:<phase>``; a streaming micro-batch job carries
the query's run id as its group instead, so it goes to the phase span
whose time window holds its submission. ``fold`` then appends one job
span per job under its phase span.

Nothing here talks to Spark, so the fold can be tested on a recorded log.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

PY_RUN = "time to run Python workers"
PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
_TOL = 0.002  # event-log times are whole milliseconds
_MB = 1e6

# every per-layer metric a traced run reports, with its unit
UNITS = {
    "session.start_s": "s",
    "sources.input_mb": "MB", "sources.input_rows": "count",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.build_job_s": "s",
    "plans.build_driver_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count", "exec.task_s": "s",
    "exec.cpu_s": "s", "exec.gc_s": "s", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB", "exec.failed_tasks": "count",
    "exec.stage_skew": "ratio",
    "pyworker.run_s": "s", "pyworker.boot_s": "s", "pyworker.sent_mb": "MB",
    "pyworker.recv_mb": "MB", "pyworker.cpu_s": "s",
    "collect.wall_s": "s", "collect.rows": "count", "collect.result_mb": "MB",
    "collect.driver_s": "s",
    "cache.leaked_rdds": "count", "cache.leaked_mb": "MB",
    "streaming.batches": "count", "streaming.data_batch_s": "s",
    "streaming.nodata_batch_s": "s", "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s", "streaming.state_rows_total": "count",
    "streaming.state_mem_mb": "MB", "streaming.state_commit_s": "s",
    "streaming.sink_tables_left": "count",
    "proc.jvm_cpu_s": "s", "proc.driver_py_cpu_s": "s", "proc.jvm_rss_mb": "MB",
    "proc.pyworker_rss_mb": "MB",
    "trace.overhead_ratio": "ratio", "trace.attributed_share": "ratio",
}


class Spans:
    """In-memory span list, written out once at the end of a run."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    def open(self, kind: str, name: str, parent: "int | None", start: float, **attrs) -> dict:
        span = {"id": len(self.items), "parent": parent, "kind": kind,
                "name": name, "start": start, "end": None, "attrs": attrs}
        self.items.append(span)
        return span

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.items, **extra}, fh)


def read_event_log(path: str) -> list[dict]:
    """Events of one application: an ``eventlog_v2_*`` directory of rolled
    ``events_*`` files, or a single JSON-lines file."""
    files = ([path] if os.path.isfile(path) else
             sorted(glob.glob(os.path.join(path, "events_*")),
                    key=lambda p: int(os.path.basename(p).split("_")[1])))
    events = []
    for fn in files:
        with open(fn) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


@dataclass
class Job:
    id: int
    group: str
    start: float
    end: float
    streaming: bool
    tasks: list = field(default_factory=list)  # (stage id, TaskEnd event)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def jobs_from_events(events: list[dict]) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(e["Job ID"], props.get("spark.jobGroup.id") or "",
                      e["Submission Time"] / 1e3, e["Submission Time"] / 1e3,
                      "sql.streaming.queryId" in props)
            jobs[job.id] = job
            for sid in e.get("Stage IDs", ()):
                stage_job.setdefault(sid, job.id)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            jobs[stage_job[e["Stage ID"]]].tasks.append((e["Stage ID"], e))
    return sorted(jobs.values(), key=lambda j: j.start)


def _union(intervals: "list[tuple[float, float]]") -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def attribute(jobs: list[Job], spans: list[dict]) -> dict:
    """job id -> phase span id, for every job a phase span accounts for."""
    phases = [s for s in spans if s["kind"] in ("build", "collect", "cleanup")]
    out = {}
    for job in jobs:
        inside = [s for s in phases
                  if s["start"] - _TOL <= job.start <= s["end"] + _TOL]
        if job.group.startswith("bench:"):
            _, w, q, ph = job.group.split(":")
            inside = [s for s in inside if (s["attrs"]["workload"], s["attrs"]["query"],
                                            s["kind"]) == (w, q, ph)]
        if len(inside) == 1:
            out[job.id] = inside[0]["id"]
    return out


def _acc(task: dict, name: str) -> float:
    return sum(float(a.get("Update") or 0) for a in task["Task Info"].get("Accumulables", ())
               if a.get("Name") == name)


def _job_figures(job: Job) -> dict:
    f = dict.fromkeys(("tasks", "task_s", "cpu_s", "gc_s", "shuffle_read_mb",
                       "shuffle_write_mb", "spill_mb", "failed_tasks", "input_mb",
                       "input_rows", "result_mb", "py_run_s", "py_boot_s", "py_sent_mb",
                       "py_recv_mb"), 0.0)
    by_stage: dict = {}
    for sid, t in job.tasks:
        m, info = t.get("Task Metrics") or {}, t["Task Info"]
        f["tasks"] += 1
        f["failed_tasks"] += bool(info.get("Failed") or info.get("Killed"))
        f["task_s"] += m.get("Executor Run Time", 0) / 1e3
        f["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        f["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
        f["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
        f["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
        f["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
        im = m.get("Input Metrics") or {}
        f["input_mb"] += im.get("Bytes Read", 0) / _MB
        f["input_rows"] += im.get("Records Read", 0)
        f["result_mb"] += m.get("Result Size", 0) / _MB
        f["py_run_s"] += _acc(t, PY_RUN) / 1e3
        f["py_boot_s"] += sum(_acc(t, n) for n in PY_BOOT) / 1e3
        f["py_sent_mb"] += _acc(t, PY_SENT) / _MB
        f["py_recv_mb"] += _acc(t, PY_RECV) / _MB
        by_stage.setdefault(sid, []).append(m.get("Executor Run Time", 0))
    f["stages"] = len(by_stage)
    f["skew"] = max((max(ts) / max(statistics.median(ts), 1) for ts in by_stage.values()
                     if len(ts) > 1), default=1.0)
    return f


def _progress_for(span: dict, progress: list[dict]) -> list[dict]:
    from datetime import datetime

    out = []
    for p in progress:
        t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        if span["start"] - _TOL <= t <= span["end"] + _TOL:
            out.append(p)
    return out


def fold(events: list[dict], spans: list[dict], progress: list[dict]) -> dict:
    """Per-query layer rows and per-pass layer totals for the measured passes.

    ``spans``: the run's spans (pass / query / build / collect); query spans
    carry the /proc and cache figures in their attrs. ``progress``: streaming
    progress records (``StreamingQueryProgress`` JSON) from the listener.
    Returns ``{"queries": [...], "layers": {...}, "attributed_share": x,
    "job_spans": [...]}``; layer values are means over measured passes.
    """
    jobs = jobs_from_events(events)
    owner = attribute(jobs, spans)
    by_id = {s["id"]: s for s in spans}
    total_job_s = sum(j.seconds for j in jobs)
    attributed_s = sum(j.seconds for j in jobs if j.id in owner)
    job_spans = [{"id": len(spans) + i, "parent": owner.get(j.id), "kind": "job",
                  "name": f"job {j.id}", "start": j.start, "end": j.end,
                  "attrs": {"group": j.group, "streaming": j.streaming}}
                 for i, j in enumerate(jobs)]

    phase_jobs: dict = {}
    for j in jobs:
        if j.id in owner:
            phase_jobs.setdefault(owner[j.id], []).append(j)

    rows = []
    counted = {s["id"] for s in spans if s["kind"] == "pass"
               and s["attrs"].get("measured") and s["attrs"].get("traced", True)}
    for q in (s for s in spans if s["kind"] == "query" and s["parent"] in counted):
        phases = {s["kind"]: s for s in spans if s["parent"] == q["id"]}
        if "collect" not in phases:  # the query raised
            continue
        b, c = phases["build"], phases["collect"]
        bj, cj = phase_jobs.get(b["id"], []), phase_jobs.get(c["id"], [])
        clip = lambda js, sp: [(max(j.start, sp["start"]), min(j.end, sp["end"])) for j in js]  # noqa: E731
        figs = [_job_figures(j) for j in bj + cj]
        tot = {k: sum(f[k] for f in figs) for k in (figs[0] if figs else {})}
        prog = _progress_for(b, progress)
        last_by_run: dict = {}
        for p in prog:
            last_by_run[p["runId"]] = p
        dur = lambda p, k: p.get("durationMs", {}).get(k, 0) / 1e3  # noqa: E731
        row = {
            "pass": by_id[q["parent"]]["attrs"]["index"],
            "query": q["name"],
            "build_s": b["end"] - b["start"],
            "build_jobs": sum(not j.streaming for j in bj),
            "build_job_s": _union(clip([j for j in bj if not j.streaming], b)),
            "build_driver_s": (b["end"] - b["start"]) - _union(clip(bj, b)),
            "stream_job_s": _union(clip([j for j in bj if j.streaming], b)),
            "collect_s": c["end"] - c["start"],
            "collect_job_s": _union(clip(cj, c)),
            "collect_driver_s": (c["end"] - c["start"]) - _union(clip(cj, c)),
            "collect_rows": c["attrs"].get("rows", 0),
            "collect_result_mb": sum(_job_figures(j)["result_mb"] for j in cj),
            "jobs": len(bj) + len(cj),
            "stages": tot.get("stages", 0),
            "tasks": tot.get("tasks", 0),
            "task_s": tot.get("task_s", 0.0),
            "exec_cpu_s": tot.get("cpu_s", 0.0),
            "gc_s": tot.get("gc_s", 0.0),
            "shuffle_read_mb": tot.get("shuffle_read_mb", 0.0),
            "shuffle_write_mb": tot.get("shuffle_write_mb", 0.0),
            "spill_mb": tot.get("spill_mb", 0.0),
            "failed_tasks": tot.get("failed_tasks", 0),
            "stage_skew": max((f["skew"] for f in figs), default=1.0),
            "input_mb": tot.get("input_mb", 0.0),
            "input_rows": tot.get("input_rows", 0),
            "py_run_s": tot.get("py_run_s", 0.0),
            "py_boot_s": tot.get("py_boot_s", 0.0),
            "py_sent_mb": tot.get("py_sent_mb", 0.0),
            "py_recv_mb": tot.get("py_recv_mb", 0.0),
            "batches": len(prog),
            "data_batch_s": sum(dur(p, "triggerExecution") for p in prog if p.get("numInputRows", 0) > 0),
            "nodata_batch_s": sum(dur(p, "triggerExecution") for p in prog if p.get("numInputRows", 0) == 0),
            "query_planning_s": sum(dur(p, "queryPlanning") for p in prog),
            "wal_commit_s": sum(dur(p, "walCommit") for p in prog),
            "state_commit_s": sum(op.get("commitTimeMs", 0) for p in prog
                                  for op in p.get("stateOperators", ())) / 1e3,
            "state_rows_total": sum(op.get("numRowsTotal", 0) for p in last_by_run.values()
                                    for op in p.get("stateOperators", ())),
            "state_mem_mb": sum(op.get("memoryUsedBytes", 0) for p in last_by_run.values()
                                for op in p.get("stateOperators", ())) / _MB,
        }
        row.update(q["attrs"])
        rows.append(row)

    passes = sorted({r["pass"] for r in rows})

    def per_pass(key, agg=sum):
        vals = [agg([r[key] for r in rows if r["pass"] == p]) for p in passes]
        return statistics.fmean(vals) if vals else 0.0

    layers = {
        "sources.input_mb": per_pass("input_mb"),
        "sources.input_rows": per_pass("input_rows"),
        "plans.build_s": per_pass("build_s"),
        "plans.build_jobs": per_pass("build_jobs"),
        "plans.build_job_s": per_pass("build_job_s"),
        "plans.build_driver_s": per_pass("build_driver_s"),
        "exec.jobs": per_pass("jobs"),
        "exec.stages": per_pass("stages"),
        "exec.tasks": per_pass("tasks"),
        "exec.task_s": per_pass("task_s"),
        "exec.cpu_s": per_pass("exec_cpu_s"),
        "exec.gc_s": per_pass("gc_s"),
        "exec.shuffle_read_mb": per_pass("shuffle_read_mb"),
        "exec.shuffle_write_mb": per_pass("shuffle_write_mb"),
        "exec.spill_mb": per_pass("spill_mb"),
        "exec.failed_tasks": per_pass("failed_tasks"),
        "exec.stage_skew": per_pass("stage_skew", max),
        "pyworker.run_s": per_pass("py_run_s"),
        "pyworker.boot_s": per_pass("py_boot_s"),
        "pyworker.sent_mb": per_pass("py_sent_mb"),
        "pyworker.recv_mb": per_pass("py_recv_mb"),
        "pyworker.cpu_s": per_pass("cpu_pyworker_s"),
        "collect.wall_s": per_pass("collect_s"),
        "collect.rows": per_pass("collect_rows"),
        "collect.result_mb": per_pass("collect_result_mb"),
        "collect.driver_s": per_pass("collect_driver_s"),
        "cache.leaked_rdds": per_pass("leaked_rdds"),
        "cache.leaked_mb": per_pass("leaked_mb"),
        "streaming.batches": per_pass("batches"),
        "streaming.data_batch_s": per_pass("data_batch_s"),
        "streaming.nodata_batch_s": per_pass("nodata_batch_s"),
        "streaming.query_planning_s": per_pass("query_planning_s"),
        "streaming.wal_commit_s": per_pass("wal_commit_s"),
        "streaming.state_rows_total": per_pass("state_rows_total"),
        "streaming.state_mem_mb": per_pass("state_mem_mb"),
        "streaming.state_commit_s": per_pass("state_commit_s"),
        "streaming.sink_tables_left": per_pass("sink_tables_left"),
        "proc.jvm_cpu_s": per_pass("cpu_jvm_s"),
        "proc.driver_py_cpu_s": per_pass("cpu_driver_py_s"),
        "proc.jvm_rss_mb": per_pass("rss_jvm_mb", max),
        "proc.pyworker_rss_mb": per_pass("rss_pyworker_mb", max),
    }
    return {
        "queries": rows,
        "layers": layers,
        "attributed_share": attributed_s / total_job_s if total_job_s else 1.0,
        "job_spans": job_spans,
    }
