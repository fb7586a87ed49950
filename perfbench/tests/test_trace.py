"""Tests for the traced-run fold (``perfbench.trace``).

``data/tiny_trace.json`` is one traced pass of three queries on the sf0.01
seed tables: ``p01`` (pivot), ``e228_png_decode`` (Arrow kernel) and
``s04_stream_debounce`` (streaming replay). It holds the event-log events
the fold reads (job start/end and task end, trimmed to the fields used), the
benchmark's spans and the streaming listener's progress records.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import trace  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "tiny_trace.json")


def _fixture() -> dict:
    with open(FIXTURE) as fh:
        return json.load(fh)


def test_every_job_lands_in_exactly_one_phase():
    d = _fixture()
    jobs = trace.jobs_from_events(d["events"])
    owner = trace.attribute(jobs, d["spans"])
    by_id = {s["id"]: s for s in d["spans"]}
    assert jobs and set(owner) == {j.id for j in jobs}
    triples = set()
    for j in jobs:
        span = by_id[owner[j.id]]
        triple = (span["attrs"]["workload"], span["attrs"]["query"], span["kind"])
        triples.add(triple)
        if j.group.startswith("bench:"):
            assert tuple(j.group.split(":")[1:]) == triple
        else:  # a micro-batch job: found by its time window
            assert j.streaming and triple == ("tiny", "s04_stream_debounce", "build")
    queries = {t[1] for t in triples}
    assert queries == {"p01", "e228_png_decode", "s04_stream_debounce"}


def test_fold_layers():
    d = _fixture()
    folded = trace.fold(d["events"], d["spans"], d["progress"])
    layers, rows = folded["layers"], {r["query"]: r for r in folded["queries"]}
    assert folded["attributed_share"] == 1.0
    cleanup_jobs = [j for j in folded["job_spans"] if j["attrs"]["group"].endswith(":cleanup")]
    assert len(folded["job_spans"]) == layers["exec.jobs"] + len(cleanup_jobs)
    assert rows["p01"]["py_run_s"] == 0 and rows["p01"]["batches"] == 0
    assert rows["e228_png_decode"]["py_run_s"] > 0
    assert rows["e228_png_decode"]["py_sent_mb"] > 0
    assert rows["s04_stream_debounce"]["batches"] == len(d["progress"])
    assert rows["s04_stream_debounce"]["stream_job_s"] > 0
    assert rows["s04_stream_debounce"]["sink_tables_left"] == 1
    assert layers["collect.rows"] == sum(
        s["attrs"]["rows"] for s in d["spans"] if s["kind"] == "collect")
    for r in rows.values():
        assert 0 <= r["build_job_s"] <= r["build_s"]
        assert r["build_driver_s"] >= 0 and r["collect_driver_s"] >= 0
    assert set(layers) | {"session.start_s", "trace.overhead_ratio",
                          "trace.attributed_share"} == set(trace.UNITS)


def test_workload_sanity_checks():
    d = _fixture()
    layers = trace.fold(d["events"], d["spans"], d["progress"])["layers"]
    # the fixture mixes all three kinds, so each check sees its layer active
    assert WORKLOADS["pivot_sf1"].check(layers)  # Python workers and batches ran
    assert WORKLOADS["curation_sf01"].check(layers) == []
    assert WORKLOADS["stream_replay"].check(layers) == []
    idle = dict(layers, **{"pyworker.run_s": 0.0, "streaming.batches": 0.0,
                           "plans.build_jobs": 0.0})
    assert WORKLOADS["pivot_sf1"].check(idle) == []
    assert WORKLOADS["curation_sf01"].check(idle)
    assert WORKLOADS["stream_replay"].check(idle)


def test_union_merges_overlaps():
    assert trace._union([]) == 0.0
    assert trace._union([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == 3.0
