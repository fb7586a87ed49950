"""bench.py's bookkeeping over perfbench runner output, without Spark."""

import bench


def _row(q, wall):
    return {"query": q, "wall_s": wall, "cpu_s": 0.0, "rss_mb": 0.0}


def test_medians_over_reps_leave_failed_out():
    passes = [
        [_row("a", 1.0), _row("b", 5.0), _row("bad", 0.1)],
        [_row("b", 4.0), _row("a", 3.0), _row("bad", 0.2)],
        [_row("a", 2.0), _row("b", 9.0), _row("bad", 0.3)],
    ]
    assert bench.medians(passes, {"bad"}) == {"a": 2.0, "b": 5.0}


def test_rows_from_spans_take_phase_seconds_and_attrs():
    spans, sid = [], 0
    for build, collect, leaked in ((0.2, 1.0, 0), (0.4, 3.0, 2), (0.3, 2.0, 0)):
        q = {"id": sid, "parent": None, "kind": "query", "name": "a", "start": 0.0,
             "end": 9.0, "attrs": {"workload": "bench", "wall_s": build + collect,
                                   "cpu_jvm_s": 1.5, "leaked_rdds": leaked}}
        b = {"id": sid + 1, "parent": sid, "kind": "build", "name": "a",
             "start": 10.0, "end": 10.0 + build, "attrs": {}}
        c = {"id": sid + 2, "parent": sid, "kind": "collect", "name": "a",
             "start": 20.0, "end": 20.0 + collect, "attrs": {"rows": 7}}
        spans += [q, b, c]
        sid += 3
    assert bench.rows_from_spans(spans) == {"a": {
        "build_s": 0.3, "collect_s": 2.0, "cpu_jvm_s": 1.5, "leaked_rdds": 0,
        "wall_s": 2.3}}


def test_summary_contract_and_failed():
    out = bench.summary([[_row("a", 1.0), _row("b", 2.0)]], {}, {"c"}, 0.1,
                        "BENCH_FULL.json")
    assert {"metric", "value", "unit", "queries", "sf", "n_queries", "full",
            "failed"} <= set(out)
    assert out["value"] == 3.0
    assert out["n_queries"] == 2
    assert out["failed"] == ["c"]
    assert "c" not in out["queries"]
    assert out["full"] == "BENCH_FULL.json"


def test_inline_cap_orders_regressed_improved_slowest():
    timings = {f"q{i:02}": 1.0 + i / 100 for i in range(60)}
    baseline = dict(timings)
    timings["fast"], baseline["fast"] = 0.5, 2.0     # improved 4x
    timings["slow"], baseline["slow"] = 4.0, 1.0     # regressed 4x
    timings["slower"], baseline["slower"] = 9.0, 1.0  # regressed 9x
    timings["noise"], baseline["noise"] = 0.3, 0.1   # 3x but only +0.2 s
    out = bench.summary([[_row(q, t) for q, t in timings.items()]], baseline, set(),
                        0.1, None)
    inline = list(out["queries"])
    assert len(inline) == bench.MAX_INLINE_QUERIES
    assert inline[:3] == ["slower", "slow", "fast"]
    assert inline[3:] == sorted(
        (q for q in timings if q not in inline[:3]), key=lambda q: -timings[q]
    )[:bench.MAX_INLINE_QUERIES - 3]
    assert "noise" not in inline
    assert (out["n_regressed_1p5x"], out["n_improved_1p3x"]) == (2, 1)


def test_flags_need_every_pass_past_the_line():
    baseline = {"straddle_fast": 2.0, "straddle_slow": 1.0, "fast": 2.0, "slow": 1.0}
    walls = {"straddle_fast": (1.2, 1.3, 1.9), "straddle_slow": (2.0, 2.1, 1.2),
             "fast": (1.2, 1.3, 1.4), "slow": (2.0, 2.1, 1.6)}
    passes = [[_row(q, w[i]) for q, w in walls.items()] for i in range(3)]
    out = bench.summary(passes, baseline, set(), 0.1, None)
    # the straddlers' medians are past 1/1.3x and 1.5x, one pass of each is not
    assert (out["n_regressed_1p5x"], out["n_improved_1p3x"]) == (1, 1)
    assert list(out["queries"])[:2] == ["slow", "fast"]
