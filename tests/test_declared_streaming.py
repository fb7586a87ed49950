"""Smoke tests for the s01-s06 streaming replay queries at sf0.001:
pin the glob/NTZ/drain plumbing and the emission-filter determinism
(two drains of the same stream produce identical results)."""

import os

import pytest

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.exists(os.path.join(SF, "events.parquet")),
    reason="driver testdata not present",
)


def _q(name):
    from pivot_spark.plans.declared import QUERIES

    return QUERIES[name]


def test_s01_pivot_matches_batch_counts(spark):
    rows = _q("s01_stream_pivot")(spark, SF).collect()
    assert len(rows) == 30  # 30 days
    total = sum(
        r[c] for r in rows for c in r.asDict()
        if c.endswith("_n") and r[c] is not None
    )
    from pivot_spark.sources.catalog import load_table

    assert total == load_table(spark, SF, "events").count()


def test_s02_dedup_is_distinct_keys(spark):
    from pivot_spark.sources.catalog import load_table

    rows = _q("s02_stream_dedup")(spark, SF).collect()
    want = load_table(spark, SF, "events").select("user_id", "event_type").distinct().count()
    assert len(rows) == want
    assert len({(r.user_id, r.event_type) for r in rows}) == len(rows)


def test_s03_session_deterministic_across_drains(spark):
    a = {tuple(r) for r in _q("s03_stream_session")(spark, SF).collect()}
    b = {tuple(r) for r in _q("s03_stream_session")(spark, SF).collect()}
    assert a and a == b


def test_s04_debounce_within_gap_never_kept(spark):
    rows = _q("s04_stream_debounce")(spark, SF).collect()
    assert rows
    by_key = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.event_type, r.ts_s)):
        k = (r.user_id, r.event_type)
        if k in by_key:
            assert r.ts_s - by_key[k] >= 600
        by_key[k] = r.ts_s


def test_s05_interval_join_bounds(spark):
    rows = _q("s05_stream_interval_join")(spark, SF).collect()
    for r in rows:
        delta = (r.purchase_ts - r.view_ts).total_seconds()
        assert 0 < delta <= 7200


def test_s06_topk_ranks(spark):
    rows = _q("s06_stream_topk")(spark, SF).collect()
    assert rows
    by_win = {}
    for r in rows:
        by_win.setdefault(r.window_start, []).append(r)
    for win, rs in by_win.items():
        ranks = sorted(x.rank for x in rs)
        assert ranks == list(range(1, len(rs) + 1))
        # counts non-increasing by rank
        ordered = sorted(rs, key=lambda x: x.rank)
        assert all(
            ordered[i].est_count >= ordered[i + 1].est_count
            for i in range(len(ordered) - 1)
        )


def test_s11_outer_join_nulls_only_when_closed(spark):
    rows = _q("s11_stream_interval_join_outer")(spark, SF).collect()
    assert rows
    matched = [r for r in rows if r.purchase_ts is not None]
    unmatched = [r for r in rows if r.purchase_ts is None]
    assert matched and unmatched
    for r in matched:
        delta = (r.purchase_ts - r.view_ts).total_seconds()
        assert 0 < delta <= 7200


def test_s12_window_distinct_bounds(spark):
    rows = _q("s12_stream_window_distinct")(spark, SF).collect()
    assert rows  # finalized days only (last partial day absent)
    from pivot_spark.sources.catalog import load_table

    n_users = load_table(spark, SF, "events").select("user_id").distinct().count()
    assert all(0 < r.n_users <= n_users for r in rows)
    assert len({r.window_start for r in rows}) == len(rows)


def test_s08_quantile_all_in_band(spark):
    rows = _q("s08_stream_quantile")(spark, SF).collect()
    assert rows and all(r.in_band for r in rows)
    from pivot_spark.sources.catalog import load_table

    assert sum(r.n for r in rows) == load_table(spark, SF, "events").count()


def test_scope_drops_replay_sinks(spark):
    from pivot_spark.operators._fence import fence_scope

    def sinks():
        return {t.name for t in spark.catalog.listTables() if t.name.startswith("stream_replay_")}

    before = sinks()
    with fence_scope():
        for name in ("s02_stream_dedup", "s04_stream_debounce", "s06_stream_topk"):
            assert _q(name)(spark, SF).collect()
        assert len(sinks() - before) == 3
    assert sinks() == set()


def test_shuffle_ctx_restores_conf(spark):
    from pivot_spark.plans.declared_streaming import _shuffle

    old = spark.conf.get("spark.sql.shuffle.partitions")
    with _shuffle(spark, 2):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
    assert spark.conf.get("spark.sql.shuffle.partitions") == old
    with pytest.raises(RuntimeError):
        with _shuffle(spark, 2):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == old
