"""Streaming dedup tests: file-backed streams drained to memory sinks."""

import ast
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from pivot_spark.streaming.dedup_stream import dedup_stream, first_seen_stream


@pytest.fixture(scope="module")
def dup_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dup") / "events")
    rows = [(1, "click", 10), (1, "click", 11), (2, "view", 12), (2, "click", 13), (1, "click", 14)]
    spark.createDataFrame(rows, "user_id int, event_type string, ts_s int").write.mode(
        "overwrite"
    ).parquet(d)
    return d


def _drain(stream_df, name, mode="append"):
    q = stream_df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()


def test_dedup_stream(spark, dup_dir):
    src = spark.readStream.schema("user_id int, event_type string, ts_s int").parquet(dup_dir)
    _drain(dedup_stream(src, ["user_id", "event_type"]), "dd_out")
    rows = spark.sql("SELECT user_id, event_type FROM dd_out").collect()
    assert {(r[0], r[1]) for r in rows} == {(1, "click"), (2, "view"), (2, "click")}
    assert len(rows) == 3


def test_dedup_stream_watermarked(spark, dup_dir):
    src = (
        spark.readStream.schema("user_id int, event_type string, ts_s int")
        .parquet(dup_dir)
        .withColumn("ts", F.timestamp_seconds(F.col("ts_s")))
    )
    out = dedup_stream(src, ["user_id", "event_type"], event_time="ts", watermark="10 seconds")
    _drain(out, "ddw_out")
    assert spark.sql("SELECT count(*) FROM ddw_out").collect()[0][0] == 3


def test_first_seen_stream(spark, dup_dir):
    src = (
        spark.readStream.schema("user_id int, event_type string, ts_s int")
        .parquet(dup_dir)
        .withColumn("ts", F.timestamp_seconds(F.col("ts_s")))
    )
    out = first_seen_stream(
        src, ["user_id", "event_type"], event_time="ts", watermark="10 seconds"
    )
    _drain(out, "fs_out")
    rows = spark.sql("SELECT user_id, event_type FROM fs_out").collect()
    assert {(r[0], r[1]) for r in rows} == {(1, "click"), (2, "view"), (2, "click")}
    assert len(rows) == 3


def test_first_seen_stream_emits_earliest_in_batch(spark, tmp_path):
    # one file -> one micro-batch whose rows are out of event-time order
    d = str(tmp_path / "events")
    B = 1_000_000_000
    rows = [(1, B + 20, "late"), (2, B + 7, "two"), (1, B + 5, "early"), (1, B + 9, "mid")]
    spark.createDataFrame(rows, "user_id int, ts_s int, tag string").coalesce(1).write.parquet(d)
    src = (
        spark.readStream.schema("user_id int, ts_s int, tag string")
        .parquet(d)
        .withColumn("ts", F.timestamp_seconds(F.col("ts_s")))
    )
    _drain(first_seen_stream(src, ["user_id"], "ts", watermark="10 seconds"), "fs_order")
    got = {(r[0], r[1]) for r in spark.sql("SELECT user_id, tag FROM fs_order").collect()}
    assert got == {(1, "early"), (2, "two")}


def test_first_seen_stream_reemits_after_ttl(spark, tmp_path):
    d = str(tmp_path / "events")
    B = 1_000_000_000
    schema = "user_id int, ts_s int"
    spark.createDataFrame([(1, B)], schema).coalesce(1).write.parquet(d)
    src = (
        spark.readStream.schema(schema)
        .parquet(d)
        .withColumn("ts", F.timestamp_seconds(F.col("ts_s")))
    )
    out = first_seen_stream(src, ["user_id"], "ts", watermark="10 seconds", ttl_minutes=1)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("fs_ttl")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    # key 2 moves the watermark to B + 190, past key 1's timeout B + 60:
    # the no-data batch that follows expires key 1
    spark.createDataFrame([(2, B + 200)], schema).coalesce(1).write.mode("append").parquet(d)
    q.processAllAvailable()
    # key 1 again, on time for the watermark: a fresh first
    spark.createDataFrame([(1, B + 195)], schema).coalesce(1).write.mode("append").parquet(d)
    q.processAllAvailable()
    q.stop()
    got = sorted(tuple(r) for r in spark.sql("SELECT user_id, ts_s FROM fs_ttl").collect())
    assert got == [(1, B), (1, B + 195), (2, B + 200)]


def test_group_state_only_in_fold_module():
    """Every Python-stateful streaming operator folds through
    ``streaming._fold.keyed_fold``: no other module calls
    ``applyInPandasWithState`` or names ``GroupStateTimeout``."""
    pkg = Path(__file__).resolve().parent.parent / "pivot_spark"
    names = {"applyInPandasWithState", "GroupStateTimeout"}
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path.relative_to(pkg).as_posix() == "streaming/_fold.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            name = (
                getattr(node, "attr", None)
                or getattr(node, "id", None)
                or (node.name if isinstance(node, ast.alias) else None)
            )
            if name in names:
                offenders.append(f"{path.relative_to(pkg.parent)}:{getattr(node, 'lineno', '?')}")
    assert offenders == []


def test_rejects_batch(spark):
    df = spark.range(3).withColumn("ts", F.current_timestamp())
    with pytest.raises(ValueError, match="streaming"):
        dedup_stream(df, ["id"])
    with pytest.raises(ValueError, match="streaming"):
        first_seen_stream(df, ["id"], event_time="ts")


def test_debounce_stream(spark, tmp_path_factory):
    from pivot_spark.streaming.dedup_stream import debounce_stream

    d = str(tmp_path_factory.mktemp("db") / "events")
    # key 1, gap 10: 0 kept; 5 dropped (<10 after 0); 10 kept; 21 kept.
    # key 2: single event kept.
    # offset from epoch 0: the initial streaming watermark is epoch 0
    # and rows at/behind the watermark are dropped as late
    B = 1_000_000_000
    rows = [(1, B + 0), (1, B + 5), (1, B + 10), (1, B + 21), (2, B + 3)]
    # one file -> one micro-batch (multi-file discovery order is arrival
    # order, which the operator treats as the stream order by contract)
    spark.createDataFrame(rows, "user_id int, ts_s int").coalesce(1).write.mode("overwrite").parquet(d)
    src = (
        spark.readStream.schema("user_id int, ts_s int")
        .parquet(d)
        .withColumn("ts", F.timestamp_seconds(F.col("ts_s")))
    )
    out = debounce_stream(src, ["user_id"], "ts", min_gap_seconds=10)
    _drain(out, "deb_out")
    got = {
        (r[0], r[1])
        for r in spark.sql("SELECT user_id, ts_s FROM deb_out").collect()
    }
    assert got == {(1, B + 0), (1, B + 10), (1, B + 21), (2, B + 3)}


def test_debounce_stream_state_carries_across_batches(spark, tmp_path_factory):
    from pivot_spark.streaming.dedup_stream import debounce_stream

    base = tmp_path_factory.mktemp("db2")
    d = str(base / "events")
    B = 1_000_000_000
    spark.createDataFrame([(1, B), (1, B + 5)], "user_id int, ts_s int").coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    src = (
        spark.readStream.schema("user_id int, ts_s int")
        .parquet(d)
        .withColumn("ts", F.timestamp_seconds(F.col("ts_s")))
    )
    out = debounce_stream(src, ["user_id"], "ts", min_gap_seconds=10)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("deb2_out")
        .option("checkpointLocation", str(base / "ck"))
        .start()
    )
    q.processAllAvailable()
    # second batch: ts 9 (< 10 after kept 0 -> drop), ts 12 (keep)
    spark.createDataFrame([(1, B + 9), (1, B + 12)], "user_id int, ts_s int").coalesce(1).write.mode(
        "append"
    ).parquet(d)
    q.processAllAvailable()
    q.stop()
    got = sorted(r[0] for r in spark.sql("SELECT ts_s FROM deb2_out").collect())
    assert got == [B, B + 12]
