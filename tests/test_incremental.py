"""Trigger.AvailableNow incremental ETL: each run processes only files
that arrived since the previous run (checkpointed file-source log),
unlike the reference's full recompute per refresh."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from etl_upc_syllabus_spark.streaming.incremental import incremental_run

SCHEMA = StructType(
    [StructField("id", LongType()), StructField("v", DoubleType())]
)


def _write_batch(spark, path: str, start: int, n: int) -> None:
    spark.createDataFrame([(i, float(i)) for i in range(start, start + n)], SCHEMA).write.mode(
        "append"
    ).parquet(path)


def test_incremental_processes_only_new_files(spark, tmp_path):
    src = os.path.join(str(tmp_path), "src")
    sink = os.path.join(str(tmp_path), "sink")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    double_v = lambda df: df.withColumn("v2", F.col("v") * 2)

    _write_batch(spark, src, 0, 100)
    n1 = incremental_run(spark, src, sink, ckpt, SCHEMA, double_v)
    assert n1 == 100
    assert spark.read.parquet(sink).count() == 100

    _write_batch(spark, src, 100, 50)
    n2 = incremental_run(spark, src, sink, ckpt, SCHEMA, double_v)
    assert n2 == 50  # only the new file, not a recompute
    out = spark.read.parquet(sink)
    assert out.count() == 150
    assert out.agg(F.max("id")).collect()[0][0] == 149
    assert out.filter(F.col("v2") != F.col("v") * 2).count() == 0

    # nothing new -> a run is a no-op, sink unchanged
    n3 = incremental_run(spark, src, sink, ckpt, SCHEMA, double_v)
    assert n3 == 0
    assert spark.read.parquet(sink).count() == 150


def test_streaming_cdc_upsert_cross_batch_retraction(spark, tmp_path):
    """Two micro-batches: batch 2 deletes a key emitted live in batch 1
    and offers a STALE lower-seq update for another -- the compacted
    read must retract the former and ignore the latter."""
    import os

    from etl_upc_syllabus_spark.operators.scd import cdc_apply
    from etl_upc_syllabus_spark.streaming.events import run_stream_to_table
    from etl_upc_syllabus_spark.streaming.stateful import streaming_cdc_upserts

    d = str(tmp_path / "cdclog")
    schema = "k long, seq long, op string, value double, event_type string"
    b1 = spark.createDataFrame(
        [(1, 1, "U", 10.0, "a"), (2, 2, "U", 5.0, "b")], schema
    )
    b2 = spark.createDataFrame(
        [(2, 3, "D", 0.0, "b"), (1, 0, "U", 99.0, "stale")], schema
    )
    b1.coalesce(1).write.parquet(d)
    b2.coalesce(1).write.mode("append").parquet(d)
    files = sorted(
        (f for f in os.listdir(d) if f.endswith(".parquet")),
        key=lambda f: os.path.getmtime(os.path.join(d, f)),
    )
    # force deterministic batch order by mtime
    for i, f in enumerate(files):
        os.utime(os.path.join(d, f), (1000 + i, 1000 + i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    # the drain overrides this key; unset before, it must be unset after
    spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
    conf_before = dict(spark.conf.getAll)
    emissions = run_stream_to_table(streaming_cdc_upserts(stream), "update")
    assert dict(spark.conf.getAll) == conf_before
    # the raw emission log must contain key 2's live version AND its
    # tombstone (two batches), proving the state crossed batches
    em = [(r["k"], r["seq"], r["op"]) for r in emissions.collect()]
    assert (2, 2, "U") in em and (2, 3, "D") in em
    out = {r["k"]: r for r in cdc_apply(emissions, key="k", seq="seq").collect()}
    assert set(out) == {1}
    assert out[1]["seq"] == 1 and out[1]["value"] == 10.0  # stale seq 0 ignored


def test_stateful_restart_recovers_state(spark, tmp_path):
    """State-store recovery across restart -- the exactly-once property
    a deployed stateful pipeline lives on. Run 1 drains file A and
    checkpoints per-user (n, cents) state; run 2 (a fresh query
    instance on the same checkpoint, as after process death) must
    process ONLY file B yet emit totals over A+B -- state recovered,
    nothing reprocessed, nothing dropped. The compacted emission log
    must equal the batch groupBy over all files (the oracle)."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from etl_upc_syllabus_spark.streaming.stateful import run_stateful_increment

    schema = StructType(
        [StructField("user_id", LongType()), StructField("value", DoubleType())]
    )
    src = os.path.join(str(tmp_path), "src")
    sink = os.path.join(str(tmp_path), "sink")
    ckpt = os.path.join(str(tmp_path), "ckpt")

    # file A: users 1-5, three events each; file B: users 3-8, two each
    rows_a = [(u, round(u + 0.25 * j, 2)) for u in range(1, 6) for j in range(3)]
    rows_b = [(u, round(10.0 * u + 0.5 * j, 2)) for u in range(3, 9) for j in range(2)]
    spark.createDataFrame(rows_a, schema).coalesce(1).write.mode("append").parquet(src)
    n1 = run_stateful_increment(spark, src, sink, ckpt, schema)
    assert n1 == len(rows_a)

    spark.createDataFrame(rows_b, schema).coalesce(1).write.mode("append").parquet(src)
    n2 = run_stateful_increment(spark, src, sink, ckpt, schema)
    assert n2 == len(rows_b)  # file A never reprocessed

    # compact the emission log: totals are monotone, take the max
    out = (
        spark.read.parquet(sink)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_cents").alias("total_cents"),
        )
    )
    batch = (
        spark.read.parquet(src)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
        )
    )
    got = {r["user_id"]: (r["n_events"], r["total_cents"]) for r in out.collect()}
    want = {r["user_id"]: (r["n_events"], r["total_cents"]) for r in batch.collect()}
    assert got == want, (got, want)
    # and users 3-5 specifically prove CROSS-RESTART accumulation
    for u in (3, 4, 5):
        assert got[u][0] == 5, got[u]


def test_windowed_watermark_restart(spark, tmp_path):
    """Watermark + window state must survive a checkpoint restart.

    Three AvailableNow drains of a watermarked tumbling-window count
    (append mode, parquet sink) on one checkpoint: run 1 file A, run 2
    file B (later hour) carrying one LATE row under run 1's watermark,
    run 3 a far-future flush row. Exactly-once: the union of emissions
    equals the batch windows over A+B-minus-the-late-row -- proving
    (a) windows held in state at shutdown emit after restart, (b) the
    recovered watermark DROPS the late row (a reset watermark would
    count it), (c) nothing double-emits."""
    import datetime as dt

    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from etl_upc_syllabus_spark.streaming.events import windowed_counts

    schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    src = os.path.join(str(tmp_path), "src")
    sink = os.path.join(str(tmp_path), "sink")
    ckpt = os.path.join(str(tmp_path), "ckpt")

    def t(h, m, s=0):
        return dt.datetime(2024, 3, 1, h, m, s)

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            windowed_counts(stream, width="10 minutes", watermark="10 seconds")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    rows_a = [
        (t(10, 1), "view", 1.0),
        (t(10, 2), "view", 2.0),
        (t(10, 11), "click", 3.0),
        (t(10, 21), "view", 4.0),
    ]
    spark.createDataFrame(rows_a, schema).coalesce(1).write.mode("append").parquet(src)
    drain()

    late = (t(10, 3), "view", 100.0)  # under run 1's watermark: must drop
    rows_b = [(t(11, 1), "click", 5.0), (t(11, 12), "view", 6.0), late]
    spark.createDataFrame(rows_b, schema).coalesce(1).write.mode("append").parquet(src)
    drain()

    flush = [(t(23, 59), "flush", 0.0)]
    spark.createDataFrame(flush, schema).coalesce(1).write.mode("append").parquet(src)
    drain()

    got = (
        spark.read.parquet(sink)
        .filter(F.col("event_type") != "flush")
        .orderBy("window_start", "event_type")
        .collect()
    )
    want = (
        windowed_counts(
            spark.createDataFrame(rows_a + rows_b[:2], schema),
            width="10 minutes",
            watermark=None,
        )
        .orderBy("window_start", "event_type")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want], (got, want)
    # the late row really was dropped, not merged into 10:00's window
    w10 = [r for r in got if r["window_start"] == "2024-03-01 10:00:00"][0]
    assert (w10["n"], w10["total_value"]) == (2, 3.0)


# --- ephemeral_dir: the tmpfs free-space guard (r17, VERDICT r16 #7) --------


def test_ephemeral_dir_env_override_wins(tmp_path, monkeypatch):
    from etl_upc_syllabus_spark.streaming import events as ev

    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT_DIR", str(tmp_path))
    d = ev.ephemeral_dir("etl_upc_test_")
    try:
        assert os.path.dirname(d) == str(tmp_path)
    finally:
        os.rmdir(d)


def test_ephemeral_dir_falls_back_when_tmpfs_full(tmp_path, monkeypatch):
    """A nearly-full /dev/shm must NOT be chosen: a larger-SF drain
    writing state deltas into a small tmpfs would ENOSPC where the
    system temp dir would cope."""
    import tempfile

    from etl_upc_syllabus_spark.streaming import events as ev

    monkeypatch.delenv("SPARK_GRAFT_STREAM_CKPT_DIR", raising=False)

    class FullFS:
        f_bavail = 16
        f_frsize = 4096  # 64 KiB free: far under the 2 GiB bound

    monkeypatch.setattr(os, "statvfs", lambda p: FullFS())
    d = ev.ephemeral_dir("etl_upc_test_")
    try:
        assert os.path.dirname(d) == tempfile.gettempdir()
        assert not d.startswith("/dev/shm")
    finally:
        os.rmdir(d)


def test_ephemeral_dir_prefers_tmpfs_with_headroom(monkeypatch):
    from etl_upc_syllabus_spark.streaming import events as ev

    if not os.path.isdir("/dev/shm"):
        import pytest

        pytest.skip("host has no /dev/shm")
    monkeypatch.delenv("SPARK_GRAFT_STREAM_CKPT_DIR", raising=False)

    class RoomyFS:
        f_bavail = 1 << 30
        f_frsize = 4096

    monkeypatch.setattr(os, "statvfs", lambda p: RoomyFS())
    d = ev.ephemeral_dir("etl_upc_test_")
    try:
        assert d.startswith("/dev/shm")
    finally:
        os.rmdir(d)
