"""Environment-drift guards for the events fixture.

Round 3 lost 12 queries to a silent fixture regeneration that switched
``ts`` from TIMESTAMP(NANOS) to plain TIMESTAMP_MICROS while the loader
hardwired the nanos workaround. These tests pin the contract from both
ends so the NEXT physical-type drift fails in seconds with a named
cause:

- the on-disk fixtures (whatever type they currently use) must load to
  TimestampType with sane in-range values, and the footer probe must
  classify them;
- BOTH physical types, synthesized side by side, must load and stream
  to identical logical rows.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_upc_syllabus_spark.sources.tables import load_table
from etl_upc_syllabus_spark.streaming import events as ev

SF_DIRS = [d for d in ("sf0.001", "sf0.01", "sf0.1") if os.path.isdir(f"/root/testdata/{d}")]

# identical logical rows; epoch micros in 2024
_ROWS = {
    "event_id": [1, 2, 3, 4],
    "ts_us": [1704067200_000000, 1704067260_500000, 1704070800_000000, 1704153600_000000],
    "user_id": [10, 10, 11, 12],
    "event_type": ["view", "purchase", "view", "view"],
    "value": [1.0, 9.99, 2.5, 0.25],
    "props": ['{"a":1}', None, "{}", None],
}


def _write_fixture(dirpath: str, kind: str) -> str:
    os.makedirs(dirpath, exist_ok=True)
    ts = (
        pa.array([u * 1000 for u in _ROWS["ts_us"]], pa.timestamp("ns"))
        if kind == "nanos"
        else pa.array(_ROWS["ts_us"], pa.timestamp("us"))
    )
    table = pa.table(
        {
            "event_id": pa.array(_ROWS["event_id"], pa.int64()),
            "ts": ts,
            "user_id": pa.array(_ROWS["user_id"], pa.int64()),
            "event_type": pa.array(_ROWS["event_type"], pa.string()),
            "value": pa.array(_ROWS["value"], pa.float64()),
            "props": pa.array(_ROWS["props"], pa.string()),
        }
    )
    path = os.path.join(dirpath, "events.parquet")
    pq.write_table(table, path)  # parquet 2.6 default keeps NANOS as NANOS
    return path


@pytest.mark.parametrize("sf", SF_DIRS)
def test_fixture_ts_loads_as_timestamp(spark, sf):
    """The on-disk fixture, whatever its physical type, must load to a
    timestamp ts with values in a sane range -- a regenerated fixture
    that breaks ingestion fails here with a named cause."""
    sf_dir = f"/root/testdata/{sf}"
    kind = ev.events_ts_kind(os.path.join(sf_dir, "events.parquet"))
    assert kind in ("nanos", "micros", "micros_tz")
    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType), df.schema["ts"]
    years = df.select(
        F.year(F.min("ts")).alias("lo"), F.year(F.max("ts")).alias("hi")
    ).collect()[0]
    # 1970 = int64 micros/nanos misread; 2100+ = unit inflation
    assert 2000 < years["lo"] <= years["hi"] < 2100, dict(years.asDict())


@pytest.mark.parametrize("kind", ["nanos", "micros"])
def test_both_physical_types_batch_load_identically(spark, tmp_path, kind):
    d = str(tmp_path / kind)
    path = _write_fixture(d, kind)
    assert ev.events_ts_kind(path) == kind
    df = load_table(spark, d, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    got = [r["us"] for r in df.select(F.unix_micros("ts").alias("us")).orderBy("us").collect()]
    assert got == sorted(_ROWS["ts_us"])


def test_micros_load_leaves_conf_unchanged(spark, tmp_path):
    """Only a TIMESTAMP(NANOS) table needs the legacy nanos-as-long
    conf; loading a micros table (every on-disk fixture so far) must
    leave the session conf as it found it."""
    d = str(tmp_path / "micros")
    _write_fixture(d, "micros")
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    before = dict(spark.conf.getAll)
    df = load_table(spark, d, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert dict(spark.conf.getAll) == before


@pytest.mark.parametrize("kind", ["nanos", "micros"])
def test_both_physical_types_stream_identically(spark, tmp_path, kind):
    """The stream reader must probe the footer and produce the same
    logical rows for either physical type (the r3 silent-wrongness was
    exactly this path: micros read as raw int64 -> 1970 windows)."""
    d = str(tmp_path / kind)
    _write_fixture(d, kind)
    stream = ev.read_events_stream(spark, d)
    out = ev.run_stream_to_table(
        stream.select(F.unix_micros("ts").alias("us"), "event_id"), "append"
    )
    got = [r["us"] for r in out.orderBy("us").collect()]
    assert got == sorted(_ROWS["ts_us"])


def test_int96_fixture_probes_and_streams(spark, tmp_path):
    """Legacy INT96 timestamps (the historic Spark writer default)
    surface as timestamp[ns] in Arrow schemas -- indistinguishable from
    TIMESTAMP(NANOS) without a physical-type probe, and reading them
    under the nanos-as-long schema crashes the vectorized reader. The
    probe must classify INT96 by PHYSICAL type and stream it natively
    (found by the r8 nulls sweep when a Spark-written fixture used the
    INT96 default)."""
    d = str(tmp_path / "int96")
    os.makedirs(d)
    table = pa.table(
        {
            "event_id": pa.array(_ROWS["event_id"], pa.int64()),
            "ts": pa.array(
                [u * 1000 for u in _ROWS["ts_us"]], pa.timestamp("ns", tz="UTC")
            ),
            "user_id": pa.array(_ROWS["user_id"], pa.int64()),
            "event_type": pa.array(_ROWS["event_type"], pa.string()),
            "value": pa.array(_ROWS["value"], pa.float64()),
            "props": pa.array(_ROWS["props"], pa.string()),
        }
    )
    path = os.path.join(d, "events.parquet")
    pq.write_table(table, path, use_deprecated_int96_timestamps=True)
    assert ev.events_ts_kind(path) == "micros_tz"
    out = ev.run_stream_to_table(
        ev.read_events_stream(spark, d).select(F.unix_micros("ts").alias("us")),
        "append",
    )
    assert [r["us"] for r in out.orderBy("us").collect()] == sorted(_ROWS["ts_us"])


def test_engine_writes_modern_timestamp_type(spark, tmp_path):
    """The engine's own parquet writes must emit TIMESTAMP_MICROS, not
    the deprecated INT96 default (session.py pins outputTimestampType),
    so everything this engine writes round-trips through its own
    footer probe."""
    out = str(tmp_path / "roundtrip")
    df = spark.createDataFrame([(1,)], "event_id long").withColumn(
        "ts", F.timestamp_micros(F.lit(1704067200_000000))
    )
    df.write.parquet(out)
    part = [f for f in os.listdir(out) if f.endswith(".parquet")][0]
    col = pq.ParquetFile(os.path.join(out, part)).schema.column(1)
    assert col.physical_type == "INT64", col


def _write_directory_fixture(dirpath: str, n_parts: int) -> None:
    """The rows of _write_fixture as a Spark-style table DIRECTORY:
    ``events.parquet/`` holding ``n_parts`` part files + _SUCCESS.

    Rows are STRIPED across parts (part p takes rows p, p+n, ...), so
    every part spans the full time range -- the adversarial layout a
    repartitioned table has. Under the old 2-files-per-micro-batch
    drain this made later batches carry events older than the
    advanced watermark, silently dropping them as late; the
    single-data-batch drain must be insensitive to row placement."""
    table_dir = os.path.join(dirpath, "events.parquet")
    os.makedirs(table_dir, exist_ok=True)
    for p in range(n_parts):
        sel = slice(p, None, n_parts)
        table = pa.table(
            {
                "event_id": pa.array(_ROWS["event_id"][sel], pa.int64()),
                "ts": pa.array(_ROWS["ts_us"][sel], pa.timestamp("us")),
                "user_id": pa.array(_ROWS["user_id"][sel], pa.int64()),
                "event_type": pa.array(_ROWS["event_type"][sel], pa.string()),
                "value": pa.array(_ROWS["value"][sel], pa.float64()),
                "props": pa.array(_ROWS["props"][sel], pa.string()),
            }
        )
        pq.write_table(table, os.path.join(table_dir, f"part-{p:05d}.parquet"))
    with open(os.path.join(table_dir, "_SUCCESS"), "w") as f:
        f.write("")


@pytest.mark.parametrize("n_parts", [2, 3])
def test_directory_layout_streams_identically(spark, tmp_path, n_parts):
    """A 100 TB events table is never one file: the directory layout
    (``events.parquet/`` of part files, the only layout Spark writers
    produce) must probe, stream, and watermark-flush to the same
    results as the single-file fixture, for even AND odd part counts
    (all data files drain in ONE micro-batch ahead of the sentinels,
    so no row can go watermark-late regardless of how events are
    distributed across parts -- r8 directory-layout support in
    streaming/events.py)."""
    single = str(tmp_path / "single")
    _write_fixture(single, "micros")
    asdir = str(tmp_path / f"asdir{n_parts}")
    _write_directory_fixture(asdir, n_parts)

    table_dir = os.path.join(asdir, "events.parquet")
    assert ev.events_ts_kind(table_dir) == "micros"
    assert len(ev._data_files(table_dir)) == n_parts  # _SUCCESS skipped

    # plain stream: same logical rows from either layout
    out = ev.run_stream_to_table(
        ev.read_events_stream(spark, asdir).select(
            F.unix_micros("ts").alias("us"), "event_id"
        ),
        "append",
    )
    assert [r["us"] for r in out.orderBy("us").collect()] == sorted(_ROWS["ts_us"])

    # watermark-flushed windowed aggregation: identical emitted windows
    want = sorted(map(tuple, ev.stream_windowed_counts(spark, single).collect()))
    got = sorted(map(tuple, ev.stream_windowed_counts(spark, asdir).collect()))
    assert got == want and len(got) > 0


def test_bare_int64_ts_is_refused(spark, tmp_path):
    """ADVICE r4: a ts column shipped as PLAIN int64 (no timestamp
    logical type) has an unknowable unit; guessing nanos would load
    micros values 1000x off silently. Both probes must refuse, and so
    must the batch loader."""
    from etl_upc_syllabus_spark.streaming.events import events_ts_kind

    d = tmp_path / "bare"
    os.makedirs(d)
    table = pa.table(
        {
            "event_id": pa.array(_ROWS["event_id"], pa.int64()),
            "ts": pa.array(_ROWS["ts_us"], pa.int64()),  # NO logical type
            "user_id": pa.array(_ROWS["user_id"], pa.int64()),
            "event_type": pa.array(_ROWS["event_type"], pa.string()),
            "value": pa.array(_ROWS["value"], pa.float64()),
            "props": pa.array(_ROWS["props"], pa.string()),
        }
    )
    path = str(d / "events.parquet")
    pq.write_table(table, path)
    with pytest.raises(ValueError, match="logical type"):
        events_ts_kind(path)
    with pytest.raises(ValueError, match="logical type"):
        load_table(spark, str(d), "events")


def test_registry_sorts_broken_latest_first(tmp_path):
    """A name whose newest CORRECTNESS entry is broken must map to
    round 0 (ahead of all stale greens) so the driver's bounded
    re-check window always refreshes regressions first. Runs against
    SYNTHETIC records in tmp_path (ADVICE r4: the earlier version
    gated on the live repo's newest round and silently asserted
    nothing once the next round's record landed)."""
    import json

    from etl_upc_syllabus_spark.plans.registry import _verification_rounds

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "regressed": {"rows_match": True, "schema_match": True, "hash_match": True, "err": None},
                "stable": {"rows_match": True, "schema_match": True, "hash_match": True, "err": None},
                "fixed": {"rows_match": False, "schema_match": False, "hash_match": False, "err": "boom"},
            }
        )
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps(
            {
                "regressed": {"rows_match": True, "schema_match": True, "hash_match": False, "err": None},
                "stable": {"rows_match": True, "schema_match": True, "hash_match": True, "err": None},
                "fixed": {"rows_match": True, "schema_match": True, "hash_match": True, "err": None},
                "errored": {"rows_match": False, "schema_match": False, "hash_match": False, "err": "ts"},
            }
        )
    )
    rounds = _verification_rounds(root=str(tmp_path))
    # broken-latest wins over an older green: demoted to round 0
    assert rounds["regressed"] == 0
    # green-latest wins over an older failure: promoted to its round
    assert rounds["fixed"] == 2
    assert rounds["stable"] == 2
    assert rounds["errored"] == 0
    # the files are the only source of verdicts
    assert set(rounds) == {"regressed", "stable", "fixed", "errored"}
    # round-0 names sort ahead of all verified names in the re-check
    # schedule (the ordering all_specs applies).
    order = sorted(rounds, key=lambda k: rounds[k])
    tier0 = {k for k in rounds if rounds[k] == 0}
    assert {"regressed", "errored"} <= tier0
    assert order[: len(tier0)] and set(order[: len(tier0)]) == tier0
    assert all(rounds[k] > 0 for k in order[len(tier0):])


def test_window_drain_on_fresh_fixture_leaves_no_stage(spark, tmp_path, monkeypatch):
    """A watermark-flushed drain over a fixture written a moment before
    it returns the oracle's windows, and leaves no stage behind.

    The sentinels are dated after the newest data file, so a fixture
    this fresh still sorts ahead of sentinel 1 (the file source orders
    by the mtime Hadoop reports, the symlink target's). The order is
    checked on the stage itself: a drain with the data one batch late
    still returns the right rows, because late rows are dropped against
    the previous batch's watermark. The stage is deleted once the drain
    has finished, so no later drain can reuse it."""
    import shutil
    import tempfile

    import duckdb

    from etl_upc_syllabus_spark.plans import all_specs

    from .oracle_harness import compare

    tmp_root, ckpt_root = tmp_path / "tmp", tmp_path / "ckpt"
    tmp_root.mkdir()
    ckpt_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_root))
    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT_DIR", str(ckpt_root))
    d = str(tmp_path / "fix")
    path = _write_fixture(d, "micros")  # dated now: the sentinels must still sort after it
    stage = ev._staged_flush_dir(d)
    try:
        mtime = {n: os.path.getmtime(os.path.join(stage, n)) for n in os.listdir(stage)}
    finally:
        shutil.rmtree(stage)
    assert mtime["events_00000.parquet"] < mtime["zz_sentinel_0.parquet"] < mtime[
        "zz_sentinel_1.parquet"
    ]

    spec = all_specs()["stream_window_counts"]
    got = spec.fn(spark, d)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    want = con.execute(spec.oracle).fetchdf()
    assert len(want) > 0
    compare(got, want, spec.name)
    assert os.listdir(tmp_root) == [] and os.listdir(ckpt_root) == []
