"""Structured Streaming surface over the events table (SURVEY.md 2.9).

The reference is strictly batch; its re-run-to-refresh workflow
(reference README.md:82) maps to ``Trigger.AvailableNow`` incremental
processing over a source directory. This module provides the streaming
operators the blueprint adds: watermarked tumbling/sliding windows,
session windows, and within-watermark deduplication.

Batch/stream symmetry: every aggregation here is a plain DataFrame
transformation, so the same function serves the streaming path (via
``read_events_stream``) and the batch path (via the parquet loader) --
which is also how the DuckDB oracles check the streaming queries.

Scale posture: streaming state (window aggregates, dedup keys) is
partitioned by group key across executors; watermarks bound state size
-- without them a 100 TB/day stream would accumulate state forever.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import conf_overrides

_MEMSINK_IDS = itertools.count()

#: Event type of the watermark-flush sentinel rows (see _staged_flush_dir).
SENTINEL_TYPE = "_wm_flush"

# Far-future sentinel event times (epoch seconds): 2100-01-01 and
# 2100-01-02 (see _staged_flush_dir).
_SENTINEL_TS_S = (4102444800, 4102531200)


#: Minimum free bytes /dev/shm must have before ephemeral stream state
#: is placed there (r17, VERDICT r16 item 7): tmpfs is RAM, and a drain
#: writing state deltas into a nearly-full tmpfs ENOSPCs where /tmp
#: would not. 2 GiB is conservative -- drain checkpoints are offsets/
#: commits plus one state delta per shuffle partition (KBs..MBs), and
#: the incremental demo stages one copy of the events fixture.
_EPHEMERAL_MIN_FREE_BYTES = 2 << 30


def ephemeral_dir(prefix: str) -> str:
    """Create a disposable working dir on the fastest storage that can
    afford it: $SPARK_GRAFT_STREAM_CKPT_DIR when set, else /dev/shm
    when it exists AND has >= 2 GiB free (tmpfs is RAM -- the guard
    keeps a larger-SF drain from ENOSPCing a small tmpfs where plain
    /tmp would have coped), else the system temp dir (the pre-r16
    behavior). Callers own deletion; nothing placed here may outlive
    the run (no cross-run result caching)."""
    base = os.environ.get("SPARK_GRAFT_STREAM_CKPT_DIR")
    if not base and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= _EPHEMERAL_MIN_FREE_BYTES:
                base = "/dev/shm"
        except OSError:
            pass
    return tempfile.mkdtemp(prefix=prefix, dir=base or None)


def _data_files(path: str) -> list[str]:
    """Data files of a parquet table at ``path``, single-file or
    directory layout.

    A 100 TB events table is never one file: Spark/Hive writers emit a
    DIRECTORY of part files plus ``_SUCCESS``/checksum markers. Every
    footer probe and staging copy in this module goes through this
    helper so both layouts work identically (the batch loader gets
    directory support for free from ``spark.read.parquet``)."""
    if not os.path.isdir(path):
        return [path]
    names = sorted(
        n
        for n in os.listdir(path)
        if not n.startswith(("_", ".")) and n.endswith(".parquet")
    )
    if not names:
        raise FileNotFoundError(f"no parquet data files in directory {path}")
    return [os.path.join(path, n) for n in names]


def events_ts_kind(path: str) -> str:
    """Physical type of the events ``ts`` column in a parquet table
    (single file, or first data file of a directory layout -- one
    writer produced the table, so all parts share a physical type).

    Fixtures have shipped both ``TIMESTAMP(NANOS)`` (readable only as
    int64 under ``spark.sql.legacy.parquet.nanosAsLong``) and plain
    ``TIMESTAMP_MICROS``; streams need the schema up front, so the
    footer is probed (metadata-only read) to pick it. Returns one of
    ``"nanos"`` / ``"micros"`` (isAdjustedToUTC=false, Spark
    TIMESTAMP_NTZ) / ``"micros_tz"`` (UTC-adjusted, Spark TIMESTAMP).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    data_file = _data_files(path)[0]
    # physical-type probe FIRST: legacy INT96 timestamps (the historic
    # Spark/Impala writer default) surface as timestamp[ns] in the
    # Arrow schema, indistinguishable from TIMESTAMP(NANOS) -- but
    # Spark reads INT96 natively as TimestampType, while reading it
    # under the nanos-as-long schema crashes the vectorized reader.
    pq_schema = pq.ParquetFile(data_file).schema
    ts_idx = [c.name for c in pq_schema].index("ts")
    if pq_schema.column(ts_idx).physical_type == "INT96":
        return "micros_tz"  # UTC-adjusted; TimestampType, no conversion
    t = pq.read_schema(data_file).field("ts").type
    if getattr(t, "unit", None) == "ns":
        return "nanos"
    if pa.types.is_integer(t):
        # A bare integer ts carries NO timestamp logical type: its unit
        # is unknowable from the footer, and guessing nanos would load
        # micros-encoded values 1000x off with no error (ADVICE r4).
        # Every fixture generation so far has carried a real timestamp
        # logical type; refuse loudly if that ever changes.
        raise ValueError(
            f"events ts column at {path} is bare {t} with no timestamp "
            "logical type; cannot infer its unit -- regenerate the "
            "fixture with a parquet TIMESTAMP annotation"
        )
    return "micros_tz" if getattr(t, "tz", None) else "micros"


def events_raw_schema(kind: str) -> T.StructType:
    """Stream-reader schema matching the fixture's ts physical type."""
    ts_type = {
        "nanos": T.LongType(),
        "micros": T.TimestampNTZType(),
        "micros_tz": T.TimestampType(),
    }[kind]
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def normalize_ts(df: DataFrame, kind: str) -> DataFrame:
    """Bring ``ts`` to TimestampType micros whatever the physical type.

    nanos-as-long truncates to micros (DuckDB applies the same
    truncation); NTZ casts value-preserving under the UTC session tz.
    """
    if kind == "nanos":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if kind == "micros":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _probe_events_file(sf_dir: str, glob: str) -> str:
    """Pick one parquet file in the dir to footer-probe for ts type.

    Prefers the canonical ``events.parquet``; otherwise the first match
    in name order. All files in a staged/source dir share one physical
    type by construction (sentinels and late files are written to match
    the fixture they sit next to).
    """
    import fnmatch

    names = sorted(
        n
        for n in os.listdir(sf_dir)
        if fnmatch.fnmatch(n, glob) and not n.startswith(("_", "."))
    )
    if not names:
        raise FileNotFoundError(f"no parquet matching {glob!r} in {sf_dir}")
    pick = "events.parquet" if "events.parquet" in names else names[0]
    return os.path.join(sf_dir, pick)


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the events table: a single file, a
    directory files keep landing in (production), or a Spark-written
    ``events.parquet/`` directory of part files. The reader schema
    adapts to the fixture's ts physical type (see events_ts_kind)."""
    target = os.path.join(sf_dir, glob)
    if "*" not in glob and os.path.isdir(target):
        # table-as-directory layout: pathGlobFilter matches LEAF file
        # names, so a filter on the directory's own name would match
        # nothing -- stream the part files inside it instead
        sf_dir, glob = target, "*.parquet"
    kind = events_ts_kind(_probe_events_file(sf_dir, glob))
    if kind == "nanos":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(events_raw_schema(kind)).option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(sf_dir)
    return normalize_ts(raw, kind)


def _staged_flush_dir(sf_dir: str) -> str:
    """Stage one drain: the events fixture next to two far-future
    sentinel files, in a fresh :func:`ephemeral_dir` the caller deletes
    once the drain has finished.

    Append-mode windowed aggregation only emits a window once the
    watermark passes its end; on a finite stream the trailing windows
    would stay in the state store forever (exactly as they should on a
    live stream, where later events eventually close them). The staged
    directory plays the role of those later events: two sentinel rows
    dated 2100, in their own files with ascending mtimes, are consumed
    in later micro-batches (bounded maxFilesPerTrigger, oldest-first),
    so the watermark advances past every real window and the *second*
    sentinel batch -- a data batch, hence ordered before
    processAllAvailable() returns -- emits them all deterministically
    (no reliance on the async no-data micro-batch).

    Each data file is a symlink (``events_{i:05d}.parquet``) to the
    fixture's file: Hadoop's local listing follows it and reports the
    target's length and mtime, so nothing is copied. The sentinels are
    dated 1 s and 2 s after the newest data file, never relative to the
    clock, so a fixture written a moment ago still sorts ahead of
    sentinel 1.
    """
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "events.parquet")
    files = _data_files(src)  # single file, or a directory's part files
    kind = events_ts_kind(src)
    stage = ephemeral_dir("etl_upc_stage_")
    try:
        for i, f in enumerate(files):
            os.symlink(os.path.abspath(f), os.path.join(stage, f"events_{i:05d}.parquet"))
        newest = max(os.path.getmtime(f) for f in files)
        # exactly two sentinels: the drain harness batches ALL data
        # files + sentinel 1 together (see _run_flushed_window_stream),
        # so sentinel 2 is always the trailing data batch that carries
        # the emissions -- no parity logic needed
        for i, ts_s in enumerate(_SENTINEL_TS_S):
            path = os.path.join(stage, f"zz_sentinel_{i}.parquet")
            pq.write_table(sentinel_row_table(kind, i, ts_s), path)
            os.utime(path, (newest + 1 + i, newest + 1 + i))
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    return stage


def events_ts_array(kind: str, epoch_seconds: list[int]):
    """pyarrow ts column in the given physical type (sentinel/late-row
    files must match the fixture they sit next to, or the stream's
    single declared schema cannot read both)."""
    import pyarrow as pa

    if kind == "nanos":
        return pa.array([s * 10**9 for s in epoch_seconds], pa.int64())
    unit_tz = pa.timestamp("us", tz="UTC") if kind == "micros_tz" else pa.timestamp("us")
    return pa.array([s * 10**6 for s in epoch_seconds], unit_tz)


def sentinel_row_table(kind: str, i: int, ts_s: int):
    """One-row far-future sentinel table in the fixture's physical type."""
    import pyarrow as pa

    return pa.table(
        {
            "event_id": pa.array([-(i + 1)], pa.int64()),
            "ts": events_ts_array(kind, [ts_s]),
            "user_id": pa.array([-1], pa.int64()),
            "event_type": pa.array([SENTINEL_TYPE], pa.string()),
            "value": pa.array([0.0], pa.float64()),
            "props": pa.array([None], pa.string()),
        }
    )


def windowed_counts(
    events: DataFrame, width: str = "10 minutes", watermark: str | None = "10 seconds"
) -> DataFrame:
    """Tumbling-window counts+sums per event type (exact decimal sum).

    The watermark bounds streaming state: windows older than
    max(event time) - delay are finalized and evicted. On a batch
    DataFrame withWatermark is a no-op, preserving batch/stream
    symmetry for the oracle.
    """
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str | None = "10 seconds",
) -> DataFrame:
    """Sliding-window counts: each event lands in width/slide windows.
    Watermarked for bounded state (see windowed_counts)."""
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
    )


def _run_flushed_window_stream(spark: SparkSession, sf_dir: str, agg_fn) -> DataFrame:
    """Watermarked append-mode window aggregation over the staged
    stream; sentinel groups are dropped from the materialized result.

    maxFilesPerTrigger = (number of data files) + 1 gives exactly two
    micro-batches (oldest-first by mtime): batch 1 = ALL data files +
    sentinel 1 advances the watermark past every real window; batch 2
    = sentinel 2 is the data batch in which they all emit -- so
    completion is ordered before processAllAvailable() returns.
    Batching every data file together is load-bearing for the bounded
    drain: splitting data across micro-batches would advance the
    watermark BETWEEN them, silently dropping rows of an
    out-of-time-order directory layout as late (measured at sf1: an
    8-part repartitioned events table lost rows under the old
    2-file-per-batch pairing while producing the same window count).
    A live stream wants exactly that late-drop semantics; a bounded
    fixture drain compared against a batch oracle does not. The stage
    is deleted once the drain has finished.
    """
    stage = _staged_flush_dir(sf_dir)
    try:
        n_data = sum(1 for f in os.listdir(stage) if f.startswith("events_"))
        stream = read_events_stream(
            spark, stage, glob="*.parquet", max_files_per_trigger=n_data + 1
        )
        out = run_stream_to_table(agg_fn(stream), "append")
    finally:
        # the memory sink already holds the rows
        shutil.rmtree(stage, ignore_errors=True)
    return out.filter(F.col("event_type") != SENTINEL_TYPE)


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_flushed_window_stream(spark, sf_dir, sliding_counts)


def sessionized(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Session windows per user: a session extends while events arrive
    within `gap` of the previous event; end = last event + gap."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
            "n_events",
        )
    )


def run_stream_to_table(
    stream_df: DataFrame, output_mode: str, shuffle_partitions: int = 4
) -> DataFrame:
    """Execute a streaming DataFrame to completion into a memory sink and
    return the materialized result as a batch DataFrame.

    Memory sinks are the local-test harness; production sinks are
    kafka/parquet/foreachBatch. processAllAvailable() drains the file
    source synchronously, which is exactly the Trigger.AvailableNow
    incremental-rerun semantics of the reference's refresh loop.

    The state store allocates one instance per shuffle partition at
    query start; for the local fixture-drain harness 32 partitions is
    pure per-batch overhead, so shuffle partitions are lowered for the
    query's lifetime and restored after. (A production cluster sizes
    this to state volume / executor count instead. The set/restore is
    session-global: value-neutral under concurrent queries -- partition
    count is sweep-proven value-invariant -- but a batch query PLANNED
    mid-drain may get the lowered count, so a perf-isolated deployment
    gives streaming its own session.) No-data
    micro-batches are disabled for the query's lifetime too: every
    emission in this module is deliberately carried by a DATA batch
    (the sentinel-flush design, _staged_flush_dir), so the extra
    empty batches the scheduler would interleave are pure drain
    latency here -- a production query that wants eager watermark-only
    emission should leave them on. Every key set here is restored as
    found: a key that was unset before the drain is unset again after it.

    The sink's temp view is dropped before this returns: the returned
    DataFrame was analyzed against the sink while the view existed, so
    it still reads the sink's rows, and the session keeps no view.
    """
    spark = stream_df.sparkSession
    name = f"strm_out_{next(_MEMSINK_IDS)}"
    # Ephemeral checkpoint on the fastest local storage (r16, guide
    # section 5/6: the driver should not wait on I/O it does not need):
    # every micro-batch fsyncs offset/commit-log files plus one state
    # store delta per shuffle partition into the checkpoint dir; on
    # this host the default temp dir is ext4-on-disk while /dev/shm is
    # tmpfs, and moving the checkpoint there measured 1.62 s -> 1.19 s
    # on stream_window_counts (same plan, same rows). Correct for THIS
    # harness because the checkpoint is born disposable -- the memory
    # sink is drained to completion and the dir deleted in the finally
    # below; a production stream that needs recovery keeps its durable
    # checkpoint on real storage (stateful.py/incremental.py take an
    # explicit checkpoint_dir and are untouched). Override with
    # SPARK_GRAFT_STREAM_CKPT_DIR; default prefers /dev/shm when it
    # exists AND has headroom (ephemeral_dir's free-space guard, r17),
    # else the system temp dir (the previous behavior).
    ckpt = ephemeral_dir("etl_upc_ckpt_")
    overrides = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
        # without Hadoop's native library the default FileContext manager
        # forks `readlink` twice per checkpoint rename (448 forks per
        # registry_mix run); the checkpoint is disposable, so the plain
        # FileSystem manager's non-atomic overwrite is enough
        "spark.sql.streaming.checkpointFileManagerClass":
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
    }
    try:
        with conf_overrides(spark, overrides):
            q = (
                stream_df.writeStream.outputMode(output_mode)
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)


def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full streaming pipeline, production shape: file stream ->
    watermarked tumbling windows -> append-mode sink (each window
    emitted exactly once, when the watermark passes its end; state is
    evicted as windows close, so state size is bounded by the watermark
    horizon at any corpus scale)."""
    return _run_flushed_window_stream(spark, sf_dir, windowed_counts)


def stream_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each 'view' joined to the same user's
    'purchase' events landing within the following hour.

    Both sides carry watermarks and the join condition bounds purchase
    time relative to view time, so Spark can expire buffered state on
    both sides -- the requirements for an unbounded stream-stream join
    to run with bounded memory. At 100 TB/day the state store holds at
    most one watermark-window of each stream per user partition.
    """
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    buys = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("buy_id"),
            F.col("ts").alias("buy_ts"),
            F.col("value").alias("buy_value"),
        )
        .withWatermark("buy_ts", "2 hours")
    )
    joined = views.join(
        buys,
        (F.col("v_user") == F.col("b_user"))
        & (F.col("buy_ts") >= F.col("view_ts"))
        & (F.col("buy_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "buy_id",
        (F.unix_micros("buy_ts") - F.unix_micros("view_ts")).alias("delay_us"),
        "buy_value",
    )
    return run_stream_to_table(joined, "append")


def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: purchase events enriched with the customer
    dimension, then revenue per market segment.

    The static side is a plain batch DataFrame; Spark re-plans it per
    micro-batch (picking up dimension updates between batches) and
    broadcasts it under AQE/size rules, so the join is STATELESS -- no
    watermark, no state store, append-safe. This is the workhorse
    enrichment shape of production streams (fact stream x slowly
    changing dim) and the missing sibling of the stream-stream join
    above. The aggregation happens on the materialized sink output
    (batch), keeping the streaming stage itself unbounded-safe at any
    scale.
    """
    from ..sources.tables import load_table

    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = purchases.join(F.broadcast(cust), "user_id")
    out = run_stream_to_table(enriched, "append")
    return (
        out.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("revenue_cents"),
        )
        .select(F.col("c_mktsegment").alias("segment"), "n_purchases", "revenue_cents")
    )


def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: first sighting of each (user_id, event_type) is
    emitted, duplicates within the watermark are dropped. State is
    bounded by the watermark -- the scale-safe streaming dedup."""
    ev = read_events_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_stream_to_table(deduped, "append")


def stream_anomaly_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-on-batch / score-on-stream anomaly flags: the per-type
    median/MAD reference is computed once in batch (exact percentile
    over the (value, frequency) pre-aggregate), then the live event
    stream is scored by a STATELESS broadcast join + filter -- no
    watermark, no state store, append-safe at any stream rate. The
    production metric-monitor deployment shape; oracle = the batch MAD
    query, by stream/batch symmetry (operators/anomaly.py).
    """
    from ..operators.anomaly import mad_flags, mad_reference
    from ..sources.tables import load_table

    ref = mad_reference(load_table(spark, sf_dir, "events"))
    stream = read_events_stream(spark, sf_dir).select(
        "event_id", "event_type", "value"
    )
    return run_stream_to_table(mad_flags(stream, ref), "append")
