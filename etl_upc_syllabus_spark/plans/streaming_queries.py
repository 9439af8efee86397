"""Streaming queries: genuine Structured Streaming pipelines executed
to completion against the events fixture, oracle-checked via the
batch-equivalent SQL (stream/batch symmetry of the DataFrame API).
"""

from __future__ import annotations

import os
import shutil
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..streaming import events as ev
from ..streaming.incremental import incremental_run
from ..streaming.stateful import stream_user_totals, streaming_cdc_upserts
from ._lifecycle import release_after_materialize
from .multimodal_queries import MEDIA_META_ORACLE
from .registry import query


@query(
    "stream_window_counts",
    """
    SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="Structured Streaming tumbling-window aggregation run end-to-end "
    "in production shape: file stream -> withWatermark(ts) -> "
    "window(ts, 10 min) x event_type -> APPEND-mode sink. Each window "
    "is emitted exactly once when the watermark passes its end and its "
    "state is evicted -- bounded state at any scale. Far-future "
    "sentinel batches advance the watermark so the finite fixture "
    "flushes every window (a live stream's later events do this "
    "naturally). Epoch-aligned windows match DuckDB time_bucket.",
    tags=("streaming", "window"),
)
def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.stream_windowed_counts(spark, sf_dir)


@query(
    "stream_sliding_window",
    """
    WITH starts AS (
      SELECT event_type, ts, time_bucket(INTERVAL '5 minutes', ts) AS s1 FROM events),
    exploded AS (
      SELECT event_type, s1 AS ws FROM starts
      UNION ALL
      SELECT event_type, s1 - INTERVAL 5 MINUTE AS ws FROM starts)
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n
    FROM exploded GROUP BY 1, 2
    """,
    doc="Sliding windows (10 min width, 5 min slide) over a real stream, "
    "watermarked + append mode (bounded state, exactly-once window "
    "emission): every event belongs to exactly width/slide = 2 windows. "
    "Oracle derives both epoch-aligned window starts per event "
    "(time_bucket and its predecessor).",
    tags=("streaming", "window", "sliding"),
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.stream_sliding_counts(spark, sf_dir)


@query(
    "stream_stream_join",
    """
    SELECT a.user_id,
           a.event_id AS view_id,
           b.event_id AS buy_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS delay_us,
           b.value AS buy_value
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    """,
    doc="Stream-STREAM inner join run end-to-end: views joined to the "
    "same user's purchases within the next hour, watermarks on both "
    "sides + a time-range join condition so buffered state expires "
    "(the bounded-memory requirements for unbounded stream joins). "
    "Delay is exact integer microseconds (epoch_us vs unix_micros) -- "
    "no float drift. Oracle: the batch self-join, by stream/batch "
    "symmetry.",
    tags=("streaming", "join"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.stream_stream_attribution(spark, sf_dir)


@query(
    "stream_static_enrich",
    """
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_purchases,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    GROUP BY 1
    """,
    doc="Stream-STATIC broadcast join run end-to-end: the purchase event "
    "stream joined per micro-batch against the static customer "
    "dimension (re-planned each batch, so dim updates are picked up; "
    "stateless -- no watermark or state store needed), revenue "
    "aggregated per market segment from the materialized append sink. "
    "The workhorse fact-stream x dimension enrichment shape. Oracle: "
    "the batch join, by stream/batch symmetry.",
    tags=("streaming", "join", "stream-static", "broadcast"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.stream_static_enrichment(spark, sf_dir)


@query(
    "stream_dedup",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="dropDuplicatesWithinWatermark over a real stream: first sighting "
    "of each (user_id, event_type) is emitted; the 1 h watermark bounds "
    "dedup state. The batch oracle is SELECT DISTINCT keys.",
    tags=("streaming", "dedup"),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.stream_dedup_keys(spark, sf_dir)


@query(
    "stream_stateful_totals",
    """
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY user_id
    """,
    doc="Custom stateful streaming operator (applyInPandasWithState): "
    "per-user running totals kept in the state store across "
    "micro-batches, accumulated as exact integer cents. With the "
    "bounded fixture the final emission equals the batch groupBy -- "
    "the oracle.",
    tags=("streaming", "stateful", "applyInPandasWithState"),
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_user_totals(spark, sf_dir)


@query(
    "stream_sessionization",
    """
    WITH marks AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f')                      AS session_start,
           strftime(max(ts) + INTERVAL 5 MINUTE, '%Y-%m-%d %H:%M:%S.%f')  AS session_end,
           count(*)                                                       AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    doc="session_window(ts, 5 min) per user (batch mode -- the operator is "
    "stream-capable unchanged). Oracle derives sessions via the classic "
    "lag/gap/cumsum construction; Spark merges events while the next "
    "arrives strictly within gap, i.e. a new session starts at diff >= "
    "gap, and session end = last event + gap.",
    tags=("streaming", "session"),
)
def stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.sessionized(load_table(spark, sf_dir, "events"))


_LATE_ROWS = (("late_a", 1.50), ("late_b", 2.25))


@query(
    "stream_incremental_etl",
    """
    WITH all_ev AS (
      SELECT event_type, value FROM events
      UNION ALL
      SELECT * FROM (VALUES ('late_a', 1.50), ('late_b', 2.25)) t(event_type, value))
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM all_ev GROUP BY event_type
    """,
    doc="Checkpointed incremental file-arrival ETL (the reference's "
    "rerun-to-refresh loop, README.md:82, as Trigger.AvailableNow + "
    "checkpoint): run 1 drains the events fixture into a parquet sink; "
    "a late file with two known rows then lands; run 2 reuses the "
    "checkpoint and processes ONLY the new file. The oracle aggregates "
    "events UNION the late rows -- if run 2 reprocessed old files the "
    "append sink would double-count and the hash would fail, so the "
    "comparison itself proves the O(new data) refresh semantics.",
    tags=("streaming", "incremental", "exactly-once"),
)
def stream_incremental_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.parquet as pq

    # ephemeral demo dirs on the fastest local storage (r16, same
    # rationale as run_stream_to_table's checkpoint): the two
    # incremental_run passes fsync offsets/commits + write the sink
    # parquet here, and the dir is released once the result is
    # materialized; a real deployment keeps src/sink/ckpt on durable
    # storage. ephemeral_dir (r17, ADVICE r16) honors
    # SPARK_GRAFT_STREAM_CKPT_DIR and guards /dev/shm free space, so
    # memory-tight hosts can opt out / degrade.
    base = ev.ephemeral_dir("etl_upc_incr_")
    src = os.path.join(base, "in")
    sink = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src)
    src_table = os.path.join(sf_dir, "events.parquet")
    # single-file and directory layouts both stage as flat data files
    for i, f in enumerate(ev._data_files(src_table)):
        shutil.copyfile(f, os.path.join(src, f"events_{i:05d}.parquet"))
    # one declared schema covers every file in the source dir, so the
    # late file must carry the same ts physical type as the fixture
    kind = ev.events_ts_kind(src_table)
    if kind == "nanos":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = ev.events_raw_schema(kind)

    def transform(df: DataFrame) -> DataFrame:
        return df.select("event_type", "value")

    incremental_run(spark, src, sink, ckpt, schema, transform)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([-1, -2], pa.int64()),
                "ts": ev.events_ts_array(kind, [0, 0]),
                "user_id": pa.array([-1, -1], pa.int64()),
                "event_type": pa.array([t for t, _ in _LATE_ROWS], pa.string()),
                "value": pa.array([v for _, v in _LATE_ROWS], pa.float64()),
                "props": pa.array([None, None], pa.string()),
            }
        ),
        os.path.join(src, "late.parquet"),
    )
    incremental_run(spark, src, sink, ckpt, schema, transform)
    totals = (
        spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
        )
    )
    return release_after_materialize(totals, partial(shutil.rmtree, base))


@query(
    "stream_media_decode",
    MEDIA_META_ORACLE,
    doc="Streaming multimodal ingest: a file-source STREAM over the "
    "documents fixture runs the same encode-projection + Arrow decode "
    "stage as the batch multimodal_media_meta (real PNG/BMP/WAV/GIF/AVI "
    "codecs) inside Structured Streaming micro-batches, append mode, "
    "stateless -- and must produce the EXACT batch result (same "
    "oracle). This is the continuous-ingest shape of a multimodal "
    "training-data pipeline: media files land, decode/feature-extract "
    "runs incrementally, downstream tables stay append-only.",
    tags=("streaming", "multimodal", "codec"),
)
def stream_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import as_media_table, extract_media_metadata

    schema = (
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    # table-as-directory layout: pathGlobFilter matches LEAF file names
    # only, so when documents.parquet is a Spark-written directory the
    # stream must point inside it (same redirect as read_events_stream)
    src, glob = sf_dir, "documents.parquet"
    target = os.path.join(sf_dir, glob)
    if os.path.isdir(target):
        src, glob = target, "*.parquet"
    docs = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .parquet(src)
    )
    meta = extract_media_metadata(as_media_table(docs, "doc_id", "text"))
    return ev.run_stream_to_table(meta, "append")


@query(
    "stream_cdc_upsert",
    """
    WITH log AS (SELECT event_id // 8 AS k, event_id AS seq,
                        CASE WHEN event_id % 11 = 3 THEN 'D' ELSE 'U' END AS op,
                        value, event_type
                 FROM events),
    r AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
          FROM log)
    SELECT k, seq, value, event_type FROM r WHERE rn = 1 AND op <> 'D'
    """,
    doc="Streaming lakehouse CDC sink: a keyed change log (derived from "
    "the event stream, ~8 versions/key, every 11th a delete) is folded "
    "into per-key latest-version state (applyInPandasWithState), "
    "emitting the current best version -- tombstones included -- each "
    "micro-batch; the sink is then compacted at read with the SAME "
    "batch operator (operators/scd.py cdc_apply), dropping superseded "
    "emissions and deleted keys. Stream/batch parity: the drained "
    "result equals the batch CDC oracle "
    "(streaming/stateful.py streaming_cdc_upserts).",
    tags=("streaming", "cdc", "stateful", "applyInPandasWithState"),
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import cdc_apply

    stream = ev.read_events_stream(spark, sf_dir)
    log = stream.select(
        F.expr("event_id div 8").alias("k"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_id") % 11 == 3, "D").otherwise("U").alias("op"),
        F.col("value"),
        F.col("event_type"),
    )
    # core-matched state partitions (r17): per-key Python state calls
    # parallelize across |state partitions| workers -- measured 6.45 s
    # (4 partitions) -> 2.4 s (cores) at sf0.1; see stream_user_totals
    emissions = ev.run_stream_to_table(
        streaming_cdc_upserts(log),
        "update",
        shuffle_partitions=spark.sparkContext.defaultParallelism,
    )
    return cdc_apply(emissions, key="k", seq="seq")


@query(
    "stream_anomaly_flags",
    """
    WITH med AS (
      SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
      FROM events GROUP BY 1),
    dev AS (
      SELECT e.event_id, e.event_type, e.value, m.med,
             abs(e.value - m.med) AS d
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, round(quantile_cont(d, 0.5), 6) AS mad
      FROM dev GROUP BY 1)
    SELECT d.event_id, d.event_type,
           round(d.value, 6) AS value,
           round(d.d / (1.4826 * m.mad), 4) AS mad_score
    FROM dev d JOIN mad m USING (event_type)
    WHERE m.mad > 0 AND d.d / (1.4826 * m.mad) > 3.0
    """,
    doc="Streaming twin of events_anomaly_mad: per-type median/MAD "
    "reference trained in batch, the event stream scored per "
    "micro-batch by a stateless broadcast join + 3-sigma-equivalent "
    "filter (no watermark or state store -- the monitor scales with "
    "stream rate, not history). Same oracle as the batch query by "
    "stream/batch symmetry.",
    tags=("streaming", "anomaly", "mad", "stream-static"),
)
def stream_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_anomaly_scoring

    return stream_anomaly_scoring(spark, sf_dir)
