"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md 2.9/2.10: the arbitrary-state seam Spark offers beyond
built-in window aggregations).

The operator keeps a per-user running (count, cents-sum) state across
micro-batches and emits the updated totals each batch. Values are
accumulated as integer cents so the state is exact and the output is
oracle-checkable (float state would drift per accumulation order).

Scale posture: state lives in the state store partitioned by group
key; with N executors each holds |users|/N entries. A production
deployment adds a timeout (state eviction) -- wired here as
NoTimeout because the fixture is bounded.

**Poisoned-value posture (r9 probe, documented API since r10).** One
non-finite ``value`` (NaN/+-Inf -- fp overflow upstream, a broken
enrichment) kills the stateful query MID-BATCH: the pandas seam's
``astype("int64")`` raises on non-finite input, the task dies, and in
production that is an outage, not a wrong number (measured,
tools/nan_probe.py --mode events). The documented default composition
for any stream whose source is not contractually finite is the
ingestion gate::

    totals = running_user_totals(events, gated=True)   # or:
    clean, poisoned = quarantine_nonfinite(events, cols=["value"])
    totals = running_user_totals(clean)

``gated=True`` routes the stream through
:func:`~..operators.curation.quarantine_nonfinite` (scan-speed NaN/Inf
split; NULL stays clean and still counts as an event of 0 cents) so
poisoned rows are dropped from the state instead of killing the query.
The quarantined split is observable by composing the gate explicitly
(second form) and sinking the ``poisoned`` side. Pinned:
tests/test_nonfinite_embeddings.py
test_quarantine_gate_keeps_stateful_stream_alive.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import conf_overrides
from .events import read_events_stream, run_stream_to_table

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_cents bigint"
STATE_SCHEMA = "n bigint, cents bigint"


# 1-row emission templates (r17): the update functions run once per
# KEY per micro-batch (~10^4 calls on the fixture), and
# pd.DataFrame({...}) construction dominated the per-call cost
# (measured 2.2 s / 12.5k builds vs 0.18 s for copying a prebuilt
# frame). .copy() yields a fresh object each time, so nothing aliases
# across yields.
_TOTALS_TMPL = pd.DataFrame(
    {
        "user_id": np.array([0], dtype=np.int64),
        "n_events": np.array([0], dtype=np.int64),
        "total_cents": np.array([0], dtype=np.int64),
    }
)


def _update_user_totals(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, cents = state.get if state.exists else (0, 0)
    for pdf in batches:
        n += len(pdf)
        # exact integer cents; value column is 2-decimal by fixture
        # contract. NULL values count as events but contribute 0 cents
        # (astype would raise on NaN -- the null-payload degenerate row
        # any production stream carries must not kill the query).
        # numpy path (r17): same fillna->x100->round->int64->sum
        # pipeline without five pandas Series allocations per key
        # (np.rint == Series.round: both IEEE half-to-even). NaN/NULL
        # maps to 0 cents exactly as fillna did; +-Inf must stay LOUD
        # -- pandas astype("int64") raised on non-finite, and the
        # documented poisoned-value posture (module docstring, pinned
        # by test_quarantine_gate_keeps_stateful_stream_alive) depends
        # on the ungated stream dying rather than wrapping Inf into
        # garbage cents, so the explicit isfinite check replaces the
        # astype raise (numpy's astype silently wraps).
        v = pdf["value"].values
        scaled = np.where(np.isnan(v), 0.0, v) * 100
        if not np.isfinite(scaled).all():
            raise ValueError(
                "Cannot convert non-finite values (inf) to integer cents; "
                "gate the stream with quarantine_nonfinite (gated=True)"
            )
        cents += int(np.rint(scaled).astype(np.int64).sum())
    state.update((n, cents))
    out = _TOTALS_TMPL.copy()
    out.iat[0, 0] = key[0]
    out.iat[0, 1] = n
    out.iat[0, 2] = cents
    yield out


def running_user_totals(events: DataFrame, gated: bool = False) -> DataFrame:
    """Streaming DataFrame of per-user running totals (update mode).

    ``gated=True`` drops non-finite values through
    ``quarantine_nonfinite`` first -- the module-docstring composition
    that keeps one poisoned event from killing the query mid-batch.
    Default off: the registry fixture is contractually finite and the
    gate's scan predicate, while cheap, should be a caller's choice."""
    if gated:
        from ..operators.curation import quarantine_nonfinite

        events, _ = quarantine_nonfinite(events, cols=["value"])
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_user_totals(
    spark: SparkSession, sf_dir: str, gated: bool = False
) -> DataFrame:
    """Run the stateful stream to completion; with the bounded fixture
    (one file -> one micro-batch) each user emits exactly one final row,
    so the result equals the batch groupBy -- the oracle. ``gated``:
    see :func:`running_user_totals` (the poisoned-source composition)."""
    # Core-matched state partitions (r17): unlike the JVM window-agg
    # drains (where 4 partitions beat 32 -- fewer state-store
    # instances per micro-batch), an applyInPandasWithState drain
    # spends its time in per-KEY Python calls, and those parallelize
    # across exactly |state partitions| Python workers. Measured on
    # the CDC twin at sf0.1: 6.45 s at 4 partitions -> 2.4 s at 32.
    # defaultParallelism = local[$SPARK_GRAFT_CPUS] here, total
    # executor cores on a cluster -- the "size to executor count"
    # posture the module docstring prescribes, not a local constant.
    out = run_stream_to_table(
        running_user_totals(read_events_stream(spark, sf_dir), gated=gated),
        "update",
        shuffle_partitions=spark.sparkContext.defaultParallelism,
    )
    # keep the latest emission per user (robust if the source ever
    # splits into multiple micro-batches)
    return (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("total_cents").alias("total_cents"))
    )


CDC_OUTPUT_SCHEMA = "k bigint, seq bigint, op string, value double, event_type string"
CDC_STATE_SCHEMA = "seq bigint, op string, value double, event_type string"


_CDC_TMPL = pd.DataFrame(
    {
        "k": np.array([0], dtype=np.int64),
        "seq": np.array([0], dtype=np.int64),
        "op": [""],
        "value": np.array([0.0]),
        "event_type": [""],
    }
)


def _update_latest_version(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    best = state.get if state.exists else None
    for pdf in batches:
        # argmax over the raw values (r17): .loc[.idxmax()] built a
        # labeled row Series per key call -- 4.8x the cost of the
        # positional lookup for the same max-seq row
        seqs = pdf["seq"].values
        i = int(seqs.argmax())
        s = int(seqs[i])
        if best is None or s > best[0]:
            best = (
                s,
                str(pdf["op"].values[i]),
                float(pdf["value"].values[i]),
                str(pdf["event_type"].values[i]),
            )
    state.update(best)
    out = _CDC_TMPL.copy()
    out.iat[0, 0] = key[0]
    out.iat[0, 1] = best[0]
    out.iat[0, 2] = best[1]
    out.iat[0, 3] = best[2]
    out.iat[0, 4] = best[3]
    yield out


def streaming_cdc_upserts(log: DataFrame) -> DataFrame:
    """Streaming latest-version-per-key maintenance (update mode).

    Each micro-batch folds its rows into per-key (seq, op, payload)
    state -- keeping the highest sequence seen across ALL batches --
    and emits the key's current best version, tombstones included. The
    emission stream is itself a CDC log: a downstream reader compacts
    it with the same batch operator (operators/scd.py cdc_apply) to
    drop superseded emissions and delete tombstones. That two-layer
    shape (stateful upsert stream -> log-structured sink -> compacting
    reader) is exactly how a lakehouse CDC sink works; emitting
    tombstones rather than swallowing them is what lets the reader
    retract keys deleted in later batches.
    """
    return (
        log.select("k", "seq", "op", "value", "event_type")
        .groupBy("k")
        .applyInPandasWithState(
            _update_latest_version,
            outputStructType=CDC_OUTPUT_SCHEMA,
            stateStructType=CDC_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_stateful_increment(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    schema,
    shuffle_partitions: int = 4,
) -> int:
    """One ``Trigger.AvailableNow`` drain of the stateful user totals
    over whatever files arrived in ``source_dir`` since the last run,
    appending each micro-batch's emissions to a parquet log via
    ``foreachBatch`` (update-mode stateful output cannot use the
    append-only parquet sink directly -- the foreachBatch append log is
    the lakehouse pattern, compacted by the reader).

    THIS is the restart seam a deployed stateful pipeline lives on:
    the checkpoint carries both the file-source log (files already
    processed are never reprocessed) and the STATE STORE (per-user
    (n, cents) recovered on restart), so calling this repeatedly as
    data arrives yields totals over the union of all runs, exactly
    once, surviving process death between calls.
    ``tests/test_incremental.py::test_stateful_restart_recovers_state``
    pins the property; returns this run's input-row count (0 when
    nothing new arrived).
    """
    with conf_overrides(spark, {"spark.sql.shuffle.partitions": str(shuffle_partitions)}):
        events = spark.readStream.schema(schema).parquet(source_dir)

        def _append(batch_df: DataFrame, _bid: int) -> None:
            batch_df.write.mode("append").parquet(sink_dir)

        q = (
            running_user_totals(events)
            .writeStream.foreachBatch(_append)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(int(p["numInputRows"]) for p in (q.recentProgress or []))
