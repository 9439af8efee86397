"""Parquet star-schema source (driver fixtures, TESTDATA.md).

Maps the reference's recursive-glob file scan (S1,
reference etl_pipeline.py:32-50) onto Spark's format-aware parquet
source: Catalyst gets predicate pushdown, column pruning and
partition pruning for free; at 100 TB the same ``spark.read.parquet``
call fans out over the cluster with one task per row-group split.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at any realistic scale factor --
# region/nation are bounded by geography; the others grow with SF.
BROADCAST_DIMS = ("region", "nation")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Fixtures have shipped ts under two physical types: TIMESTAMP(NANOS)
        # (which Spark's parquet reader rejects unless read as int64 under the
        # legacy conf) and plain TIMESTAMP_MICROS. Ingestion is type-adaptive:
        # the footer probe picks the physical type, and only the nanos case
        # sets the legacy conf and converts -- truncating to micros, the same
        # truncation DuckDB applies, so oracle comparisons agree. Both
        # branches are kept forever; TIMESTAMP_MICROS is the common physical
        # type any real stream table would use, and loading it leaves the
        # session conf untouched. events_ts_kind raises on the ambiguous
        # bare-int64 case itself (ADVICE r4/r5): dividing a non-nanos int64
        # by 1000 would load values 1000x off.
        from pyspark.sql import functions as F

        from ..streaming.events import events_ts_kind

        if events_ts_kind(path) == "nanos":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "timestamp_ntz":
            # session tz is UTC (session.py), so the cast is value-preserving;
            # normalizing to TimestampType keeps one dtype across fixtures.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a narrow scan across the cluster for CPU-bound map work.

    The driver fixtures are single-file / single-row-group parquet, so a
    scan yields one task no matter how many cores exist -- and a
    regex-heavy per-row stage (quality scoring, shingling, language ID)
    then runs on one core. Repartitioning a tiny scan costs a sub-MB
    shuffle and unlocks full parallelism.

    Scale posture: at 100 TB the source already has far more splits than
    cores, so this is a no-op -- it never introduces a full-data shuffle
    on a properly partitioned source. The probe is metadata-only
    (inputFiles + local file sizes vs the 128 MiB split size); it never
    converts the DataFrame to an RDD (which would compile the physical
    plan once per call) and stays a no-op whenever file sizes are
    unknowable (remote storage) or the scan is big enough to shuffle.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files or len(files) >= cores:
        return df
    paths = [f.removeprefix("file:") for f in files if f.startswith("file:")]
    if len(paths) != len(files) or not all(os.path.exists(p) for p in paths):
        return df  # non-local storage: sizes unknowable, assume real splits
    total = sum(os.path.getsize(p) for p in paths)
    split_bytes = 128 * 1024 * 1024  # spark.sql.files.maxPartitionBytes default
    est_splits = max(len(paths), -(-total // split_bytes))
    if est_splits >= cores or total > 2 * split_bytes:
        return df
    return df.repartition(cores)


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register temp views so SQL-form queries can run against them."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
