"""SparkSession construction tuned for this engine.

Local test runs use local[N] (single JVM); production posture is a
multi-executor cluster, so every knob set here is also the right knob
at scale: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), shuffle partitions sized to cores rather than the 200
default, Arrow enabled for the pandas-UDF paths, UTC session timezone
so timestamp semantics match the DuckDB oracle (naive-UTC).

Python workers fork from the engine's own daemon
(``etl_upc_syllabus_spark._pydaemon``), which imports what every task
needs once, before the first fork. The daemon module is a launch-time
setting: it applies to sessions ``get_spark`` builds, not to a session
the driver built and passed in (see :func:`tune`).

The driver JVM ``get_spark`` launches runs one start-up JIT policy,
:data:`JIT_POLICY`: HotSpot's tier-4 (C2) thresholds at three times the
JDK 17 defaults. C1 still compiles everything early; C2 waits for
methods and loops that stay hot. A short-lived session cannot amortize
C2's work the way a long-lived server does: with the default thresholds
C2 threads burned at least 3.8 of the 15.3 CPU-s of set-up and 8.2 of
the 30.9 CPU-s of the document CLI's cold pass on a 4-core host, and
2-4 of every 5-8 CPU-s of a steady pass that loads almost no new
classes and compiles no Janino code. The factor is a trade between
start-up and warm speed, measured on that host (perfbench and sf0.1
``bench.py``, order-balanced parent/policy pairs, medians):

- x3: ``first_pass_cpu_s`` -14% on ``doc_etl`` and -12% on
  ``registry_mix``, ``setup_s`` -25% on both (10 pairs each); the warm
  ``bench.py`` value 14.30 -> 13.55 s and its executor CPU per timed
  run 7.34 -> 7.14 s (8 pairs).
- x10: ``first_pass_cpu_s`` -29% on ``doc_etl``, but one warm-up run no
  longer brought the hot code to C2: ``bench.py``'s warm queries used
  12-29% more executor CPU and its value rose in 3 of 3 pairs.
- C1 only (``-XX:TieredStopAtLevel=1``): cheaper still to start, and the
  warm ``bench.py`` suite 46% slower.

The policy is set as ``spark.driver.defaultJavaOptions``, which Spark
puts before ``spark.driver.extraJavaOptions``, so
``--driver-java-options`` given in ``PYSPARK_SUBMIT_ARGS`` still apply;
it replaces any ``spark.driver.defaultJavaOptions`` from
``spark-defaults.conf``. Like the daemon module it is a launch-time
setting, so a session the driver built keeps its own JIT.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the directory holding the package: the daemon is started by module
# name, from whatever directory the driver runs in
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# JDK 17's tier-4 thresholds (5000, 600, 15000, 40000) times three
JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=15000 -XX:Tier4MinInvocationThreshold=1800 "
    "-XX:Tier4CompileThreshold=45000 -XX:Tier4BackEdgeThreshold=120000"
)


def _verify_checksums_enabled(env_value: str | None) -> bool:
    """Page-CRC verification default (ON since r12); the opt-out knob
    SPARK_GRAFT_VERIFY_PAGE_CHECKSUMS accepts the common falsy
    spellings, not just '0' (review r12: a '=false' opt-out that
    silently stays on defeats the operator's intent).

    An EMPTY value (``SPARK_GRAFT_VERIFY_PAGE_CHECKSUMS=``) means
    unset, i.e. the default ON (ADVICE r12, made explicit): shells
    produce empty exports accidentally (``VAR= cmd``, unset-in-.env),
    so empty is deliberately NOT an opt-out spelling -- disabling
    verification requires one of 0/false/off/no."""
    return (env_value or "").lower() not in ("0", "false", "off", "no")


def get_spark(app_name: str = "etl_upc_syllabus_spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # write modern TIMESTAMP_MICROS, not the deprecated INT96
        # default: INT96 footers surface as timestamp[ns] in Arrow,
        # which is indistinguishable from TIMESTAMP(NANOS) without a
        # physical-type probe and unsupported by engines that dropped
        # the legacy type
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.defaultJavaOptions", JIT_POLICY)
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "etl_upc_syllabus_spark._pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        # bitrot defense, DEFAULT ON (opt out with
        # SPARK_GRAFT_VERIFY_PAGE_CHECKSUMS=0): verify parquet page
        # CRCs at read. The r11 bitrot probe (tools/bitrot_probe.py)
        # measured 9/12 random mid-file corruptions reading SILENTLY
        # WRONG without verification (footer audit green, values off
        # by 10^20), LOUD CRC failures with it on checksummed files
        # (Spark's own writer emits page CRCs by default; the
        # pyarrow-written driver fixtures do not, where verification
        # is a no-op), and verification cost within host noise. The
        # conf is plan-inert and value-inert on healthy data
        # (measured r11), so the measured posture wins: on.
        .config(
            "spark.hadoop.parquet.page.verify-checksum.enabled",
            "true"
            if _verify_checksums_enabled(
                os.environ.get("SPARK_GRAFT_VERIFY_PAGE_CHECKSUMS")
            )
            else "false",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable knobs to a session we did not build.

    The driver passes its own SparkSession into ``entry``/``queries()``
    callables; timezone and AQE are runtime-settable so we pin them for
    oracle-comparable semantics. The Python daemon module is not: it is
    read when the context starts, so such a session keeps the stock
    ``pyspark.daemon`` and its workers import the package on first use.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    return spark


@contextmanager
def conf_overrides(spark: SparkSession, settings: dict[str, str]) -> Iterator[None]:
    """Set session conf keys for the block, then leave each key as found:
    back to its old value if it was set, unset if it was not (a key
    absent from ``spark.conf.getAll`` reads its default, which a plain
    ``conf.set(conf.get(key))`` would pin as an explicit setting)."""
    before = dict(spark.conf.getAll)
    try:
        for key, value in settings.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key in settings:
            if key in before:
                spark.conf.set(key, before[key])
            else:
                spark.conf.unset(key)
