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

The driver JVM also starts from a dynamic class-data (AppCDS) archive
(``_cds``). The JVM loads about 10.6k classes while a session starts
and 12.8k more in the first pass, read, parsed and verified from 287
jars; a JVM started from the archive maps them instead. Measured on a
4-core host, 10 order-balanced perfbench pairs per workload
(``--trace 0``), medians without -> with the archive: ``doc_etl``
``setup_s`` 11.12 -> 7.01 CPU-s and ``first_pass_cpu_s`` 25.16 -> 19.83;
``registry_mix``, mapping the archive a ``doc_etl`` run recorded,
``setup_s`` 11.29 -> 6.62 and ``first_pass_cpu_s`` 37.04 -> 32.78;
steady-pass CPU and RSS within their spread. A fresh-process document
CLI on 48 PDFs: wall 19.4 -> 12.7 s, JVM and worker CPU 36.9 -> 26.9
CPU-s (10 pairs on each of two corpora).

- **Where.** ``.cds/`` at the checkout root, beside the package
  (gitignored): one ``<key>.jsa`` of 140-215 MB, larger when the
  recording session loaded more classes. The key hashes what the JVM
  checks an archive against and would reject it for in silence: the
  ``java`` binary (path, size, mtime), the name, size and mtime of
  every jar in ``$SPARK_HOME/jars``, and the compressed-oops mode
  (driver memory under 32g or not). When a jar changes, the next
  session records a new archive and the old one is deleted.
- **Recording.** With no archive for the key, the first session to
  take ``<key>.lock`` runs with ``-XX:ArchiveClassesAtExit``; sessions
  started while it records launch without an archive. The dump happens
  when the JVM exits, so ``get_spark`` registers an ``atexit`` hook that
  stops the session, waits for the JVM (the dump took 13-15 s) and
  renames the dump to ``<key>.jsa``. The recording run costs more than
  a plain one (its perfbench ``doc_etl`` run: ``setup_s`` 16.76,
  ``first_pass_cpu_s`` 31.56, 15 s of shutdown wall), so the gain shows
  from the second session in a checkout on. A lock or dump left by a
  dead process is deleted by the next start.
- **Conf dir.** JDK 17 refuses to record with a non-empty directory on
  the class path, and Spark puts ``$SPARK_CONF_DIR`` (default
  ``$SPARK_HOME/conf``) first on it. When that directory holds only
  ``*.template`` files, which Spark never reads, the launch points
  ``SPARK_CONF_DIR`` at the empty ``.cds/conf`` and restores the
  variable afterwards. When it holds anything else, the session
  launches with no archive, exactly as before.
- **Logging.** ``-Xlog:cds*=off``: recording prints hundreds of
  ``[warning][cds] Skipping ... Signed JAR`` lines otherwise.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

from . import _cds

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the directory holding the package: the daemon is started by module
# name, from whatever directory the driver runs in
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# JDK 17's tier-4 thresholds (5000, 600, 15000, 40000) times three
JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=15000 -XX:Tier4MinInvocationThreshold=1800 "
    "-XX:Tier4CompileThreshold=45000 -XX:Tier4BackEdgeThreshold=120000"
)


def get_spark(app_name: str = "etl_upc_syllabus_spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
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
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "etl_upc_syllabus_spark._pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        # bitrot defense: verify parquet page CRCs at read. The r11
        # bitrot probe (tools/bitrot_probe.py) measured 9/12 random
        # mid-file corruptions reading SILENTLY WRONG without
        # verification (footer audit green, values off by 10^20), LOUD
        # CRC failures with it on checksummed files (Spark's own writer
        # emits page CRCs by default; the pyarrow-written driver
        # fixtures do not, where verification is a no-op), and
        # verification cost within host noise. The conf is plan-inert
        # and value-inert on healthy data (measured r11). A single read
        # can still turn it off with the per-read option.
        .config("spark.hadoop.parquet.page.verify-checksum.enabled", "true")
    )
    spark = _cds.get_or_create(builder, JIT_POLICY, driver_memory)
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
