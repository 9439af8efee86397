"""The benchmark's set-up: import the package and its query registry,
then build the SparkSession with ``session.get_spark``.

Imported first by the benchmark process, before anything heavy, so the
timed imports start cold.
"""

from __future__ import annotations

import subprocess
import time


def timed_setup():
    """(spark, {"import_s", "get_spark_s", "cpu_s"}): wall seconds of the
    two steps, and the CPU seconds set-up cost this process's main thread
    and the JVM tree it started."""
    from proctree import tree_usage

    cpu0 = time.thread_time()
    t0 = time.perf_counter()
    from etl_upc_syllabus_spark.plans import all_specs

    all_specs()
    t1 = time.perf_counter()
    from etl_upc_syllabus_spark.session import get_spark

    spark = get_spark()
    t2 = time.perf_counter()
    cpu_s = time.thread_time() - cpu0 + tree_usage(jvm_pid())[1]
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"import_s": t1 - t0, "get_spark_s": t2 - t1, "cpu_s": cpu_s}


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def shutdown(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    # the gateway JVM exits when its stdin closes
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise

