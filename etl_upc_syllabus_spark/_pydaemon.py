"""The Python worker daemon of sessions built by ``session.get_spark``.

Spark starts it as ``python -m etl_upc_syllabus_spark._pydaemon
pyspark.worker`` (``spark.python.daemon.module``) and forks every Python
worker from it. Before the first fork it imports, once, the modules
every task needs: the stock daemon and its worker, the Arrow/pandas
serializers, the package (whose ``__init__`` installs the zipimport
fix) and the JSON sinks. pyspark.zip ships no bytecode, so each process
that imports pyspark from it compiles it from source; forked workers
inherit the compiled modules instead. pandas and pyarrow stay out:
importing pyarrow starts jemalloc's background thread, and forking a
multi-threaded process is unsafe. The heap is then frozen, so the
daemon's per-task ``gc.collect()`` in each worker neither walks nor
copies the inherited objects.
"""

from __future__ import annotations

import gc
import os
import threading


def os_threads() -> set:
    """This process's OS threads (native ones included)."""
    try:
        return set(os.listdir("/proc/self/task"))
    except FileNotFoundError:  # no procfs: the threads Python knows of
        return {t.native_id for t in threading.enumerate()}


def require_no_new_threads(before: set) -> None:
    """Raise if a thread not in ``before`` is alive: the preload must
    not leave the daemon with a thread the stock daemon forks without."""
    new = os_threads() - before
    if new:
        raise RuntimeError(
            f"the Python daemon's preload started {len(new)} thread(s); "
            "forking a multi-threaded process is unsafe"
        )


def main() -> None:
    # the stock daemon imports the worker module named in argv; what
    # that starts (numpy's OpenBLAS pool, which stops itself around a
    # fork) the stock daemon forks with too
    import pyspark.daemon

    stock = os_threads()
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.sql.pandas.types  # noqa: F401
    import pyspark.sql.pandas.utils  # noqa: F401

    import etl_upc_syllabus_spark.pipeline.sinks  # noqa: F401

    require_no_new_threads(stock)
    gc.freeze()
    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
