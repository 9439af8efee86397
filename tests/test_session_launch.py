"""Launch-time settings of the sessions ``session.get_spark`` builds: the
driver JVM's start-up JIT policy and what the Python daemon loads before
it forks a worker."""

from __future__ import annotations

from etl_upc_syllabus_spark.session import JIT_POLICY

from .test_cli import _run_fresh_session


def _policy() -> dict[str, str]:
    return dict(flag.removeprefix("-XX:").split("=") for flag in JIT_POLICY.split())


def test_jit_policy_reaches_the_driver_jvm(spark):
    """Spark adds -XX:+IgnoreUnrecognizedVMOptions to the driver JVM, so a
    misspelt or withdrawn flag would be dropped without a word: read the
    values the JVM runs with (an unknown name raises)."""
    jvm = spark.sparkContext._jvm
    hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    got = {name: hotspot.getVMOption(name).getValue() for name in _policy()}
    assert got["Tier4InvocationThreshold"] == "15000"
    assert got == _policy()


def test_jit_policy_keeps_the_submit_args_java_options(tmp_path):
    """The policy goes before ``--driver-java-options`` from
    PYSPARK_SUBMIT_ARGS instead of replacing them: the JVM gets both."""
    args = _run_fresh_session(
        "mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory\n"
        "print(json.dumps(list(mx.getRuntimeMXBean().getInputArguments())))\n",
        tmp_path,
        env={"PYSPARK_SUBMIT_ARGS": "--driver-java-options '-Dgraft.probe=1' pyspark-shell"},
    )
    assert "-Dgraft.probe=1" in args
    assert set(JIT_POLICY.split()) <= set(args)


def test_workers_fork_from_a_daemon_with_pandas_and_pyarrow_loaded(spark):
    """A worker's parent is the engine's daemon; its memory map holds
    pandas' and pyarrow's native libraries (loaded before the first
    fork), and it runs no jemalloc background thread."""

    def daemon_state(_):
        import os

        proc = f"/proc/{os.getppid()}"
        with open(f"{proc}/cmdline", "rb") as fh:
            argv = fh.read().decode().split("\0")
        with open(f"{proc}/maps") as fh:
            maps = fh.read()
        threads = []
        for task in os.listdir(f"{proc}/task"):
            with open(f"{proc}/task/{task}/comm") as fh:
                threads.append(fh.read().strip())
        return [argv[argv.index("-m") + 1], "pandas/_libs" in maps, "libarrow" in maps, threads]

    [(module, pandas_loaded, arrow_loaded, threads)] = (
        spark.sparkContext.parallelize([0], 1).map(daemon_state).collect()
    )
    assert module == "etl_upc_syllabus_spark._pydaemon"
    assert pandas_loaded and arrow_loaded
    assert "jemalloc_bg_thd" not in threads
