"""Launch-time settings of the sessions ``session.get_spark`` builds: the
driver JVM's start-up JIT policy, its class-data archive and what the
Python daemon loads before it forks a worker."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import zipfile

import pytest

from etl_upc_syllabus_spark.session import JIT_POLICY

from .test_cli import _REPO, _run_fresh_session, _small_corpus


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


def _archive_dir(path) -> str:
    """Code that points the fresh session's archive at ``path``."""
    return f"import etl_upc_syllabus_spark._cds as _cds; _cds.ARCHIVE_DIR = {str(path)!r}\n"


# what the fresh session maps from its archive dir, the query result, and
# the conf it ran with
_ARCHIVE_PROBE = """
from pyspark import SparkContext
with open(f"/proc/{SparkContext._gateway.proc.pid}/maps") as fh:
    mapped = {line.split()[-1] for line in fh if line.rstrip().endswith(".jsa")}
print(json.dumps({
    "mapped": sorted(os.path.basename(p) for p in mapped
                     if os.path.dirname(p) == _cds.ARCHIVE_DIR),
    "sum": spark.range(1000).selectExpr("sum(id * id)").first()[0],
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "probe": spark.sparkContext.getConf().get("spark.graft.probe", None),
}))
"""
_SUM = sum(i * i for i in range(1000))


def _probe(tmp_path, archive_dir, env=None) -> dict:
    return _run_fresh_session(_ARCHIVE_PROBE, tmp_path, env=env, before=_archive_dir(archive_dir))


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """(archive dir, archive name, probe): a first session that found no
    archive and recorded one. The archive (100-200 MB) is deleted after
    the module, as are the ones the tests below record."""
    archive_dir = tmp_path_factory.mktemp("cds")
    got = _probe(tmp_path_factory.mktemp("first"), archive_dir)
    [jsa] = [n for n in os.listdir(archive_dir) if n.endswith(".jsa")]
    yield archive_dir, jsa, got
    shutil.rmtree(archive_dir)


def test_second_session_maps_the_archive_the_first_recorded(recorded, tmp_path):
    archive_dir, jsa, first = recorded
    key = jsa.removesuffix(".jsa")
    # the recording JVM maps no archive of ours; it left the archive, its
    # size and the empty conf dir, and no lock or part-written dump
    assert first == {"mapped": [], "sum": _SUM, "conf_dir": os.environ.get("SPARK_CONF_DIR"),
                     "probe": None}
    assert sorted(os.listdir(archive_dir)) == sorted(["conf", jsa, f"{key}.size"])
    assert os.listdir(archive_dir / "conf") == []

    assert _probe(tmp_path, archive_dir) == first | {"mapped": [jsa]}


def _truncated(_tmp_path, archive_dir, jsa, _env):
    # in place: the archive dir is part of the key, so a copy would be
    # another checkout's dir and record an archive of its own
    os.chmod(archive_dir / jsa, 0o644)
    with open(archive_dir / jsa, "r+b") as fh:
        fh.truncate(os.path.getsize(archive_dir / jsa) // 2)
    return archive_dir


def _class_path(tmp_path, archive_dir, _jsa, env):
    with zipfile.ZipFile(tmp_path / "extra.jar", "w") as jar:
        jar.writestr("graft/probe.txt", "1")
    env["PYSPARK_SUBMIT_ARGS"] = f"--driver-class-path {tmp_path / 'extra.jar'} pyspark-shell"
    return archive_dir


def _real_conf_dir(tmp_path, archive_dir, _jsa, env):
    (tmp_path / "conf").mkdir()
    (tmp_path / "conf" / "spark-defaults.conf").write_text("spark.graft.probe  from-defaults\n")
    env["SPARK_CONF_DIR"] = str(tmp_path / "conf")
    return archive_dir


@pytest.mark.parametrize("damage", [_truncated, _class_path, _real_conf_dir],
                         ids=["truncated_archive", "changed_class_path", "real_conf_dir"])
def test_session_starts_without_an_archive_it_cannot_use(recorded, tmp_path, damage):
    """Each of these launches maps no archive and runs the query right: a
    JVM handed a truncated archive dies of SIGBUS, one with another class
    path ignores it, and a conf dir with real files must stay the one
    Spark reads."""
    archive_dir, jsa, _ = recorded
    env = {}
    archive_dir = damage(tmp_path, archive_dir, jsa, env)
    got = _probe(tmp_path, archive_dir, env)
    assert got["mapped"] == [] and got["sum"] == _SUM
    assert got["conf_dir"] == env.get("SPARK_CONF_DIR", os.environ.get("SPARK_CONF_DIR"))
    if damage is _real_conf_dir:
        assert got["probe"] == "from-defaults"
    # the truncated archive was recorded again; the others stay as found
    key = jsa.removesuffix(".jsa")
    with open(archive_dir / f"{key}.size") as fh:
        assert os.path.getsize(archive_dir / jsa) == int(fh.read())
    assert sorted(os.listdir(archive_dir)) == sorted(["conf", jsa, f"{key}.size"])


# the bytes of each of its archive dir's archives the fresh session's JVM
# has mapped: a full map, not only the file's presence in the maps
_MAPPED_PROBE = """
from pyspark import SparkContext
mapped = {}
with open(f"/proc/{SparkContext._gateway.proc.pid}/maps") as fh:
    for line in fh:
        fields = line.split()
        if len(fields) == 6 and os.path.dirname(fields[5]) == _cds.ARCHIVE_DIR:
            lo, hi = (int(x, 16) for x in fields[0].split("-"))
            name = os.path.basename(fields[5])
            mapped[name] = mapped.get(name, 0) + hi - lo
print(json.dumps(mapped))
"""


def test_copied_archive_dir_records_its_own_archive(recorded, tmp_path):
    """The archive dir's ``conf/`` is on the class path, so an archive
    recorded in one checkout is rejected in a copy of it. The copy's
    first session records an archive of its own, and the next session
    maps that one in full."""
    archive_dir, jsa, _ = recorded
    copy = tmp_path / "cds"
    shutil.copytree(archive_dir, copy)
    run = lambda: _run_fresh_session(_MAPPED_PROBE, tmp_path, before=_archive_dir(copy))  # noqa: E731

    assert run() == {}
    [own] = [n for n in os.listdir(copy) if n.endswith(".jsa")]
    assert own != jsa
    mapped = run()
    assert list(mapped) == [own]
    assert mapped[own] >= 0.9 * os.path.getsize(copy / own), (mapped, os.path.getsize(copy / own))
    shutil.rmtree(copy)


def test_recording_on_another_class_path_is_discarded(tmp_path):
    """A recording JVM whose class path is not the one its key stands for
    would leave an archive that every default launch ignores: its dump
    is dropped, and the next default session records again."""
    env = {}
    archive_dir = _class_path(tmp_path, tmp_path / "cds", None, env)
    got = _probe(tmp_path, archive_dir, env)
    assert got["mapped"] == [] and got["sum"] == _SUM
    assert os.listdir(archive_dir) == ["conf"]


def test_cli_recording_an_archive_prints_only_its_own_lines(tmp_path):
    """``python -m etl_upc_syllabus_spark`` in a checkout with no archive
    records one: its output is the CLI's lines and no JVM logging about
    the archive, and no JVM outlives it."""
    raw = tmp_path / "raw"
    _small_corpus(raw)
    archive_dir = tmp_path / "cds"
    pid_file = tmp_path / "jvm.pid"
    script = (
        f"import sys; sys.path.insert(0, {_REPO!r})\n" + _archive_dir(archive_dir)
        + "import atexit, runpy\n"
        "def jvm_pid():\n"
        "    from pyspark import SparkContext\n"
        f"    open({str(pid_file)!r}, 'w').write(str(SparkContext._gateway.proc.pid))\n"
        "atexit.register(jvm_pid)\n"
        "runpy.run_module('etl_upc_syllabus_spark', run_name='__main__', alter_sys=True)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script, str(raw), str(tmp_path / "data")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout == (
        "Processed 2 courses successfully\n"
        "Quarantined 1 unparseable documents (see quarantine.json)\n"
    )
    assert "[cds" not in proc.stderr and "[warning]" not in proc.stderr
    assert not os.path.exists(f"/proc/{pid_file.read_text()}")
    assert [n for n in os.listdir(archive_dir) if n.endswith(".jsa")]
    shutil.rmtree(archive_dir)
