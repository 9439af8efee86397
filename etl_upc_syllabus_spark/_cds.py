"""The driver JVM's class-data archive: where it lives, when it is used,
recorded or left out, and how a recording becomes the archive.

See the ``session`` module docstring for why the archive exists and
what it costs. Files in :data:`ARCHIVE_DIR`:

- ``<key>.jsa``: the archive, with ``<key>.size`` holding its byte
  count (a JVM that maps a truncated archive dies of SIGBUS, so an
  archive whose size does not match is never handed to one);
- ``<key>.lock``: the pid of the one process recording ``<key>``;
- ``<key>.<pid>.tmp``: the archive that process's JVM writes at exit;
- ``conf/``: an empty ``SPARK_CONF_DIR`` for both recording and mapping
  (JDK 17 refuses to record with a non-empty directory on the class
  path, and a JVM maps only an archive recorded on its class path).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shlex
import shutil
import subprocess
from dataclasses import dataclass

from pyspark.sql import SparkSession

ARCHIVE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cds"
)
_JAVA_OPTIONS = "spark.driver.defaultJavaOptions"
# the dump of a cold pass's classes took 13-15 s on a 4-core host
_DUMP_WAIT_S = 300
# HotSpot turns compressed oops off from a 32 GiB heap on, and an archive
# records the mode it was made in
_COOPS_LIMIT = 32 << 30
_UNITS = {"": 1 << 20, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


@dataclass
class _Recording:
    key: str
    tmp: str
    lock: str
    jars_dir: str
    coops: bool

    @property
    def jsa(self) -> str:
        return os.path.join(ARCHIVE_DIR, self.key + ".jsa")


def get_or_create(builder: SparkSession.Builder, java_options: str,
                  driver_memory: str) -> SparkSession:
    """``builder.getOrCreate()`` with ``java_options`` as the driver's
    default JVM options. When the call launches the driver JVM, the JVM
    maps this checkout's archive, or records it when there is none and
    no other process is recording; ``SPARK_CONF_DIR`` is left as found."""
    from pyspark import SparkContext

    plan = _plan(driver_memory) if SparkContext._gateway is None else None
    if plan is None:
        return builder.config(_JAVA_OPTIONS, java_options).getOrCreate()
    flags, recording = plan
    builder.config(_JAVA_OPTIONS, f"{java_options} {flags} -Xlog:cds*=off")
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(ARCHIVE_DIR, "conf")
    try:
        spark = builder.getOrCreate()
    except BaseException:
        if recording is not None:
            _release(recording)
        raise
    finally:
        if conf_dir is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = conf_dir
    if recording is not None:
        atexit.register(_promote, SparkContext._gateway.proc, recording,
                        _runs_as_keyed(spark, recording))
    return spark


def _plan(driver_memory: str) -> tuple[str, _Recording | None] | None:
    """(JVM flags, the recording they start or None), or None to launch
    without an archive: the conf dir holds real configuration, the JDK
    or the jars cannot be read, or another process is recording."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None or not _templates_only(conf_dir):
        return None
    jars_dir = os.path.join(spark_home, "jars")
    coops = _bytes(driver_memory) < _COOPS_LIMIT
    try:
        key = _key(os.path.realpath(java), jars_dir, coops)
        os.makedirs(os.path.join(ARCHIVE_DIR, "conf"), exist_ok=True)
        _clear_dead()
        jsa = os.path.join(ARCHIVE_DIR, key + ".jsa")
        if _intact(jsa):
            return shlex.quote(f"-XX:SharedArchiveFile={jsa}"), None
        lock = os.path.join(ARCHIVE_DIR, key + ".lock")
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
    except OSError:  # FileExistsError included: another process records
        return None
    with os.fdopen(fd, "w") as fh:
        fh.write(str(os.getpid()))
    tmp = os.path.join(ARCHIVE_DIR, f"{key}.{os.getpid()}.tmp")
    return (shlex.quote(f"-XX:ArchiveClassesAtExit={tmp}"),
            _Recording(key, tmp, lock, jars_dir, coops))


def _templates_only(conf_dir: str) -> bool:
    """A Spark conf dir Spark reads nothing from (absent, or only
    ``*.template`` files), so an empty one can stand in for it."""
    try:
        return all(name.endswith(".template") for name in os.listdir(conf_dir))
    except FileNotFoundError:
        return True
    except OSError:
        return False


def _bytes(memory: str) -> int:
    """A Spark memory string (``8g``, ``1024m``; a bare number is MiB)
    in bytes."""
    number, unit = re.fullmatch(r"(\d+)([kmgt]?)b?", memory.strip().lower()).groups()
    return int(number) * _UNITS[unit]


def _key(java: str, jars_dir: str, coops: bool) -> str:
    """A hash of what the JVM checks an archive against, and rejects it
    for without a word when logging is off: the JDK, the class path --
    the jars and :data:`ARCHIVE_DIR`, whose ``conf/`` is on it, so a
    moved or copied checkout records its own archive -- and the
    compressed-oops mode."""
    h = hashlib.sha256()
    h.update(f"{ARCHIVE_DIR}\n".encode())
    st = os.stat(java)
    h.update(f"{java}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    for entry in sorted(os.scandir(jars_dir), key=lambda e: e.name):
        if entry.name.endswith(".jar"):
            st = entry.stat()
            h.update(f"{entry.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    h.update(b"coops" if coops else b"no-coops")
    return h.hexdigest()[:16]


def _intact(jsa: str) -> bool:
    try:
        with open(jsa.removesuffix(".jsa") + ".size") as fh:
            return os.path.getsize(jsa) == int(fh.read())
    except (OSError, ValueError):
        return False


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _clear_dead() -> None:
    """Delete the locks and part-written archives of processes that died
    recording: their keys are recorded again."""
    for name in os.listdir(ARCHIVE_DIR):
        path = os.path.join(ARCHIVE_DIR, name)
        try:
            if name.endswith(".lock"):
                with open(path) as fh:
                    pid = int(fh.read())
            elif name.endswith(".tmp"):
                pid = int(name.split(".")[-2])
            else:
                continue
            if not _alive(pid):
                os.remove(path)
        except (OSError, ValueError):  # a lock not written yet, or gone
            continue


def _runs_as_keyed(spark: SparkSession, rec: _Recording) -> bool:
    """Whether the recording JVM runs with the class path and oops mode
    its key stands for; ``PYSPARK_SUBMIT_ARGS`` can change either (say
    ``--driver-class-path``), and an archive made so would fail every
    default launch."""
    jvm = spark.sparkContext._jvm
    hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    coops = hotspot.getVMOption("UseCompressedOops").getValue() == "true"
    class_path = jvm.java.lang.System.getProperty("java.class.path").split(os.pathsep)
    conf_dir = os.path.join(ARCHIVE_DIR, "conf")
    return coops == rec.coops and all(
        os.path.normpath(entry) == conf_dir or os.path.dirname(entry) == rec.jars_dir
        for entry in class_path
    )


def _promote(proc: subprocess.Popen, rec: _Recording, keep: bool) -> None:
    """At exit: stop the session and wait for the recording JVM to write
    its archive, then make that the checkout's only archive. A JVM that
    outlived this process would finish its dump unseen, so the wait is
    not skipped."""
    from pyspark import SparkContext

    try:
        if proc.poll() is None:
            try:
                if SparkContext._active_spark_context is not None:
                    SparkContext._active_spark_context.stop()
                SparkContext._gateway.shutdown()
            finally:
                # the gateway JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=_DUMP_WAIT_S)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        if keep and proc.returncode == 0 and os.path.isfile(rec.tmp):
            for name in os.listdir(ARCHIVE_DIR):
                if name.endswith((".jsa", ".size")) and not name.startswith(rec.key + "."):
                    os.remove(os.path.join(ARCHIVE_DIR, name))
            with open(rec.jsa.removesuffix(".jsa") + ".size", "w") as fh:
                fh.write(str(os.path.getsize(rec.tmp)))
            os.replace(rec.tmp, rec.jsa)
    finally:
        _release(rec)


def _release(rec: _Recording) -> None:
    for path in (rec.tmp, rec.lock):
        try:
            os.remove(path)
        except FileNotFoundError:
            pass
