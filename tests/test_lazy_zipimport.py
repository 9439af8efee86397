"""The package's zipimport backport (``_lazy_zipimport``): invalidating
import caches reads no zip directory, and a rewritten archive is still
seen by the next import; and a Python worker has it before its first
task."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import etl_upc_syllabus_spark  # noqa: F401  (installs the backport)
from etl_upc_syllabus_spark.session import conf_overrides


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


def test_invalidate_caches_reads_no_zip_directory(tmp_path, monkeypatch):
    archive = str(tmp_path / "two_pkgs.zip")
    modules = {
        "lzi_pkg_a/__init__.py": "",
        "lzi_pkg_a/mod.py": "VALUE = 'a'\n",
        "lzi_pkg_b/__init__.py": "",
        "lzi_pkg_b/mod.py": "VALUE = 'b'\n",
    }
    _write_zip(archive, modules)
    names = ("lzi_pkg_a", "lzi_pkg_a.mod", "lzi_pkg_b", "lzi_pkg_b.mod", "lzi_pkg_a.new_mod")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("lzi_pkg_a.mod").VALUE == "a"
        assert importlib.import_module("lzi_pkg_b.mod").VALUE == "b"
        importers = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == archive
        ]
        # the archive root plus one importer per package
        assert len(importers) >= 2, importers

        reads = []
        real_read = zipimport._read_directory

        def counting_read(path):
            if path == archive:
                reads.append(path)
            return real_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        assert reads == []  # one read per importer before 3.12 semantics

        # a changed archive is still seen: the next import that needs the
        # directory re-reads it once, for all importers into the archive
        _write_zip(archive, {**modules, "lzi_pkg_a/new_mod.py": "VALUE = 'new'\n"})
        importlib.invalidate_caches()
        assert reads == []
        assert importlib.import_module("lzi_pkg_a.new_mod").VALUE == "new"
        assert reads == [archive]
    finally:
        for name in names:
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="the backport is for 3.10 and 3.11")
def test_worker_has_the_backport_before_its_first_task(spark):
    """A worker that has only run a plain lambda -- no function of the
    package unpickled -- already has the backport: the daemon installed
    it before the fork. Hidden tracebacks add a variable to the workers'
    environment, and Spark keeps one worker pool per environment, so the
    query runs on a pool of its own, fresh whatever ran before."""

    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        files = zipimport.zipimporter.__dict__.get("_files")
        yield pd.DataFrame({"owner": [getattr(getattr(files, "fget", None), "__module__", None)]})

    conf = {"spark.sql.execution.pyspark.udf.hideTraceback.enabled": "true"}
    with conf_overrides(spark, conf):
        owners = {r.owner for r in spark.range(4).mapInPandas(probe, "owner string").collect()}
    assert owners == {"etl_upc_syllabus_spark._lazy_zipimport"}
