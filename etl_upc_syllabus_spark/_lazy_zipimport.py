"""CPython 3.12's lazy zipimport cache invalidation (gh-103200), installed
on 3.10 and 3.11.

On those interpreters ``zipimporter.invalidate_caches`` re-reads its
archive's whole central directory at once, and every importer into the
archive does so separately. PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task, and a warm
worker holds one zipimporter per pyspark subpackage it has imported from
``pyspark.zip`` (1,328 entries): 16-18 directory reads, about 0.1 CPU-s
on a 4-core x86 VM, per task before the task does any work.

Here, as in 3.12, ``_files`` reads the archive's entry in the shared
``zipimport._zip_directory_cache`` and re-reads the archive only on a
miss, and invalidating only drops that entry. A changed archive is still
seen by the next import that needs it; unchanged ones are never re-read.
"""

from __future__ import annotations

import sys
import zipimport


def _files(self) -> dict:
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _set_files(self, files: dict) -> None:
    # zipimporter.__init__ assigns the directory it has just stored in
    # the shared cache (before ``archive`` is set); the cache is the copy
    pass


def _invalidate_caches(self) -> None:
    zipimport._zip_directory_cache.pop(self.archive, None)


if (3, 10) <= sys.version_info < (3, 12):
    zipimport.zipimporter._files = property(_files, _set_files)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    # importers made before this point still hold their own copy of the
    # directory, now shadowed by the property
    for _finder in list(sys.path_importer_cache.values()):
        if isinstance(_finder, zipimport.zipimporter):
            vars(_finder).pop("_files", None)
