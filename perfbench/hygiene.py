"""Between-job hygiene, done from outside the program.

Before a job the benchmark snapshots the shared session; after it, it
counts what the job left behind and releases it, so that no timed job
reuses an earlier job's work:

* persisted RDDs (``getPersistentRDDs``), unpersisted;
* cached plans (the cache manager is not empty), cleared;
* temporary views that are new since the job started, dropped;
* session-conf keys the job added or changed, restored;
* entries the job left in the temp directory (stream staging copies,
  checkpoints), deleted. These are files, not session objects, and are
  counted apart from ``leaked_objects``.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field


@dataclass
class Snapshot:
    views: set[str]
    conf: dict[str, str]
    tmp_entries: set[str]


@dataclass
class Leaks:
    rdds: int = 0
    cached_plans: int = 0
    views: int = 0
    conf_keys: int = 0
    files: int = 0
    conf_changed: list[str] = field(default_factory=list)

    @property
    def objects(self) -> int:
        return self.rdds + self.cached_plans + self.views + self.conf_keys

    def add(self, other: Leaks) -> None:
        self.rdds += other.rdds
        self.cached_plans += other.cached_plans
        self.views += other.views
        self.conf_keys += other.conf_keys
        self.files += other.files
        self.conf_changed += other.conf_changed


class SessionHygiene:
    def __init__(self, spark, tmp_dir: str) -> None:
        self._spark = spark
        self._tmp_dir = tmp_dir
        self._catalog = spark._jsparkSession.sessionState().catalog()
        self._cache_manager = spark._jsparkSession.sharedState().cacheManager()

    def _temp_views(self) -> set[str]:
        # the session catalog directly: the public Catalog API's
        # listTables also initializes the external catalog, work the
        # benchmark would otherwise do on the program's behalf
        it = self._catalog.listLocalTempViews("*").iterator()
        names = set()
        while it.hasNext():
            names.add(it.next().table())
        return names

    def snapshot(self) -> Snapshot:
        return Snapshot(
            views=self._temp_views(),
            conf=dict(self._spark.conf.getAll),
            tmp_entries=set(os.listdir(self._tmp_dir)),
        )

    def release(self, before: Snapshot) -> Leaks:
        spark = self._spark
        leaks = Leaks()
        persistent = spark.sparkContext._jsc.getPersistentRDDs()
        leaks.rdds = persistent.size()
        for rdd in list(persistent.values()):
            rdd.unpersist(True)
        leaks.cached_plans = 0 if self._cache_manager.isEmpty() else 1
        self._cache_manager.clearCache()
        new_views = self._temp_views() - before.views
        leaks.views = len(new_views)
        for name in new_views:
            self._catalog.dropTempView(name)
        now = dict(spark.conf.getAll)
        for key in sorted(set(now) | set(before.conf)):
            if now.get(key) == before.conf.get(key):
                continue
            leaks.conf_changed.append(key)
            if key in before.conf:
                spark.conf.set(key, before.conf[key])
            else:
                spark.conf.unset(key)
        leaks.conf_keys = len(leaks.conf_changed)
        new_entries = set(os.listdir(self._tmp_dir)) - before.tmp_entries
        leaks.files = len(new_entries)
        for entry in new_entries:
            path = os.path.join(self._tmp_dir, entry)
            if os.path.isdir(path) and not os.path.islink(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.unlink(path)
        return leaks
