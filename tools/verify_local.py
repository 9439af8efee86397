"""Local replica of the driver's correctness pass.

Usage: python tools/verify_local.py [name ...]
       python tools/verify_local.py --unverified   # every query with no STANDING
                                                   # green verdict in the
                                                   # CORRECTNESS_r*.json files
                                                   # (never-verified or
                                                   # broken-latest)
       python tools/verify_local.py --all

Runs each registered query at sf0.01 and compares it against its
DuckDB oracle with tests.oracle_harness.compare (harsher than the
driver's value hash). Prints one line per query plus a summary. No
arguments, an unknown flag or a name not in the registry prints the
usage line and exits 2 before any Spark session starts.

A registry query must leave the shared session as it found it. The
session is snapshotted around each query and put back after it; what
the query left behind is listed on its line and counted in the
summary: session-conf keys it added or changed (``conf changed:
[...]``, restored), temp views it created (``new views: [...]``,
dropped) and a non-empty cache manager (``cached plans``, cleared).
"""

from __future__ import annotations

import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from etl_upc_syllabus_spark.plans.registry import (  # noqa: E402
    _verified_names,
    all_specs,
)
from etl_upc_syllabus_spark.session import get_spark  # noqa: E402
from tests.oracle_harness import compare, duckdb_run  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
USAGE = "usage: python tools/verify_local.py [--all | --unverified | name ...]"


def _restore_conf(spark, before: dict[str, str]) -> list[str]:
    """Put the session conf back to ``before``; return the keys that differed."""
    now = dict(spark.conf.getAll)
    changed = sorted(k for k in set(now) | set(before) if now.get(k) != before.get(k))
    for key in changed:
        if key in before:
            spark.conf.set(key, before[key])
        else:
            spark.conf.unset(key)
    return changed


def _temp_views(spark) -> set[str]:
    """Session-local temp views, read from the session catalog (the
    public ``listTables`` would also initialize the external catalog)."""
    it = spark._jsparkSession.sessionState().catalog().listLocalTempViews("*").iterator()
    names = set()
    while it.hasNext():
        names.add(it.next().table())
    return names


def _drop_new_views(spark, before: set[str]) -> list[str]:
    """Drop the temp views created since ``before``; return their names."""
    new = sorted(_temp_views(spark) - before)
    for name in new:
        spark.catalog.dropTempView(name)
    return new


def _clear_cached_plans(spark) -> bool:
    """Clear the cache manager; return whether it held any plan."""
    cached = not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    if cached:
        spark.catalog.clearCache()
    return cached


def main() -> int:
    specs = all_specs()
    args = sys.argv[1:]
    if args == ["--unverified"]:
        verified = _verified_names()
        names = [n for n in specs if n not in verified]
    elif args == ["--all"]:
        names = list(specs)
    else:
        names = args
    unknown = [a for a in names if a not in specs]
    if not args or unknown:
        print(USAGE, file=sys.stderr)
        if unknown:
            print(f"unknown flag or query: {' '.join(unknown)}", file=sys.stderr)
        return 2
    spark = get_spark("verify_local")
    failures: list[str] = []
    conf_leaks: dict[str, list[str]] = {}
    view_leaks: dict[str, list[str]] = {}
    cache_leaks: list[str] = []
    for name in names:
        spec = specs[name]
        conf_before = dict(spark.conf.getAll)
        views_before = _temp_views(spark)
        t0 = time.perf_counter()
        try:
            sdf = spec.fn(spark, SF_DIR)
            if spec.oracle is None:
                n = sdf.count()
                status = f"rows-only ({n} rows)"
            else:
                compare(sdf, duckdb_run(spec.oracle, SF_DIR), name)
                status = "ok"
        except Exception as e:  # noqa: BLE001
            status = f"FAIL {type(e).__name__}"
            failures.append(name)
            traceback.print_exc(limit=4)
        elapsed = time.perf_counter() - t0
        note = ""
        changed = _restore_conf(spark, conf_before)
        if changed:
            conf_leaks[name] = changed
            note += f"  conf changed: {changed}"
        views = _drop_new_views(spark, views_before)
        if views:
            view_leaks[name] = views
            note += f"  new views: {views}"
        if _clear_cached_plans(spark):
            cache_leaks.append(name)
            note += "  cached plans"
        print(f"{name:35s} {status:24s} {elapsed:6.2f}s{note}", flush=True)
    print(f"\n{len(names) - len(failures)}/{len(names)} passed; failures: {failures}")
    print(f"{len(conf_leaks)} queries changed the session conf: {conf_leaks}")
    print(f"{len(view_leaks)} queries left temp views: {view_leaks}")
    print(f"{len(cache_leaks)} queries left cached plans: {cache_leaks}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
