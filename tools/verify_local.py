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

The session conf is snapshotted around each query and restored after
it; a query that leaves keys added or changed gets them listed on its
line (``conf changed: [...]``) and counted in the summary, since a
registry query must leave the shared session as it found it.
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
    for name in names:
        spec = specs[name]
        conf_before = dict(spark.conf.getAll)
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
        changed = _restore_conf(spark, conf_before)
        if changed:
            conf_leaks[name] = changed
        note = f"  conf changed: {changed}" if changed else ""
        print(f"{name:35s} {status:24s} {elapsed:6.2f}s{note}", flush=True)
    print(f"\n{len(names) - len(failures)}/{len(names)} passed; failures: {failures}")
    print(f"{len(conf_leaks)} queries changed the session conf: {conf_leaks}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
