"""Local replica of the driver's correctness pass.

Usage: python tools/verify_local.py [name ...]
       python tools/verify_local.py --unverified   # every query with no STANDING
                                                   # green verdict for its current
                                                   # plan shape (never-verified,
                                                   # broken-latest, post-swap)
       python tools/verify_local.py --all
       python tools/verify_local.py --staged       # staged (non-driver) swap twins

Runs each registered query at sf0.01 and compares it against its
DuckDB oracle with tests.oracle_harness.compare (harsher than the
driver's value hash). Prints one line per query plus a summary.

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
    staged_specs,
)
from etl_upc_syllabus_spark.session import get_spark  # noqa: E402
from tests.oracle_harness import compare, duckdb_run  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


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
    elif args == ["--staged"]:
        # the evidence surface for sanctioned future registry swaps
        # (registry.py _STAGED) -- never part of the driver contract
        specs = staged_specs()
        names = list(specs)
    else:
        names = args
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
