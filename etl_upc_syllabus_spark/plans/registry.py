"""Query registry: the single source of truth for the driver contract.

Every operator class from SURVEY.md section 2 (plus the LLM-pipeline
extension) registers one QuerySpec here: a Spark callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, the
equivalent DuckDB oracle SQL. ``__spark_entry__.py`` re-exports the
two maps.

Oracle-parity ground rules (applied in every spec, both engines):

- output columns are only string / int / bigint / double -- never raw
  timestamp or date (timezone + dtype drift across engines);
- every derived integer is cast to BIGINT on the Spark side (Spark
  ``size``/``length``/``year`` return int32, DuckDB returns int64);
- every float aggregate is ``round(x, N)`` with the same N on both
  sides (summation order differs across engines; rounding makes the
  hash stable);
- collected lists are sorted then joined to a single string
  (``array_join(sort_array(collect_list(..)))`` vs
  ``string_agg(.. ORDER BY ..)``) -- list order is nondeterministic in
  any parallel engine, exactly as it was in the reference's
  thread-pool (reference etl_pipeline.py:39-41).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None => driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in _REGISTRY:
        raise ValueError(f"duplicate query name {spec.name!r}")
    _REGISTRY[spec.name] = spec
    return spec


def query(name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    """Decorator form of :func:`register`."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        register(QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc, tags=tags))
        return fn

    return deco


def _load_all() -> None:
    """Import every module that registers specs (idempotent).

    Import order matters only as a tiebreak inside the two verification
    tiers (see ``all_specs``); modules whose queries still need a first
    driver verdict are imported first.
    """
    from . import stats_queries  # noqa: F401
    from . import events_queries  # noqa: F401
    from . import graph_queries  # noqa: F401
    from . import curation_queries  # noqa: F401
    from . import scd_queries  # noqa: F401
    from . import tpch_gap_queries  # noqa: F401
    from . import streaming_queries  # noqa: F401
    from . import text_queries  # noqa: F401
    from . import sampling_queries  # noqa: F401
    from . import similarity_queries  # noqa: F401
    from . import relational  # noqa: F401
    from . import pipeline_queries  # noqa: F401
    from . import extended_queries  # noqa: F401
    from . import dedup_queries  # noqa: F401
    from . import multimodal_queries  # noqa: F401


def _verification_rounds(root: str | None = None) -> dict[str, int]:
    """name -> effective verification round for re-check ordering.

    Reads the driver-written CORRECTNESS_r*.json files from ``root``
    (default: the repo root) when present: a green rows+schema+hash
    verdict advances the name to that round. These files are the only
    source of verdicts; a name none of them mentions stays unverified.
    A name whose NEWEST entry is broken (``err``
    recorded or ``hash_match`` explicitly false) maps to round 0
    regardless of any older green verdict -- a stale green must never
    outrank a fresh failure, or a regression (like the r3 fixture-type
    change) could sit outside the driver's bounded ~50-query re-check
    window while looking verified. The ``root`` parameter exists so
    tests can exercise this logic against synthetic records (ADVICE
    r4) instead of the live repo files.
    """
    import glob
    import json
    import os
    import re

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    rounds: dict[str, int] = {}
    latest: dict[str, tuple[int, bool]] = {}  # name -> (round, broken)
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 1
        try:
            with open(path, encoding="utf-8") as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if isinstance(data, dict):
            for k, v in data.items():
                if not isinstance(v, dict):
                    continue
                if v.get("hash_match") is True:
                    rounds[k] = max(rounds.get(k, 0), rnd)
                broken = v.get("err") is not None or v.get("hash_match") is False
                if k not in latest or rnd > latest[k][0]:
                    latest[k] = (rnd, broken)
    for k, (_, broken) in latest.items():
        if broken:
            rounds[k] = 0
    return rounds


def _verified_names() -> frozenset[str]:
    """Names whose CURRENT plan shape has a standing green verdict.

    Tier-0 names are excluded (review r12): a name demoted to round 0
    because its newest recorded verdict is broken is exactly what
    ``verify_local --unverified`` exists to re-run, so counting
    its key as 'verified' would hide it from the one tool meant to
    catch it.
    """
    return frozenset(k for k, v in _verification_rounds().items() if v > 0)


def all_specs() -> dict[str, QuerySpec]:
    """Registry contents, stalest-verdict-first.

    The driver verifies the FIRST ~50 entries each round, so ordering
    is the re-verification schedule: never-verified names first, then
    verified names by ascending last-green round (r1-verified before
    r2-verified, ...), so the bounded per-round pass always refreshes
    the entries whose verdicts are oldest. Registration order is
    preserved within each tier (stable sort).
    """
    _load_all()
    rounds = _verification_rounds()
    items = sorted(_REGISTRY.items(), key=lambda kv: rounds.get(kv[0], 0))
    return dict(items)


def queries_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql_map() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None}
