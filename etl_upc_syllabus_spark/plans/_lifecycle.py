"""Caller-owned persist lifecycle for plan functions.

Plan functions that persist corpus-sized intermediates (shingle
arrays, LSH candidate pairs) must not pin those caches for the life of
a shared session: bench and driver runs execute hundreds of registry
queries in ONE SparkSession, so never-released caches accumulate and
starve later queries' hash aggregates of unified-pool memory (ADVICE
r6). The convention -- set by operators/graph.py's triangle family --
is release-after-materialize: eagerly materialize the BOUNDED result
via localCheckpoint, then unpersist the big inputs in a finally block
so even a failed materialization cannot leak them.

Use this for results that are small relative to the cached inputs
(pair lists, per-doc scalars, recall tables).

The rule has no exceptions: every plan function that persists
corpus-sized intermediates routes them through
:func:`release_after_materialize`, so no registry query leaves a cached
plan behind and no later call (a benchmark's timed run included)
reuses an earlier call's work. The ``_build_*`` companions hand their
caches back to the registry fn that calls them, which releases them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def release_after_materialize(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize ``result`` eagerly, then unpersist ``cached`` inputs.

    The returned DataFrame reads from the localCheckpoint, so it no
    longer references the cached inputs' lineage; callers get a plain
    scan with identical schema and values.
    """
    try:
        return result.localCheckpoint(eager=True)
    finally:
        for df in cached:
            df.unpersist()
