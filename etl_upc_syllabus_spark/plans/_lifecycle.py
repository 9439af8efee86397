"""Caller-owned lifecycle for what a plan function holds.

A registry query runs in a session it shares with every other query
(a benchmark or a correctness sweep runs hundreds of them in ONE
SparkSession), so nothing it creates may outlive its call: not a persisted
intermediate (it pins unified-pool memory and starves later queries'
aggregates, ADVICE r6), not a staged copy of its input on disk, and not
a table registered in the catalog. A later call -- a benchmark's timed
run included -- must do all of its own work.

One rule covers all three: release-after-materialize. The function
builds its result over what it holds, materializes the BOUNDED result
eagerly via localCheckpoint, then releases each held item in a finally
block, so even a failed materialization cannot leak them:

- a persisted DataFrame is unpersisted;
- anything else is a zero-argument callable that releases it: a
  ``shutil.rmtree`` of a staged temp dir, a ``DROP TABLE`` of a table
  named after that dir.

Use this for results that are small relative to what they are built
from (pair lists, per-doc scalars, recall tables, aggregates of a
staged copy). The ``_build_*`` companions hand their held items back
to the registry fn that calls them, which releases them.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def release_after_materialize(
    result: DataFrame, *held: DataFrame | Callable[[], object]
) -> DataFrame:
    """Materialize ``result`` eagerly, then release every ``held`` item.

    The returned DataFrame reads from the localCheckpoint, so it no
    longer references the held items' lineage; callers get a plain
    scan with identical schema and values.
    """
    try:
        return result.localCheckpoint(eager=True)
    finally:
        for item in held:
            if isinstance(item, DataFrame):
                item.unpersist()
            else:
                item()
