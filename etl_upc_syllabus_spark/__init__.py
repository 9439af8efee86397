"""PySpark-native analytics engine with the query and data-processing
capabilities of remgo696/ETL-UPC-Syllabus, re-expressed Spark-first.

Layout (SURVEY.md section 7):

- ``session``    -- SparkSession builder tuned for local[32] test runs.
- ``sources``    -- parquet star-schema loaders, binary document source,
                    JSON sinks (reference etl_infrastructure.py:153-170).
- ``functions``  -- the scalar-function battery F1-F12 (SURVEY section 2.8)
                    as reusable Column builders.
- ``operators``  -- dedup / similarity / text-analysis / multimodal /
                    as-of-join operators (LLM-data-pipeline extension).
- ``plans``      -- the query registry: every SURVEY section 2 operator as a
                    (spark, sf_dir) -> DataFrame callable plus its DuckDB
                    oracle SQL.
- ``pipeline``   -- the syllabus document pipeline (reference parity:
                    parse state machine, nested course schema, sinks).
- ``streaming``  -- Structured Streaming surface over the events table.

Importing the package also installs ``_lazy_zipimport``, a backport of
CPython 3.12's lazy zipimport cache invalidation for 3.10 and 3.11, so
Python worker tasks stop re-reading pyspark.zip's directory once per
zipimporter (16-18 reads per task). In sessions built by
``session.get_spark`` the worker daemon (``_pydaemon``) imports the
package before it forks any worker, so every task has the fix; under a
session the driver built, a worker installs it when it first unpickles
a function of the engine. The backport is a no-op on 3.12+ and is
deleted once the interpreter floor reaches 3.12.
"""

from . import _lazy_zipimport  # noqa: F401

__version__ = "0.1.0"
