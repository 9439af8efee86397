"""Driver-contract queries for the syllabus document pipeline.

There are no syllabus tables in the driver fixtures, so these queries
build a deterministic in-memory raw-document corpus, run the FULL
distributed pipeline (Arrow parse stage -> quarantine -> calendar
aggregation), and are checked against hand-computed golden VALUES
oracles -- the strongest possible check for a parser: the expected
output is written down, not derived.
"""

from __future__ import annotations

import shutil
import tempfile
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import assemble, sinks
from ..pipeline.schema import RAW_DOC_SCHEMA
from ._lifecycle import release_after_materialize
from .registry import query


def _raw_docs(spark: SparkSession) -> DataFrame:
    def doc(filename, name, assessments):
        pages = [
            "Sílabo de Curso\nI. INFORMACIÓN GENERAL\n"
            f"Nombre del Curso : {name}\n"
            "Cuerpo académico : Ana Pérez, Luis Díaz\n"
            "Créditos : 4\nSemanas : 16\n"
            "II. MISIÓN Y VISIÓN DE LA UPC\n..."
        ]
        units_table = [
            ["Unidad n. 1: Fundamentos", "", "", "", ""],
            ["COMPETENCIA (S): base", "", "", "", ""],
            ["LOGRO DE LA UNIDAD: domina lo", "", "", "", ""],
            ["básico", "", "", "", ""],  # split row -> merged by C1 repair
            ["SEMANA", "TEMARIO", "ACTIVIDADES", "EVALUACIONES", "BIBLIOGRAFÍA"],
            ["Semana 1 - 16", "• t1 • t2", "• a1", "• e1", "• b1"],
        ]
        assessments_table = [
            ["TIPO", "COMPETENCIA", "PESO", "SEMANA", "OBSERVACIÓN", "RECUPERABLE"]
        ] + [[n, "g1", w, wk, "", rec] for (n, w, wk, rec) in assessments]
        return (filename, pages, units_table, assessments_table)

    rows = [
        doc(
            "UG-202520_1AEL0244-8281.pdf",
            "Matemática Básica",
            (("PRÁCTICA PC - 1", "15%", "4", "Sí"), ("EXAMEN FINAL - 1", "85%", "16", "No")),
        ),
        doc(
            "UG-202520_1AEL0321-9001.pdf",
            "Física I",
            (("PRÁCTICA PC - 1", "50%", "4", "Sí"), ("EXAMEN FINAL - 1", "50%", "15", "No")),
        ),
        ("bad-filename.pdf", ["I. INFORMACIÓN GENERAL"], [], []),
        (
            "UG-202520_1AEL0999-2222.pdf",
            ["I. INFORMACIÓN GENERAL"],
            [["no es una unidad", "x", "y", "z", "w"]],
            [],
        ),
    ]
    # Built as a pure-JVM literal relation, NOT createDataFrame: a
    # python-list createDataFrame is backed by a pickled-row RDD, so
    # EVERY action re-runs Python deserialization tasks -- measured
    # (r16) at ~1.2 s per run for these 4 rows once coalesce(4) chained
    # 8 parallelize slices behind each of 4 Python-evaluated tasks,
    # ~75% of syllabus_calendar's whole runtime. Literal structs
    # exploded from one-partition range(1) stay JVM-side (zero Python
    # tasks before the parse stage) and give the mapInPandas stage ONE
    # partition for 4 tiny documents -- same rows, same values
    # (r16 probe: 1.71 s -> 0.54 s; a real corpus read from storage
    # gets its partitioning from the source instead). ``.to(schema)``
    # restores RAW_DOC_SCHEMA's declared nullability, which literals
    # (all non-null here) would otherwise narrow.
    doc_structs = [
        F.struct(
            F.lit(fn).alias("filename"),
            F.lit(pages).cast("array<string>").alias("pages"),
            F.lit(units).cast("array<array<string>>").alias("units_table"),
            F.lit(assess).cast("array<array<string>>").alias("assessments_table"),
        )
        for (fn, pages, units, assess) in rows
    ]
    return (
        spark.range(0, 1, 1, 1)
        .select(F.explode(F.array(*doc_structs)).alias("d"))
        .select("d.*")
        .to(RAW_DOC_SCHEMA)
    )


@query(
    "syllabus_calendar",
    """
    SELECT * FROM (VALUES
      (4,  '•1AEL0244: PRÁCTICA PC  (15.0%)'),
      (4,  '•1AEL0321: PRÁCTICA PC  (50.0%)'),
      (15, '•1AEL0321: EXAMEN FINAL  (50.0%)'),
      (16, '•1AEL0244: EXAMEN FINAL  (85.0%)')
    ) AS t(week, line)
    """,
    doc="Reference parity end-to-end: raw documents (with a split table row "
    "exercising the C1 repair state machine, etl_pipeline.py:178-219) -> "
    "Arrow parse stage -> quarantine -> the reference's weekly-calendar "
    "query (etl_pipeline.py:63-147) -> exploded (week, line) rows against "
    "a hand-computed golden.",
    tags=("pipeline", "parity", "flagship"),
)
def syllabus_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    good, _ = assemble.split_quarantine(assemble.parse_documents(_raw_docs(spark)))
    cal = assemble.weekly_calendar(good)
    return cal.select("week", F.explode("lines").alias("line"))


@query(
    "syllabus_quarantine_counts",
    """
    SELECT * FROM (VALUES ('good', CAST(2 AS BIGINT)), ('quarantine', CAST(2 AS BIGINT)))
      AS t(route, n)
    """,
    doc="P7 quarantine routing: bad filename (P1 reject) and unit-grammar "
    "violation (C1 reject) are preserved as quarantine rows, not dropped "
    "(reference log-and-None, etl_pipeline.py:28-30).",
    tags=("pipeline", "quarantine"),
)
def syllabus_quarantine_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    good, bad = assemble.split_quarantine(assemble.parse_documents(_raw_docs(spark)))
    return good.select(F.lit("good").alias("route")).union(
        bad.select(F.lit("quarantine").alias("route"))
    ).groupBy("route").agg(F.count(F.lit(1)).alias("n"))


_PERIOD_CONFIG = {"2025-2": {"start_date": "2025-03-17", "end_date": "2025-07-20"}}


def _good_courses(spark: SparkSession) -> DataFrame:
    good, _ = assemble.split_quarantine(assemble.parse_documents(_raw_docs(spark)))
    return good


@query(
    "syllabus_enrich_dates",
    """
    SELECT * FROM (VALUES
      ('1AEL0244', CAST(4  AS BIGINT), 15.0, '2025-04-07', '2025-04-12'),
      ('1AEL0244', CAST(16 AS BIGINT), 85.0, '2025-06-30', '2025-07-05'),
      ('1AEL0321', CAST(4  AS BIGINT), 50.0, '2025-04-07', '2025-04-12'),
      ('1AEL0321', CAST(15 AS BIGINT), 50.0, '2025-06-23', '2025-06-28')
    ) AS t(id, week, weight, initial_date, last_date)
    """,
    doc="J1 period->dates enrichment end-to-end (the reference intended "
    "this but shipped dead code + hardcoded constants, "
    "etl_infrastructure.py:193-216): parse -> look each course's period "
    "start up in a literal map built from the config -> per-assessment "
    "initial/last dates computed as "
    "period_start + (week-1)*7 / + week*7 - 2, checked against a "
    "hand-computed golden (Monday..Saturday of each academic week).",
    tags=("pipeline", "enrichment"),
)
def syllabus_enrich_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    periods = assemble.load_periods(spark, _PERIOD_CONFIG)
    enriched = assemble.enrich_dates(_good_courses(spark), periods)
    a = F.col("a")
    return enriched.select("id", F.explode("assessments").alias("a")).select(
        "id",
        a["week"].cast("long").alias("week"),
        a["weight"].alias("weight"),
        F.date_format(a["initial_date"], "yyyy-MM-dd").alias("initial_date"),
        F.date_format(a["last_date"], "yyyy-MM-dd").alias("last_date"),
    )


def _staged_courses_path(spark: SparkSession) -> str:
    base = tempfile.mkdtemp(prefix="etl_upc_courses_")
    # gate off: parse_filename guarantees 'YYYY-T' periods (trusted
    # engine-generated key), and the un-persisted parse lineage would
    # otherwise be evaluated twice -- once by the gate's count, once
    # by the write (review r13)
    sinks.write_courses_parquet(_good_courses(spark), base, on_unsafe="off")
    return base


@query(
    "syllabus_find_by_id",
    """
    SELECT * FROM (VALUES ('1AEL0244', 'Matemática Básica', '2025-2'))
      AS t(id, name, period)
    """,
    doc="S7 point read, fixed (the reference's find_by_id globbed "
    "'{id}_*.json', which can never match its own sink's filenames -- "
    "etl_infrastructure.py:160-166): write the parsed corpus as "
    "period-partitioned parquet, then filter on id with predicate "
    "pushdown to the scan.",
    tags=("pipeline", "sink", "point-read"),
)
def syllabus_find_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _staged_courses_path(spark)
    found = sinks.find_by_id(spark, base, "1AEL0244").select("id", "name", "period")
    return release_after_materialize(found, partial(shutil.rmtree, base))


@query(
    "syllabus_find_by_period",
    """
    SELECT * FROM (VALUES
      ('1AEL0244', 'Matemática Básica', '2025-2'),
      ('1AEL0321', 'Física I', '2025-2')
    ) AS t(id, name, period)
    """,
    doc="S8 period read, implemented (the reference's find_by_period was "
    "a stub returning [] -- etl_infrastructure.py:168-170): the "
    "period-partitioned parquet layout turns it into a partition-pruned "
    "single-directory scan.",
    tags=("pipeline", "sink", "partition-pruning"),
)
def syllabus_find_by_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _staged_courses_path(spark)
    found = sinks.find_by_period(spark, base, "2025-2").select("id", "name", "period")
    return release_after_materialize(found, partial(shutil.rmtree, base))
