"""The distributed syllabus pipeline: raw documents -> parsed nested
courses -> quarantine split -> period-date enrichment -> calendar
aggregate (SURVEY.md 3.1's lifecycle, Spark-first).

Execution shape at scale: decode and parse are ONE *narrow* Arrow
``mapInPandas`` over one-row-per-document partitions (``parse_pdfs``:
the extract and parse batch functions composed in the same Python
worker) -- documents parallelize, pages don't (the reference's
4-thread pool becomes partition parallelism, X1). The split stages
(``extract.extract_documents``, ``parse_documents``) run the same
batch functions as two passes, for callers that start from raw
documents. The periods join is an explicit broadcast (J1) and is
applied to the whole parsed frame, error column kept, so a caller
can persist that one frame and take both sides of
``split_quarantine`` as filters over it: every artifact, rejects
included, then comes from one decode of the input. The only shuffles
are the final calendar groupBy(week) and any repartition the caller
requests.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import extract
from .parse import parse_document
from .schema import PARSED_COURSE_SCHEMA, PERIODS_SCHEMA


def _normalize_batch(pdf: pd.DataFrame, form: str) -> pd.DataFrame:
    """Unicode-normalize every text surface of one raw-doc pandas batch
    (pages + both tables), shared by ``normalize_raw_docs`` (the
    composable pre-pass) and ``parse_batches(nfkc=True)`` (the fused
    one-Arrow-pass path) so knob == pre-pass by construction."""
    import unicodedata

    def _norm(s):
        return unicodedata.normalize(form, s) if isinstance(s, str) else s

    pdf = pdf.copy()
    pdf["pages"] = pdf["pages"].map(
        lambda ps: None if ps is None else [_norm(p) for p in ps]
    )
    for col in ("units_table", "assessments_table"):
        # rows are schema-nullable (containsNull) -- a NULL row passes
        # through untouched so the parse stage's own null handling /
        # quarantine still sees it (review r11)
        pdf[col] = pdf[col].map(
            lambda tbl: None
            if tbl is None
            else [None if row is None else [_norm(c) for c in row]
                  for row in tbl]
        )
    return pdf


def parse_batches(batches: Iterator[pd.DataFrame], nfkc: bool = False) -> Iterator[pd.DataFrame]:
    """The parse stage's Arrow batch function: RAW_DOC_SCHEMA batches ->
    PARSED_COURSE_SCHEMA batches. Shared by :func:`parse_documents` and
    the fused :func:`parse_pdfs`."""
    for pdf in batches:
        if nfkc:
            pdf = _normalize_batch(pdf, "NFKC")
        records = [
            parse_document(
                row.filename,
                list(row.pages) if row.pages is not None else [],
                [list(r) for r in row.units_table] if row.units_table is not None else [],
                [list(r) for r in row.assessments_table]
                if row.assessments_table is not None
                else [],
            )
            for row in pdf.itertuples()
        ]
        yield pd.DataFrame.from_records(records)


def parse_documents(raw_docs: DataFrame, *, nfkc: bool = False) -> DataFrame:
    """Arrow parse stage: (filename, pages, units_table, assessments_table)
    -> PARSED_COURSE_SCHEMA rows (error column set on failures).

    ``nfkc=True`` folds the ``normalize_raw_docs`` NFKC pre-pass into
    this stage's single Arrow pass (VERDICT r11 item 5: the separate
    pre-pass costs a second Arrow round-trip, measured at 55-61% of
    the parse stage) -- same normalization helper, so output is
    pinned identical to pre-pass-then-parse
    (tests/test_syllabus_hostile.py). Default False: the parse
    kernels' behavior on exotic input is the reference-parity surface
    and normalization is an ingestion policy the caller opts into;
    the frozen ``syllabus_calendar`` registry plan flows through the
    default and is untouched.
    """
    return raw_docs.mapInPandas(lambda b: parse_batches(b, nfkc), schema=PARSED_COURSE_SCHEMA)


def parse_pdfs(binary_docs: DataFrame, *, nfkc: bool = False) -> DataFrame:
    """Decode and parse in ONE Arrow pass: binaryFile (path, content)
    rows -> PARSED_COURSE_SCHEMA rows. Output equals
    ``parse_documents(extract.extract_documents(binary_docs), nfkc=nfkc)``
    (pinned by tests/test_syllabus_hostile.py and
    tests/test_optional_backends.py), minus one trip through the Python
    worker per task: the raw-document batches stay pandas frames
    between the two batch functions instead of crossing Arrow. The
    decode backend is still chosen per executor
    (``extract.extract_batches``)."""
    return binary_docs.select("path", "content").mapInPandas(
        lambda b: parse_batches(extract.extract_batches(b), nfkc), schema=PARSED_COURSE_SCHEMA
    )


def normalize_raw_docs(raw: DataFrame, form: str = "NFKC") -> DataFrame:
    """Optional Unicode-normalization pre-pass over every text surface
    of the raw document frame (pages + both tables) -- the syllabus
    pipeline's answer to the r11 hostile-document probe
    (tools/syllabus_probe.py).

    The probe measured 4 SILENT classes on the unguarded pipeline: an
    NBSP or NFD combining form inside the 'I. INFORMACIÓN GENERAL'
    section marker makes the exact-substring slice miss, so every
    general-info field silently parses to its default (error stays
    NULL -- the record LOOKS parsed); a fullwidth colon after a label
    defeats the ``[:\\-]`` match the same way; an NFD 'Sí' silently
    drops the recoverable flag. NFKC closes all of them (compose
    combining forms, fold fullwidth punctuation and NBSP) and is a
    no-op on clean Spanish text (already-NFC accents are untouched) --
    pinned by tests/test_syllabus_hostile.py. Compose with
    ``textanalysis.unicode_clean`` mapped over the same columns for
    the format-char classes (ZWSP inside a grammar marker).

    Deliberately a SEPARATE opt-in stage, not a parse_document change:
    the parse kernels are the reference-parity surface (their
    behavior, including these measured misses on exotic input, mirrors
    the reference's exact-substring matching), and normalization is an
    ingestion policy. Arrow ``mapInPandas`` like the parse stage
    itself -- narrow, one pass, documents parallelize. When the next
    stage is the parse itself, prefer ``parse_documents(nfkc=True)``:
    same helper (``_normalize_batch``), same output, one Arrow pass
    instead of two (the standalone pre-pass measured 55-61% of the
    parse stage's cost, BASELINE.md r11/r12).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _normalize_batch(pdf, form)

    return raw.mapInPandas(run, schema=raw.schema)


def split_quarantine(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined): the Spark analog of the reference's
    log-and-drop (etl_pipeline.py:28-30), keeping the rejects."""
    good = parsed.filter(F.col("error").isNull()).drop("error")
    bad = parsed.filter(F.col("error").isNotNull()).select("id", "error")
    return good, bad


def load_periods(spark: SparkSession, config: dict[str, dict[str, str]]) -> DataFrame:
    """config.json's period map as a broadcastable dimension table.

    Built from a pandas frame so that, with Arrow on (``get_spark``),
    it is a driver-local relation: a list of tuples would be an RDD
    unpickled by one Python worker per partition on every broadcast."""
    rows = [
        (period, dates.get("start_date"), dates.get("end_date"))
        for period, dates in config.items()
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["period", "start_date", "end_date"]),
        "period string, start_date string, end_date string",
    )
    return df.select(
        "period",
        F.to_date("start_date").alias("start_date"),
        F.to_date("end_date").alias("end_date"),
    )


def _dated_units(start: F.Column) -> F.Column:
    return F.transform(
        F.col("units"),
        lambda u: F.struct(
            u["number"].alias("number"),
            u["title"].alias("title"),
            u["achievement"].alias("achievement"),
            u["initial_week"].alias("initial_week"),
            u["last_week"].alias("last_week"),
            F.date_add(start, (u["initial_week"] - 1) * 7).alias("initial_date"),
            F.date_add(start, u["last_week"] * 7 - 2).alias("last_date"),
            u["syllabus"].alias("syllabus"),
            u["activities"].alias("activities"),
            u["exams"].alias("exams"),
            u["bibliography"].alias("bibliography"),
        ),
    )


def _dated_assessments(start: F.Column) -> F.Column:
    return F.transform(
        F.col("assessments"),
        lambda a: F.struct(
            a["name"].alias("name"),
            a["abrev"].alias("abrev"),
            a["weight"].alias("weight"),
            a["week"].alias("week"),
            a["is_recoverable"].alias("is_recoverable"),
            F.date_add(start, (a["week"] - 1) * 7).alias("initial_date"),
            F.date_add(start, a["week"] * 7 - 2).alias("last_date"),
        ),
    )


def enrich_dates(courses: DataFrame, periods: DataFrame) -> DataFrame:
    """J1 done right: the reference *intended* to compute unit/assessment
    dates from config.json but shipped dead code + hardcoded constants
    (etl_infrastructure.py:193-216). Semantics implemented: a week spans
    Monday..Saturday of academic week N, so
    initial_date = period_start + (week-1)*7 and
    last_date = period_start + week*7 - 2.
    periods is tiny and bounded -> broadcast join, no shuffle."""
    start = F.col("start_date")
    return (
        courses.join(F.broadcast(periods), "period", "left")
        .withColumn("units", _dated_units(start))
        .withColumn("assessments", _dated_assessments(start))
        .drop("start_date", "end_date")
    )


def weekly_calendar(courses: DataFrame) -> DataFrame:
    """The reference's one analytics query (etl_pipeline.py:63-147):
    flatten assessments -> '•{id}: {name} ({weight}%)' lines ->
    groupBy(week) -> sorted lines -> orderBy(week).

    Intra-week order was thread-completion-nondeterministic in the
    reference (etl_pipeline.py:39-41); we sort for determinism."""
    line = F.concat(
        F.lit("•"),
        F.col("id"),
        F.lit(": "),
        F.col("a.name"),
        F.lit(" ("),
        F.col("a.weight").cast("string"),
        F.lit("%)"),
    )
    return (
        courses.select("id", F.explode("assessments").alias("a"))
        .select(F.col("a.week").alias("week"), line.alias("line"))
        .groupBy("week")
        .agg(F.sort_array(F.collect_list("line")).alias("lines"))
        .orderBy("week")
    )
