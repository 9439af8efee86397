"""PDF extraction seam (reference PDFExtractor protocol,
etl_application.py:8-10).

Production path: ``binaryFile`` source -> Arrow batch -> pdfplumber per
document. pdfplumber is NOT installed in this container, so the decode
is import-gated; the *section-routing logic* (which tables belong to
which syllabus section -- the stateful part, S3) is a pure function
here and fully tested without any PDF library.

Scale: ``binaryFile`` gives one row per file with pushdown-able path
globs (``pathGlobFilter='UG-*_1A*-*.pdf'`` mirrors the reference's
rglob at etl_pipeline.py:34); per-file payloads stream through Arrow
batches executor-side, never the driver.
"""

from __future__ import annotations

import io
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .schema import RAW_DOC_SCHEMA

SYLLABUS_GLOB = "UG-*_1A*-*.pdf"

SECTION_NAMES = [
    "I. INFORMACIÓN GENERAL",
    "II. MISIÓN Y VISIÓN DE LA UPC",
    "III. INTRODUCCIÓN",
    "IV. LOGRO (S) DEL CURSO",
    "V. COMPETENCIAS (S) DEL CURSO",
    "VI. UNIDADES DE APRENDIZAJE",
    "VII. METODOLOGÍA",
    "VIII. EVALUACIÓN",
    "IX. BIBLIOGRAFÍA DEL CURSO",
    "X. RECURSOS TECNOLÓGICOS",
    "XI. Anexos",
]
UNITS_SECTION = "VI. UNIDADES DE APRENDIZAJE"
ASSESSMENTS_SECTION = "VIII. EVALUACIÓN"


def route_tables(
    pages_text: list[str], pages_tables: list[list[list[str]] | None]
) -> dict[str, list[list[str]]]:
    """S3's cross-page section state machine as a pure function.

    Walks pages in order, tracking which syllabus section is current
    (section headers appear as standalone lines; a section carries over
    page breaks), and routes each page's extracted table to the units
    or assessments bucket (etl_infrastructure.py:18-55 behavior).
    """
    units: list[list[str]] = []
    assessments: list[list[str]] = []
    current: str | None = None
    for page_no, (text, table) in enumerate(zip(pages_text, pages_tables), start=1):
        lines = text.splitlines() if text else []
        if lines and lines[0] in SECTION_NAMES:
            current = lines[0]
        elif page_no == 1:
            current = None  # page 1 opens with the document title, not a section
        for line in lines[1:]:
            if line in SECTION_NAMES:
                current = line.strip()
        if table:
            if current == UNITS_SECTION:
                units.extend(table)
            elif current == ASSESSMENTS_SECTION:
                assessments.extend(table)
    return {"units": units, "assessments": assessments}


def pdfplumber_available() -> bool:
    try:
        import pdfplumber  # noqa: F401

        return True
    except ImportError:
        return False


def read_syllabus_pdfs(spark: SparkSession, directory: str) -> DataFrame:
    """binaryFile scan of syllabus PDFs (S1): path/content/length rows."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", SYLLABUS_GLOB)
        .option("recursiveFileLookup", "true")
        .load(directory)
    )


def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The extraction stage's Arrow batch function: (path, content)
    batches -> RAW_DOC_SCHEMA batches. Shared by
    :func:`extract_documents` and the fused decode+parse pass
    (``assemble.parse_pdfs``)."""
    # Backend chosen HERE, i.e. per executor process: on a
    # heterogeneous cluster an executor without pdfplumber falls
    # back to minipdf instead of failing with ImportError.
    use_plumber = pdfplumber_available()
    if use_plumber:
        import pdfplumber
    else:
        from . import minipdf

    for pdf_batch in batches:
        records = []
        for row in pdf_batch.itertuples():
            pages_text: list[str] = []
            pages_tables: list[list[list[str]] | None] = []
            try:
                if use_plumber:
                    with pdfplumber.open(io.BytesIO(row.content)) as doc:
                        for page in doc.pages:
                            pages_text.append(page.extract_text() or "")
                            pages_tables.append(page.extract_table())
                else:
                    for page_text, page_table in minipdf.extract_pages(bytes(row.content)):
                        pages_text.append(page_text)
                        pages_tables.append(page_table)
            except Exception:
                # One malformed PDF must not fail the whole Arrow
                # batch/task: emit an empty-pages row so the parse
                # stage routes it to quarantine like any other
                # unparseable input.
                pages_text, pages_tables = [], []
            routed = route_tables(pages_text, pages_tables)
            records.append(
                {
                    "filename": os.path.basename(row.path),
                    "pages": pages_text,
                    "units_table": routed["units"],
                    "assessments_table": routed["assessments"],
                }
            )
        # named columns even for an empty batch, which the fused pass
        # hands straight to the parse batch function
        yield pd.DataFrame.from_records(records, columns=RAW_DOC_SCHEMA.names)


def extract_documents(binary_docs: DataFrame) -> DataFrame:
    """Arrow extraction stage: PDF bytes -> (filename, pages, tables).

    Decode backends, chosen inside the mapInPandas task (so genuinely
    per-executor -- a mixed cluster degrades per machine, it does not
    fail):

    - **pdfplumber** when importable: full parity with the reference
      (text + geometric table detection, etl_infrastructure.py:9-55);
    - **minipdf** (stdlib, always available) otherwise: real per-page
      text decode for simple text PDFs, plus two-strategy table
      recovery -- lines strategy for ruled layouts (grid of painted
      rules -> cells by text position, the same default model
      pdfplumber's ``extract_table()`` applies) and a text-alignment
      strategy for BORDERLESS tables (column gutters from x-position
      clusters, mirroring pdfplumber's "text" strategy) -- so
      binaryFile -> decode -> tables -> parse -> calendar runs
      end-to-end with no third-party libs. Pages with no aligned
      multi-column block decode with no tables and table-less
      documents quarantine in the parse stage exactly like any
      unparseable input. Tests cover both strategies end-to-end on
      minipdf-written fixtures (tests/test_minipdf.py).

    When the next stage is the parse, ``assemble.parse_pdfs`` runs both
    batch functions in one Arrow pass instead of two.
    """
    return binary_docs.select("path", "content").mapInPandas(extract_batches, schema=RAW_DOC_SCHEMA)
