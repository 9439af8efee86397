"""Skip-unless-importable smokes for the preferred third-party
backends (VERDICT r4 item 7).

pdfplumber and reportlab are absent from this container, so these
tests SKIP here -- but the moment the libraries exist (any real
deployment), they exercise the primary branches of the extraction
stage (pipeline/extract.py pdfplumber path) and the S6 calendar sink
(pipeline/calendar.py reportlab path) that otherwise only run their
stdlib fallbacks in CI.
"""

from __future__ import annotations

import pytest

from etl_upc_syllabus_spark.pipeline import assemble, extract, minipdf

PAGE1 = (
    "Sílabo de Curso\n"
    "I. INFORMACIÓN GENERAL\n"
    "Nombre del Curso : Matemática Básica\n"
    "Cuerpo académico : Ana Pérez, Luis Díaz\n"
    "Créditos : 4\n"
    "Semanas : 16\n"
)
UNITS_TABLE = [
    ["Unidad n. 1: Fundamentos", "", "", "", ""],
    ["COMPETENCIA (S): base", "", "", "", ""],
    ["LOGRO DE LA UNIDAD: domina lo básico", "", "", "", ""],
    ["SEMANA", "TEMARIO", "ACTIVIDADES", "EVALUACIONES", "BIBLIOGRAFÍA"],
    ["Semana 1 - 16", "• t1 • t2", "• a1", "• e1", "• b1"],
]
ASSESSMENTS_TABLE = [
    ["TIPO", "COMPETENCIA", "PESO", "SEMANA", "OBSERVACIÓN", "RECUPERABLE"],
    ["PRÁCTICA PC - 1", "g1", "15%", "4", "", "Sí"],
    ["EXAMEN FINAL - 1", "g1", "85%", "16", "", "No"],
]


def test_pdfplumber_primary_extract_branch(spark, tmp_path):
    """pdfplumber path of extract_documents and of the fused parse_pdfs
    on a minipdf-written ruled PDF: text + geometric table detection,
    reference parity (etl_infrastructure.py:9-55)."""
    pytest.importorskip("pdfplumber")
    d = tmp_path / "pdfs"
    d.mkdir()
    minipdf.write_pdf(
        str(d / "UG-202520_1AEL0244-8281.pdf"),
        [
            PAGE1,
            ["VI. UNIDADES DE APRENDIZAJE", ("table", UNITS_TABLE)],
            ["VIII. EVALUACIÓN", ("table", ASSESSMENTS_TABLE)],
        ],
    )
    binary = extract.read_syllabus_pdfs(spark, str(d))
    staged = assemble.parse_documents(extract.extract_documents(binary))
    # the fused decode+parse pass takes the same pdfplumber branch
    fused = assemble.parse_pdfs(binary)
    assert sorted(map(str, fused.collect())) == sorted(map(str, staged.collect()))
    good, bad = assemble.split_quarantine(staged)
    assert bad.count() == 0
    recs = {r["id"]: r for r in good.collect()}
    assert recs["1AEL0244"]["name"] == "Matemática Básica"
    assert [a["week"] for a in recs["1AEL0244"]["assessments"]] == [4, 16]


def test_reportlab_primary_render_branch(spark, tmp_path):
    """reportlab path of the S6 calendar sink: styled-table PDF
    (reference etl_pipeline.py:63-147) written and non-empty."""
    pytest.importorskip("reportlab")
    from etl_upc_syllabus_spark.pipeline import calendar as cal

    df = spark.createDataFrame(
        [(4, ["•1AEL0244: PRÁCTICA PC  (15.0%)"]), (16, ["•1AEL0244: EXAMEN FINAL  (85.0%)"])],
        "week int, lines array<string>",
    )
    out = str(tmp_path / "calendar.pdf")
    assert cal.render_pdf(df, out) == out
    data = open(out, "rb").read()
    assert data[:5] == b"%PDF-" and len(data) > 500
