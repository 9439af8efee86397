"""Golden-output tests for the distributed syllabus pipeline
(FIXTURES.md B3/B4): synthetic raw documents -> parse stage ->
quarantine split -> period-date enrichment -> sinks -> calendar.
This is the test the reference never had (SURVEY.md section 5)."""

from __future__ import annotations

import json
import os
import pickle

import pytest

from etl_upc_syllabus_spark.pipeline import assemble, calendar, sinks
from etl_upc_syllabus_spark.pipeline.extract import route_tables
from etl_upc_syllabus_spark.pipeline.schema import RAW_DOC_SCHEMA


def doc(filename, name, nrc, units=True, assessments=(("PRÁCTICA PC - 1", "15%", "4", "Sí"),
                                                      ("EXAMEN FINAL - 1", "85%", "16", "No"))):
    pages = [
        "Sílabo de Curso\nI. INFORMACIÓN GENERAL\n"
        f"Nombre del Curso : {name}\n"
        "Cuerpo académico : Ana Pérez, Luis Díaz\n"
        "Créditos : 4\nSemanas : 16\n"
        "II. MISIÓN Y VISIÓN DE LA UPC\n...",
    ]
    units_table = (
        [
            ["Unidad n. 1: Fundamentos", "", "", "", ""],
            ["COMPETENCIA (S): base", "", "", "", ""],
            ["LOGRO DE LA UNIDAD: domina lo básico", "", "", "", ""],
            ["SEMANA", "TEMARIO", "ACTIVIDADES", "EVALUACIONES", "BIBLIOGRAFÍA"],
            ["Semana 1 - 8", "• t1 • t2", "• a1", "• e1", "• b1"],
            ["Unidad n. 2: Avanzado", "", "", "", ""],
            ["COMPETENCIA (S): pro", "", "", "", ""],
            ["LOGRO DE LA UNIDAD: domina lo", "", "", "", ""],
            ["avanzado", "", "", "", ""],  # split row -> merged by repair
            ["SEMANA", "TEMARIO", "ACTIVIDADES", "EVALUACIONES", "BIBLIOGRAFÍA"],
            ["Semana 9 - 16", "• t3,\nt4", "• a2", "", ""],  # newline + comma kept (F1 no-comma)
        ]
        if units
        else []
    )
    assessments_table = [["TIPO", "COMPETENCIA", "PESO", "SEMANA", "OBSERVACIÓN", "RECUPERABLE"]] + [
        [n, "g1", w, wk, "", rec] for (n, w, wk, rec) in assessments
    ]
    return (filename, pages, units_table, assessments_table)


@pytest.fixture(scope="module")
def parsed(spark):
    rows = [
        doc("UG-202520_1AEL0244-8281.pdf", "Matemática Básica", "8281"),
        doc("UG-202520_1AEL0321-9001.pdf", "Física I", "9001",
            assessments=(("PRÁCTICA PC - 1", "50%", "4", "Sí"), ("EXAMEN FINAL - 1", "50%", "15", "No"))),
        doc("UG-202610_1AEL0500-1111.pdf", "Química", "1111", units=True, assessments=()),
        ("bad-filename.pdf", ["I. INFORMACIÓN GENERAL\nNombre del Curso : X"], [], []),
        ("UG-202520_1AEL0999-2222.pdf", ["I. INFORMACIÓN GENERAL"],
         [["no es una unidad", "x", "y", "z", "w"]], []),  # grammar violation
    ]
    raw = spark.createDataFrame(rows, RAW_DOC_SCHEMA)
    return assemble.parse_documents(raw)


def test_quarantine_split(parsed):
    good, bad = assemble.split_quarantine(parsed)
    assert good.count() == 3
    errors = [r["error"] for r in bad.collect()]
    assert len(errors) == 2
    assert any("filename" in e for e in errors)
    assert any("grammar" in e for e in errors)


def test_golden_course_record(parsed):
    good, _ = assemble.split_quarantine(parsed)
    rec = json.loads(good.filter("id = '1AEL0244'").toJSON().first())
    assert rec == {
        "id": "1AEL0244",
        "name": "Matemática Básica",
        "period": "2025-2",
        "faculty": ["Ana Pérez", "Luis Díaz"],
        "credits": 4,
        "weeks": 16,
        "area": [],
        "nrc": "8281",
        "units": [
            {
                "number": 1,
                "title": "Fundamentos",
                "achievement": "domina lo básico",
                "initial_week": 1,
                "last_week": 8,
                "syllabus": ["t1", "t2"],
                "activities": ["a1"],
                "exams": ["e1"],
                "bibliography": ["b1"],
            },
            {
                "number": 2,
                "title": "Avanzado",
                "achievement": "domina lo avanzado",
                "initial_week": 9,
                "last_week": 16,
                "syllabus": ["t3, t4"],  # comma NOT a delimiter in unit cells (F1)
                "activities": ["a2"],
                "exams": [],
                "bibliography": [],
            },
        ],
        "assessments": [
            {"name": "PRÁCTICA PC ", "abrev": "1", "weight": 15.0, "week": 4,
             "is_recoverable": True},
            {"name": "EXAMEN FINAL ", "abrev": "1", "weight": 85.0, "week": 16,
             "is_recoverable": False},
        ],
    }


def test_date_enrichment(spark, parsed):
    good, _ = assemble.split_quarantine(parsed)
    periods = assemble.load_periods(
        spark,
        {"2025-2": {"start_date": "2025-08-25", "end_date": "2025-12-06"},
         "2026-1": {"start_date": "2026-03-02", "end_date": "2026-06-20"}},
    )
    dated = assemble.enrich_dates(good, periods)
    rec = json.loads(dated.filter("id = '1AEL0244'").toJSON().first())
    u1, u2 = rec["units"]
    assert u1["initial_date"] == "2025-08-25"  # week 1 Monday = period start
    assert u1["last_date"] == "2025-10-18"  # week 8 Saturday
    assert u2["initial_date"] == "2025-10-20"  # week 9 Monday
    a1 = rec["assessments"][0]
    assert a1["week"] == 4 and a1["initial_date"] == "2025-09-15"
    # course in the other period uses its own start date
    rec26 = json.loads(dated.filter("id = '1AEL0500'").toJSON().first())
    assert rec26["units"][0]["initial_date"] == "2026-03-02"


def test_weekly_calendar_golden(parsed):
    good, _ = assemble.split_quarantine(parsed)
    cal = {r["week"]: r["lines"] for r in assemble.weekly_calendar(good).collect()}
    assert cal[4] == [
        "•1AEL0244: PRÁCTICA PC  (15.0%)",
        "•1AEL0321: PRÁCTICA PC  (50.0%)",
    ]
    assert cal[15] == ["•1AEL0321: EXAMEN FINAL  (50.0%)"]
    assert cal[16] == ["•1AEL0244: EXAMEN FINAL  (85.0%)"]
    assert sorted(cal) == [4, 15, 16]


def test_calendar_text_render(parsed):
    good, _ = assemble.split_quarantine(parsed)
    txt = calendar.render_text(assemble.weekly_calendar(good))
    assert "Semana 4:" in txt and "•1AEL0244: PRÁCTICA PC  (15.0%)" in txt


def test_calendar_pdf_render_roundtrip(parsed, tmp_path):
    """S6 emits a real PDF even without reportlab (minipdf backend),
    and the report is a real RULED table -- decoding the file recovers
    the same (Semana, Contenido) grid the reportlab path styles."""
    from etl_upc_syllabus_spark.pipeline import minipdf

    good, _ = assemble.split_quarantine(parsed)
    path = str(tmp_path / "calendar.pdf")
    assert calendar.render_pdf(assemble.weekly_calendar(good), path) == path
    with open(path, "rb") as fh:
        data = fh.read()
    assert data.startswith(b"%PDF")
    text, table = minipdf.extract_pages(data)[0]
    assert "Calendario Semanal de Evaluaciones" in text
    assert table[0] == ["Semana", "Contenido"]
    assert ["4", "•1AEL0244: PRÁCTICA PC  (15.0%)"] in table


def test_sinks_roundtrip(spark, parsed, tmp_path):
    good, _ = assemble.split_quarantine(parsed)
    base = str(tmp_path)
    sinks.write_courses_parquet(good, base)
    # point read (S7, fixed) and period read (S8, implemented)
    assert sinks.find_by_id(spark, base, "1AEL0244").count() == 1
    assert sinks.find_by_period(spark, base, "2025-2").count() == 2
    # compat JSON sinks (S4/S5)
    files = sinks.write_per_record_json(good, base)
    assert any(p.endswith("Matemática Básica-8281.json") for p in files)
    all_path = sinks.write_all_courses_json(good, base)
    with open(all_path, encoding="utf-8") as fh:
        assert len(json.load(fh)) == 3


def test_sinks_executor_side_byte_identity(spark, parsed, tmp_path):
    """The JSON sinks write exactly the bytes of a driver-side json.dump
    of the frame's ``toJSON`` records (S4 indent=2, S5 indent=4, in
    partition order) on the date-enriched frame -- dates, null fields,
    non-ASCII names -- over 7 partitions and over none (S5 -> '[]'); the
    one-pass writer writes what the two public writers write."""
    good, _ = assemble.split_quarantine(parsed)
    # no config row for 2026-1: that course's dates are null
    periods = assemble.load_periods(
        spark, {"2025-2": {"start_date": "2025-08-25", "end_date": "2025-12-06"}}
    )
    dated = assemble.enrich_dates(good, periods)

    frame = dated.repartition(7).persist()
    try:
        recs = {r["id"]: r for r in map(json.loads, frame.toJSON().collect())}
        assert recs["1AEL0244"]["units"][0]["initial_date"] == "2025-08-25"
        assert "initial_date" not in recs["1AEL0500"]["units"][0]
        assert recs["1AEL0321"]["name"] == "Física I"
        for name, df in (("many", frame), ("empty", dated.limit(0))):
            expected = [json.loads(r) for r in df.toJSON().collect()]
            one, two = tmp_path / f"one_{name}", tmp_path / f"two_{name}"
            paths, all_one = sinks.write_course_json(df, str(one))
            two_paths = sinks.write_per_record_json(df, str(two))
            sinks.write_all_courses_json(df, str(two))
            assert _tree(one) == _tree(two), name
            assert [os.path.basename(p) for p in paths] == [os.path.basename(p) for p in two_paths]
            assert all_one == str(one / "all_courses.json")
            assert sinks._FRAGMENTS_DIRNAME not in os.listdir(one)
            assert len(_tree(one)) == len(expected) + 1
            for rec in expected:
                got = (one / f"{rec['name']}-{rec['nrc']}.json").read_text(encoding="utf-8")
                assert got == json.dumps(rec, ensure_ascii=False, indent=2)
            got = (one / "all_courses.json").read_text(encoding="utf-8")
            assert got == json.dumps(expected, ensure_ascii=False, indent=4), name
        assert _tree(tmp_path / "one_empty") == {"all_courses.json": b"[]"}
    finally:
        frame.unpersist()

    # the renderer ships to workers by reference, so they import the
    # package; stdlib pickle refuses a closure, so a regression fails here
    pickle.dumps(sinks._json_renderer(str(tmp_path), per_record=True, consolidated=True))


def _tree(d) -> dict[str, bytes]:
    return {n: (d / n).read_bytes() for n in sorted(os.listdir(d))}


def _assert_run_artifacts_match(frame, tmp_path):
    """write_run_artifacts over ``frame``, rejects included, against the
    public sinks and queries over its quarantine split: the same JSON
    bytes as write_course_json(good), the rejects bad.collect() gives,
    and calendar pairs that group to calendar_rows(weekly_calendar(good))
    and render the same PDF bytes. Returns the calendar rows."""
    good, bad = assemble.split_quarantine(frame)
    fused, split = tmp_path / "fused", tmp_path / "split"
    paths, all_path, entries, rejects = sinks.write_run_artifacts(frame, str(fused))
    split_paths, split_all = sinks.write_course_json(good, str(split))
    assert _tree(fused) == _tree(split)
    assert [os.path.basename(p) for p in paths] == [os.path.basename(p) for p in split_paths]
    assert all_path == str(fused / "all_courses.json")
    assert rejects == [{"id": r["id"], "error": r["error"]} for r in bad.collect()]
    rows = calendar.calendar_rows(assemble.weekly_calendar(good))
    assert calendar.group_lines(entries) == rows
    calendar.write_pdf(calendar.group_lines(entries), str(tmp_path / "fused.pdf"))
    calendar.render_pdf(assemble.weekly_calendar(good), str(tmp_path / "split.pdf"))
    assert (tmp_path / "fused.pdf").read_bytes() == (tmp_path / "split.pdf").read_bytes()
    return rows


def test_run_artifacts_golden(parsed, tmp_path):
    """The CLI's one-pass writer on the golden corpus (two rejects among
    five documents), over three partitions."""
    frame = parsed.repartition(3).persist()
    try:
        rows = _assert_run_artifacts_match(frame, tmp_path)
    finally:
        frame.unpersist()
    assert [w for w, _ in rows] == [4, 15, 16]
    assert rows[0][1] == ["•1AEL0244: PRÁCTICA PC  (15.0%)", "•1AEL0321: PRÁCTICA PC  (50.0%)"]


def test_run_artifacts_calendar_edge_rows(spark, tmp_path):
    """Calendar parity where the driver-side grouping could drift from
    the Spark query: a null week, a null name and a null weight (null
    lines), a null assessment, an empty and a null assessments list, a
    null course id, and a reject whose assessments must not count."""
    from etl_upc_syllabus_spark.pipeline.schema import PARSED_COURSE_SCHEMA

    def course(cid, assessments, error=None, name=None):
        return (cid, name or f"Curso {cid}", "2025-2", [], 4, 16, [], "100", [], assessments, error)

    frame = spark.createDataFrame(
        [
            course("C1", [("Z", "z", 20.0, 5, True), ("X", "x", 10.0, None, False),
                          ("A", "a", 30.0, 5, True)]),
            course("C2", [(None, "n", 5.0, 3, True), ("Y", "y", None, 3, False), None]),
            course("C3", [], name="Vacío"),
            course("C4", None, name="Nulo"),
            course(None, [("W", "w", 1.0, 7, True)], name="Sin id"),
            course("C5", [("R", "r", 50.0, 9, True)], error="grammar: boom"),
        ],
        PARSED_COURSE_SCHEMA,
    ).repartition(2).persist()
    try:
        rows = _assert_run_artifacts_match(frame, tmp_path)
    finally:
        frame.unpersist()
    assert rows == [
        (None, ["•C1: X (10.0%)"]),
        (3, []),
        (5, ["•C1: A (30.0%)", "•C1: Z (20.0%)"]),
        (7, []),
    ]


def test_run_artifacts_all_quarantined(parsed, tmp_path):
    """Every row a reject: no course files, an empty array, an empty
    calendar, every reject reported."""
    rejects_only = parsed.filter("error IS NOT NULL")
    assert _assert_run_artifacts_match(rejects_only, tmp_path) == []
    assert _tree(tmp_path / "fused") == {"all_courses.json": b"[]"}


def test_section_routing_state_machine():
    """S3: tables route by current section; section persists across pages."""
    pages_text = [
        "Sílabo de Curso\nalgo\nVI. UNIDADES DE APRENDIZAJE\nintro",
        "continuación de unidades",  # section carries over the page break
        "VIII. EVALUACIÓN\ncriterios",
        "IX. BIBLIOGRAFÍA DEL CURSO\nrefs",
    ]
    pages_tables = [
        [["Unidad n. 1: X", ""]],
        [["Semana 1 - 2", ""]],
        [["TIPO", "PESO"]],
        [["ignored", "table"]],
    ]
    routed = route_tables(pages_text, pages_tables)
    assert routed["units"] == [["Unidad n. 1: X", ""], ["Semana 1 - 2", ""]]
    assert routed["assessments"] == [["TIPO", "PESO"]]
