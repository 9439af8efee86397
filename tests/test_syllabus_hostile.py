"""Hostile-document posture of the syllabus pipeline (r11 probe,
tools/syllabus_probe.py -- VERDICT r10 item 5).

The P1-P7/C1 pipeline had golden tests on well-formed documents only;
the probe measured 11 hostile classes through the real Arrow parse
stage. Raw posture: 4 SILENT (NBSP or NFD inside the exact-substring
section marker -> every general-info field parses to its default with
error NULL; fullwidth colon defeats the label match; NFD 'Sí' drops
the recoverable flag), 1 silent duplication (same {id}-{nrc} uploaded
twice), 2 quarantine, rest parity/contract. Gated (the shipped
operators: pipeline.assemble.normalize_raw_docs NFKC pre-pass +
textanalysis.unicode_clean + curation.quarantine_duplicate_keys):
ZERO silent. Full table: BASELINE.md r11 / `syllabus_probe.py
[--gated]`.

These pins hold BOTH postures visible: the raw misses are the
reference-parity contract (exact-substring matching, like the
reference's), not hidden defects -- a change to either side must
trip a pin.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from syllabus_probe import clean_doc, gate_unicode, mutations  # noqa: E402

from etl_upc_syllabus_spark.pipeline import extract, minipdf
from etl_upc_syllabus_spark.pipeline.assemble import (
    normalize_raw_docs,
    parse_documents,
    parse_pdfs,
    split_quarantine,
)
from etl_upc_syllabus_spark.pipeline.schema import RAW_DOC_SCHEMA


def _run(spark, docs, gated=False):
    raw = spark.createDataFrame([tuple(d) for d in docs], RAW_DOC_SCHEMA)
    if gated:
        raw = gate_unicode(raw)
    return split_quarantine(parse_documents(raw))


def test_raw_posture_nbsp_header_is_silent_default(spark):
    """The worst measured class, pinned AS MEASURED: an NBSP inside
    'I. INFORMACIÓN GENERAL' makes the exact-substring slice miss, so
    the record parses with error NULL and every general-info field at
    its default -- silent, by reference-parity design (the reference
    does the same exact-substring find). The gate below is the cure;
    this pin keeps the raw posture visible."""
    good, bad = _run(spark, [mutations()["nbsp_in_header"](clean_doc())])
    assert bad.count() == 0
    row = good.collect()[0]
    assert row["name"] == "" and row["credits"] == 0
    assert row["id"] == "1AEL0244"  # filename metadata still parses


def test_raw_posture_zwsp_marker_quarantines(spark):
    """A format char inside a C1 grammar marker is a LOUD class: the
    repair state machine raises and the doc lands in quarantine with
    the grammar error -- the defined P7 posture, not silence."""
    good, bad = _run(spark, [mutations()["zwsp_in_unit_marker"](clean_doc())])
    assert good.count() == 0
    assert "unit grammar" in bad.collect()[0]["error"]


def test_gated_unicode_restores_parity_on_all_probe_classes(spark):
    """normalize_raw_docs (NFKC) + unicode_clean over pages and tables
    restores the clean template's record for EVERY formatting-hostile
    class the probe plants -- and is a no-op on the clean document
    itself (accented Spanish is already NFC)."""
    baseline_good, _ = _run(spark, [clean_doc()])
    baseline = sorted(map(str, baseline_good.collect()))

    gated_clean, _ = _run(spark, [clean_doc()], gated=True)
    assert sorted(map(str, gated_clean.collect())) == baseline, "gate must be a no-op on clean docs"

    for cls in ("nbsp_in_header", "nfd_header", "fullwidth_colon_label",
                "nfd_recoverable_flag", "zwsp_in_unit_marker", "nbsp_after_bullet"):
        good, bad = _run(spark, [mutations()[cls](clean_doc())], gated=True)
        assert bad.count() == 0, f"{cls}: gated doc must not quarantine"
        assert sorted(map(str, good.collect())) == baseline, f"{cls}: gated != clean record"


def test_duplicate_filename_posture_and_gate(spark):
    """Same {id}-{nrc} uploaded twice: both copies parse clean (silent
    duplication -- every point read and calendar double-counts), and
    curation.quarantine_duplicate_keys on the parsed key quarantines
    ALL copies, the r10 dupkey contract."""
    from etl_upc_syllabus_spark.operators.curation import quarantine_duplicate_keys

    docs = [clean_doc(), clean_doc(name="Matemática Básica (corregido)")]
    good, bad = _run(spark, docs)
    assert good.count() == 2 and bad.count() == 0

    keyed = good.withColumn("_k", F.concat_ws("-", "id", "nrc"))
    clean_side, quar = quarantine_duplicate_keys(keyed, "_k")
    assert clean_side.count() == 0
    assert quar.count() == 2
    assert {r["quarantine_reason"] for r in quar.collect()} == {"dupkey:2"}


def test_week_cells_missing_is_contract_degrade(spark):
    """P6-adjacent ragged contract: a week-data row missing trailing
    cells parses with the absent lists empty (the len(cells) > k
    guards), never an error."""
    good, bad = _run(spark, [mutations()["week_cells_missing"](clean_doc())])
    assert bad.count() == 0
    units = good.collect()[0]["units"]
    assert units[0]["syllabus"] == ["t1", "t2"]
    assert units[0]["exams"] == [] and units[0]["bibliography"] == []


def test_normalize_raw_docs_passes_null_rows_through(spark):
    """Schema-legal NULL rows/pages must survive the NFKC pre-pass
    untouched (review r11: the Arrow worker must not die on
    containsNull shapes -- the parse stage owns null handling)."""
    d = clean_doc()
    rows = [(d[0], None, [None, ["SEMANA", None]], d[3])]
    raw = spark.createDataFrame(rows, RAW_DOC_SCHEMA)
    out = normalize_raw_docs(raw).collect()[0]
    assert out["pages"] is None
    assert list(out["units_table"]) == [None, ["SEMANA", None]]


def test_parse_nfkc_knob_equals_prepass_then_parse(spark):
    """VERDICT r11 item 5: ``parse_documents(nfkc=True)`` fuses the
    NFKC pre-pass into the parse stage's single Arrow pass (the
    standalone pre-pass measured 55-61% of the parse cost). Pinned:
    for the clean golden document AND every probe mutation class, the
    fused knob's full parsed output equals normalize_raw_docs -> parse
    exactly; and the default (nfkc=False) stays the raw
    reference-parity posture, untouched."""
    docs = [clean_doc()] + [m(clean_doc()) for m in mutations().values()]
    raw = spark.createDataFrame([tuple(d) for d in docs], RAW_DOC_SCHEMA)

    fused = sorted(map(str, parse_documents(raw, nfkc=True).collect()))
    prepass = sorted(map(str, parse_documents(normalize_raw_docs(raw)).collect()))
    assert fused == prepass

    # default posture unchanged: the NBSP header class still parses
    # silently to defaults without the knob (the frozen registry path)
    good, bad = _run(spark, [mutations()["nbsp_in_header"](clean_doc())])
    assert bad.count() == 0 and good.collect()[0]["name"] == ""


def test_parse_pdfs_equals_extract_then_parse(spark, tmp_path):
    """``parse_pdfs`` (decode + parse in one Arrow pass, the CLI's path)
    yields exactly the rows of extract_documents -> parse_documents,
    with and without NFKC, on real PDF bytes: the clean template, the
    two NBSP classes NFKC rescues (cp1252 PDF text carries NBSP but
    not the NFD/fullwidth/ZWSP classes) and a corrupt file."""
    docs = [
        clean_doc(),
        mutations()["nbsp_in_header"](clean_doc(filename="UG-202520_1AEL0321-9001.pdf")),
        mutations()["nbsp_after_bullet"](clean_doc(filename="UG-202520_1AEL0500-1111.pdf")),
    ]
    for filename, pages, units_table, assessments_table in docs:
        minipdf.write_pdf(
            str(tmp_path / filename),
            [
                pages[0],
                ["VI. UNIDADES DE APRENDIZAJE", ("table", units_table)],
                ["VIII. EVALUACIÓN", ("table", assessments_table)],
            ],
        )
    (tmp_path / "UG-202520_1AEL9999-0000.pdf").write_bytes(b"%PDF-1.4 garbage")
    binary = extract.read_syllabus_pdfs(spark, str(tmp_path))

    by_posture = {}
    for nfkc in (False, True):
        fused = sorted(map(str, parse_pdfs(binary, nfkc=nfkc).collect()))
        staged = parse_documents(extract.extract_documents(binary), nfkc=nfkc)
        assert fused == sorted(map(str, staged.collect())), f"nfkc={nfkc}"
        assert len(fused) == 4
        by_posture[nfkc] = fused
    # the knob reaches the fused pass: NFKC changes the NBSP-header record
    assert by_posture[False] != by_posture[True]
