"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench -q -p no:cacheprovider

Run from the root of a checkout. None of these start Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import run  # noqa: E402
from spans import self_times, subtree  # noqa: E402


def _tree_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for base, _dirs, names in os.walk(path):
        for n in names:
            full = os.path.join(base, n)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.GENERATORS[workload](seed, str(tmp_path / name))
    a, b, c = (_tree_bytes(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert "manifest.json" in a
    assert a != c


def test_doc_manifest_matches_the_parse_kernels(tmp_path):
    """The manifest's ground truth is what the engine's own stdlib
    decode and parse kernels read back from each generated file."""
    from etl_upc_syllabus_spark.pipeline import extract, minipdf, parse

    out = str(tmp_path / "docs")
    manifest = gen.generate_doc_etl(9, out)
    parsed, quarantined = {}, []
    for name in sorted(os.listdir(out)):
        if not name.endswith(".pdf"):
            continue
        with open(os.path.join(out, name), "rb") as fh:
            data = fh.read()
        try:
            pages = minipdf.extract_pages(data)
        except Exception:  # noqa: BLE001 -- corrupt file: decodes to no pages, like the extract stage
            pages = []
        texts = [p[0] for p in pages]
        routed = extract.route_tables(texts, [p[1] for p in pages])
        rec = parse.parse_document(name, texts, routed["units"], routed["assessments"])
        if rec["error"]:
            quarantined.append(name)
            assert name in rec["error"]
        else:
            parsed[rec["id"]] = rec
    assert sorted(quarantined) == manifest["quarantine"]
    assert set(parsed) == set(manifest["courses"])
    for cid, exp in manifest["courses"].items():
        rec = parsed[cid]
        assert (rec["name"], rec["nrc"], rec["period"]) == (exp["name"], exp["nrc"], exp["period"])
        assert len(rec["units"]) == exp["units"]
        got = [[a["name"].strip(), a["abrev"], a["weight"], a["week"], a["is_recoverable"]]
               for a in rec["assessments"]]
        assert got == exp["assessments"]
        assert sum(a[2] for a in got) == 100.0
    assert manifest["n_pdfs"] == len(parsed) + len(quarantined)


def test_registry_tables_keep_fixture_types(tmp_path):
    import pyarrow.parquet as pq

    out = str(tmp_path / "tables")
    gen.generate_registry(3, out)
    events = pq.ParquetFile(os.path.join(out, "events.parquet"))
    assert str(events.schema_arrow.field("ts").type) == "timestamp[us]"
    assert events.metadata.num_row_groups == gen.ROW_GROUPS
    lineitem = pq.read_table(os.path.join(out, "lineitem.parquet"))
    assert str(lineitem.schema.field("l_linenumber").type) == "int32"
    orders = pq.read_table(os.path.join(out, "orders.parquet"))
    assert set(lineitem.column("l_orderkey").to_pylist()) <= set(
        orders.column("o_orderkey").to_pylist()
    )


def test_every_metric_is_emitted_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert [w["name"] for w in bench["workloads"]] == sorted(run.WORKLOADS)

    line = run.result_line([], 3, trace=False,
                           e2e=dict.fromkeys(run.END_TO_END, 1.5), per_layer={})
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == e2e

    line = run.result_line(["x: wrong output"], 3, trace=True, e2e={},
                           per_layer={"pipeline.parse_s": 0.25})
    assert (line["correct"], line["failed"]) == (False, 1)
    assert {k: v["unit"] for k, v in line["metrics"].items()} == layers
    assert line["metrics"]["pipeline.parse_s"]["value"] == 0.25


def _span(sid, parent, start, end, layer="pipeline", name=None):
    return {"id": sid, "parent": parent, "start": start, "end": end,
            "layer": layer, "name": name or f"s{sid}"}


def test_self_time_on_a_synthetic_trace():
    spans = [
        _span(0, None, 0.0, 10.0, "bench", "pass"),
        _span(1, 0, 1.0, 4.0, name="job.cli"),
        _span(2, 1, 1.5, 2.5),
        _span(3, 1, 2.0, 3.0),     # overlaps its sibling: union counted once
        _span(4, 1, 3.5, 6.0),     # runs past its parent: clipped
        _span(5, 0, 6.0, 9.0, name="job.cli"),
        _span(6, 5, 6.0, 9.0),     # covers its parent exactly
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 3.0 - 3.0)
    assert own[1] == pytest.approx(3.0 - 1.5 - 0.5)
    assert own[2] == pytest.approx(1.0) and own[4] == pytest.approx(2.5)
    assert own[5] == pytest.approx(0.0)
    assert [s["id"] for s in subtree(spans, 5)] == [5, 6]


def test_layer_metrics_account_for_a_traced_pass():
    class FakeTracer:
        spans = [
            _span(0, None, 0.0, 5.0, "bench", "pass"),
            _span(1, 0, 0.0, 5.0, "pipeline", "job.cli"),
            _span(2, 1, 0.0, 2.0, "pipeline", "extract"),
            _span(3, 1, 2.0, 4.5, "pipeline", "parse"),
        ]

    FakeTracer.spans[2]["counters"] = {"executor_run_s": 4.0, "tasks": 4.0}
    m = run._layer_metrics(FakeTracer, FakeTracer.spans[0], cores=4)
    assert m["pipeline.extract_s"] == pytest.approx(2.0)
    assert m["pipeline.parse_s"] == pytest.approx(2.5)
    assert m["trace.unaccounted_s"] == pytest.approx(0.5)
    assert m["pipeline.tasks"] == 4.0
    assert m["pipeline.core_busy"] == pytest.approx(4.0 / (5.0 * 4))


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "doc_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
