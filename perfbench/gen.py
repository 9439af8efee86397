"""Seeded input generator for the benchmark.

Run as its own process before the benchmark sets up Spark:

    python3 perfbench/gen.py --workload doc_etl --seed 7 --out DIR

The same seed always yields byte-identical files. The program under test
only ever sees these files.

* ``doc_etl``: a syllabus PDF corpus written with
  ``pipeline.minipdf.write_pdf`` (ruled, report-styled, borderless and
  split-row unit tables; 1-4 units; 2-6 assessments; corrupt files;
  valid-but-unparseable files), a ``config.json`` period map, and
  ``manifest.json`` with the expected parse of every file.
* ``registry_mix``: the ten star-schema / events / documents / embeddings
  tables the registry reads, with the column names, physical types and
  value domains of the repository's test fixtures (TESTDATA.md), seeded
  row order and several row groups per table (so scans can run in
  parallel).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- doc_etl ---------------------------------------------------------------

N_PDFS = 48
PERIODS = {
    "2024-2": {"start_date": "2024-08-26", "end_date": "2024-12-07"},
    "2025-1": {"start_date": "2025-03-24", "end_date": "2025-07-12"},
    "2025-2": {"start_date": "2025-08-25", "end_date": "2025-12-06"},
}
_COURSE_WORDS = ["Matemática", "Física", "Química", "Cálculo", "Economía", "Diseño",
                 "Redes", "Estadística", "Gestión", "Programación"]
_FACULTY = ["Ana Pérez", "Luis Díaz", "María Núñez", "Jorge Ríos", "Rosa Vega", "Iván Soto"]
_ASSESSMENT_TYPES = ["PRÁCTICA PC", "EXAMEN PARCIAL", "TRABAJO FINAL", "EXAMEN FINAL",
                     "EVALUACIÓN DE DESEMPEÑO", "TAREA ACADÉMICA"]
_UNITS_HEADER = ["SEMANA", "TEMARIO", "ACTIVIDADES", "EVALUACIONES", "BIBLIOGRAFÍA"]
_ASSESSMENTS_HEADER = ["TIPO", "COMPETENCIA", "PESO", "SEMANA", "OBSERVACIÓN", "RECUPERABLE"]
#: table layouts, in the proportions they take in the corpus (9:3:5:3)
_LAYOUTS = ["table"] * 9 + ["styled_table"] * 3 + ["bare_table"] * 5 + ["split_rows"] * 3


def _stratified(rng, values: list, n: int) -> list:
    """``n`` items cycling through ``values``, in seeded order. Every seed
    gets the same multiset, so seeds change the inputs' content and
    order but not the amount of work in them."""
    items = [values[i % len(values)] for i in range(n)]
    return [items[i] for i in rng.permutation(n)]


def _split_weeks(rng, n_units: int, weeks: int = 16) -> list[tuple[int, int]]:
    cuts = sorted(rng.choice(range(2, weeks + 1), size=n_units - 1, replace=False).tolist())
    starts = [1, *cuts]
    ends = [c - 1 for c in cuts] + [weeks]
    return list(zip(starts, ends))


def _units_rows(rng, doc_no: int, layout: str, n_units: int) -> list[list[str]]:
    rows: list[list[str]] = []
    for k, (a, b) in enumerate(_split_weeks(rng, n_units), start=1):
        rows.append([f"Unidad n. {k}: Tema {doc_no}-{k}", "", "", "", ""])
        rows.append([f"COMPETENCIA (S): competencia {k}", "", "", "", ""])
        if layout == "split_rows":
            # a tall cell the extractor splits across two physical rows;
            # the parser's repair step merges it back
            rows.append([f"LOGRO DE LA UNIDAD: resuelve casos {k}", "", "", "", ""])
            rows.append(["con autonomía", "", "", "", ""])
        else:
            rows.append([f"LOGRO DE LA UNIDAD: resuelve casos {k}", "", "", "", ""])
        rows.append(list(_UNITS_HEADER))
        rows.append([f"Semana {a} - {b}", f"• t{k}a • t{k}b", f"• act{k}", f"• ev{k}", f"• bib{k}"])
    return rows


def _assessments(rng, bare: bool, n: int) -> tuple[list[list[str]], list[list]]:
    types = rng.choice(len(_ASSESSMENT_TYPES), size=n, replace=False)
    cuts = sorted(rng.choice(range(1, 20), size=n - 1, replace=False).tolist())
    weights = [5 * (b - a) for a, b in zip([0, *cuts], [*cuts, 20])]  # sums to 100
    rows, expected = [list(_ASSESSMENTS_HEADER)], []
    for i, t in enumerate(types):
        name, abrev = _ASSESSMENT_TYPES[int(t)], str(i + 1)
        week = int(rng.integers(1, 17))
        recoverable = bool(rng.integers(0, 2))
        # the borderless (text-strategy) reader needs every column
        # populated in some row to find its gutter
        obs = "ninguna" if bare or i == 0 else ""
        rows.append([f"{name} - {abrev}", "g1", f"{weights[i]}%", str(week), obs,
                     "Sí" if recoverable else "No"])
        expected.append([name, abrev, float(weights[i]), week, recoverable])
    return rows, expected


def _general_page(name: str, faculty: list[str], credits: int) -> str:
    return (
        "Sílabo de Curso\n"
        "I. INFORMACIÓN GENERAL\n"
        f"Nombre del Curso : {name}\n"
        f"Cuerpo académico : {', '.join(faculty)}\n"
        f"Créditos : {credits}\n"
        "Semanas : 16\n"
        "II. MISIÓN Y VISIÓN DE LA UPC\n"
        "Formar líderes íntegros (con visión global)."
    )


def generate_doc_etl(seed: int, out: str, n_pdfs: int = N_PDFS) -> dict:
    from etl_upc_syllabus_spark.pipeline import minipdf

    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    periods = sorted(PERIODS)
    n_corrupt = max(1, round(0.02 * n_pdfs))
    # corrupt files, then valid PDFs the parser must quarantine
    kinds = ["corrupt"] * n_corrupt + ["bad_grammar", "bad_grammar", "bad_name"]
    kinds += ["ok"] * (n_pdfs - len(kinds))
    kinds = [kinds[i] for i in rng.permutation(len(kinds))]
    layouts = _stratified(rng, _LAYOUTS, n_pdfs)
    unit_counts = _stratified(rng, [1, 2, 3, 4], n_pdfs)
    assessment_counts = _stratified(rng, [2, 3, 4, 5, 6], n_pdfs)
    courses: dict[str, dict] = {}
    quarantine: list[str] = []
    for i, kind in enumerate(kinds):
        period = periods[int(rng.integers(0, len(periods)))]
        code = f"1A{'ELMS'[i % 4]}{'BCDX'[(i // 4) % 4]}{i:04d}"
        nrc = f"{1000 + i}"
        fname = f"UG-{period.replace('-', '')}0_{code}-{nrc}.pdf"
        path = os.path.join(out, fname)
        if kind == "corrupt":
            payload = rng.integers(0, 256, size=int(rng.integers(16, 256)), dtype=np.uint8)
            with open(path, "wb") as fh:
                fh.write(b"%PDF-1.4\n" + payload.tobytes())
            quarantine.append(fname)
            continue
        layout = layouts[i]
        table_tag = "table" if layout == "split_rows" else layout
        name = f"{_COURSE_WORDS[i % len(_COURSE_WORDS)]} {i:04d}"
        faculty = [_FACULTY[int(j)] for j in rng.choice(len(_FACULTY), size=2, replace=False)]
        credits = int(rng.integers(2, 6))
        units = _units_rows(rng, i, layout, unit_counts[i])
        assess_rows, assess_expected = _assessments(
            rng, bare=layout == "bare_table", n=assessment_counts[i]
        )
        if kind == "bad_grammar":
            # unit table that does not open with a unit title row; the
            # parser's error names the row, which carries the file name
            units[0][0] = f"Tabla rota {fname}"
        elif kind == "bad_name":
            # matches the scan glob but not the id pattern (9-char id)
            fname = f"UG-{period.replace('-', '')}0_{code}Z-{nrc}.pdf"
            path = os.path.join(out, fname)
        minipdf.write_pdf(
            path,
            [
                _general_page(name, faculty, credits),
                ["VI. UNIDADES DE APRENDIZAJE", (table_tag, units)],
                ["VIII. EVALUACIÓN", (table_tag, assess_rows)],
            ],
        )
        if kind == "ok":
            courses[code] = {
                "name": name,
                "nrc": nrc,
                "period": period,
                "units": sum(1 for r in units if r[0].startswith("Unidad n.")),
                "assessments": assess_expected,
            }
        else:
            quarantine.append(fname)
    with open(os.path.join(out, "config.json"), "w", encoding="utf-8") as fh:
        json.dump(PERIODS, fh, sort_keys=True)
    manifest = {
        "seed": seed,
        "n_pdfs": n_pdfs,
        "courses": courses,
        "quarantine": sorted(quarantine),
    }
    with open(os.path.join(out, "manifest.json"), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, ensure_ascii=False, indent=1, sort_keys=True)
    return manifest


# --- registry_mix -------------------------------------------------------------

#: row counts (about TPC-H scale factor 0.002, with the test fixtures'
#: ratios between tables)
SIZES = {
    "customer": 300,
    "supplier": 20,
    "part": 400,
    "orders": 3000,
    "events": 2000,
    "documents": 500,
    "embeddings": 500,
}
ROW_GROUPS = 4
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "blue", "red", "cold", "hot", "old", "new"]
_PART_NOUN = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = (["en"] * 8) + ["de", "es", "fr", "zh"] * 3
_VOCAB = ("a the big small fast slow data table row column key value join merge sort "
          "hash scan filter group agg order part line batch stream window query spark "
          "vector customer").split()


def _write(table, out: str, name: str, rng) -> None:
    order = rng.permutation(table.num_rows)
    table = table.take(pa.array(order))
    rg = max(1, -(-table.num_rows // ROW_GROUPS))
    pq.write_table(table, os.path.join(out, f"{name}.parquet"), row_group_size=rg)


def _days(start: str, end: str, rng, n: int):
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    days = rng.integers(lo, hi + 1, size=n)
    return (days * 86_400_000_000).astype("datetime64[us]")


def generate_registry(seed: int, out: str) -> dict:
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, size=n), 2)

    def table(cols: dict) -> pa.Table:
        return pa.table({k: pa.array(v, type=t) for k, (v, t) in cols.items()})

    counts = {}

    def put(name: str, cols: dict) -> None:
        t = table(cols)
        counts[name] = t.num_rows
        _write(t, out, name, rng)

    put("region", {"r_regionkey": (np.arange(5), i32), "r_name": (_REGIONS, s)})
    put("nation", {
        "n_nationkey": (np.arange(25), i32),
        "n_name": ([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": (np.arange(25) % 5, i32),
    })
    n = SIZES["customer"]
    put("customer", {
        "c_custkey": (np.arange(n), i64),
        "c_name": ([f"Customer#{i:09d}" for i in range(n)], s),
        "c_nationkey": (rng.integers(0, 25, n), i32),
        "c_acctbal": (money(-999.99, 9999.99, n), f64),
        "c_mktsegment": ([_SEGMENTS[i] for i in rng.integers(0, 5, n)], s),
    })
    n = SIZES["supplier"]
    put("supplier", {
        "s_suppkey": (np.arange(n), i64),
        "s_name": ([f"Supplier#{i:09d}" for i in range(n)], s),
        "s_nationkey": (rng.integers(0, 25, n), i32),
        "s_acctbal": (money(-999.99, 9999.99, n), f64),
    })
    n = SIZES["part"]
    put("part", {
        "p_partkey": (np.arange(n), i64),
        "p_name": ([f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))], s),
        "p_brand": ([f"Brand#{b}" for b in rng.integers(1, 26, n)], s),
        "p_type": ([_PART_TYPES[t] for t in rng.integers(0, 6, n)], s),
        "p_size": (rng.integers(1, 51, n), i32),
        "p_retailprice": (np.round(rng.uniform(900, 1000, n), 1), f64),
    })
    n = SIZES["orders"]
    put("orders", {
        "o_orderkey": (np.arange(n), i64),
        "o_custkey": (rng.integers(0, SIZES["customer"], n), i64),
        "o_orderstatus": ([("F", "O", "P")[k] for k in rng.integers(0, 3, n)], s),
        "o_totalprice": (money(1000.0, 500000.0, n), f64),
        "o_orderdate": (_days("1995-01-01", "2001-08-01", rng, n), ts),
        "o_orderpriority": ([_PRIORITIES[k] for k in rng.integers(0, 5, n)], s),
    })
    lines_per_order = rng.integers(1, 8, n)
    m = int(lines_per_order.sum())
    put("lineitem", {
        "l_orderkey": (np.repeat(np.arange(n), lines_per_order), i64),
        "l_partkey": (rng.integers(0, SIZES["part"], m), i64),
        "l_suppkey": (rng.integers(0, SIZES["supplier"], m), i64),
        "l_linenumber": (np.concatenate([np.arange(1, k + 1) for k in lines_per_order]), i32),
        "l_quantity": (rng.integers(1, 51, m).astype("float64"), f64),
        "l_extendedprice": (money(900.0, 105000.0, m), f64),
        "l_discount": (rng.integers(0, 11, m) / 100.0, f64),
        "l_tax": (rng.integers(0, 9, m) / 100.0, f64),
        "l_returnflag": ([("A", "N", "R")[k] for k in rng.integers(0, 3, m)], s),
        "l_linestatus": ([("F", "O")[k] for k in rng.integers(0, 2, m)], s),
        "l_shipdate": (_days("1995-01-02", "2001-11-04", rng, m), ts),
    })
    n = SIZES["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span = 30 * 86_400_000_000
    put("events", {
        "event_id": (np.arange(n), i64),
        "ts": ((t0 + rng.integers(0, span, n)).astype("datetime64[us]"), ts),
        "user_id": (rng.integers(0, max(1, n // 66), n), i64),
        "event_type": ([_EVENT_TYPES[k] for k in rng.integers(0, 5, n)], s),
        "value": (np.round(rng.exponential(50.0, n), 2), f64),
        "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], s),
    })
    n = SIZES["documents"]
    # 5% near-duplicates of an earlier document, as in the fixtures
    near_dups = set(rng.choice(np.arange(10, n), size=n // 20, replace=False).tolist())
    lengths = _stratified(rng, list(range(10, 100)), n)
    texts: list[str] = []
    for i in range(n):
        if i in near_dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_VOCAB), lengths[i])
            texts.append(" ".join(_VOCAB[w] for w in words))
    put("documents", {
        "doc_id": (np.arange(n), i64),
        "text": (texts, s),
        "lang": ([_LANGS[k] for k in rng.integers(0, len(_LANGS), n)], s),
        "source": ([f"src{i % 20}" for i in range(n)], s),
        "n_chars": ([len(t) for t in texts], i64),
    })
    n, dim = SIZES["embeddings"], 64
    centroids = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + 0.6 * rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    put("embeddings", {
        "vec_id": (np.arange(n), i64),
        "embedding": ([v.tolist() for v in vecs], pa.list_(pa.float32())),
        "label": (labels, i32),
    })
    manifest = {"seed": seed, "rows": counts, "row_groups": ROW_GROUPS}
    with open(os.path.join(out, "manifest.json"), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


GENERATORS = {"doc_etl": generate_doc_etl, "registry_mix": generate_registry}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    GENERATORS[args.workload](args.seed, args.out)
    return 0


if __name__ == "__main__":
    # the program under test is imported from the checkout root
    sys.path.insert(0, os.getcwd())
    sys.exit(main())
