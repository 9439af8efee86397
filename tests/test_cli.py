"""Drop-in CLI parity: python -m etl_upc_syllabus_spark <in> <out>
produces the reference's artifacts (etl_courses.py + README.md
"Archivos generados") from real PDF bytes."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from etl_upc_syllabus_spark.__main__ import main
from etl_upc_syllabus_spark.pipeline import assemble, calendar, extract, minipdf, sinks

from .test_minipdf import ASSESSMENTS_TABLE, PAGE1, UNITS_TABLE
from .test_pipeline_golden import assert_same_corpus


def _small_corpus(raw, name_a="Matemática Básica", name_b="Física I"):
    """Two parseable syllabi, one corrupt PDF and the period config."""
    raw.mkdir()

    def pages(course):
        return [
            PAGE1.replace("Matemática Básica", course),
            ["VI. UNIDADES DE APRENDIZAJE", ("table", UNITS_TABLE)],
            ["VIII. EVALUACIÓN", ("table", ASSESSMENTS_TABLE)],
        ]

    minipdf.write_pdf(str(raw / "UG-202520_1AEL0244-8281.pdf"), pages(name_a))
    minipdf.write_pdf(str(raw / "UG-202520_1AEL0321-9001.pdf"), pages(name_b))
    (raw / "UG-202520_1AEL9999-0000.pdf").write_bytes(b"%PDF-1.4 garbage")
    (raw / "config.json").write_text(
        json.dumps({"2025-2": {"start_date": "2025-08-25", "end_date": "2025-12-06"}})
    )


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a fresh process that builds its own session; the script prints one
# JSON line. python_daemons() lists the JVM's child processes that run
# a Python module: the worker daemons (workers are their children).
_FRESH_SESSION = """
import json, os, sys
from etl_upc_syllabus_spark.session import get_spark
spark = get_spark("fresh", cpus=2)

def python_daemons():
    from pyspark import SparkContext
    jvm = SparkContext._gateway.proc.pid
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                stat = fh.read()
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv = fh.read().decode().split("\\0")[:-1]
        except OSError:
            continue
        if int(stat[stat.rindex(b")") + 2:].split()[1]) == jvm and "-m" in argv:
            found.append(argv[argv.index("-m") + 1])
    return found
"""


def _run_fresh_session(script: str, cwd, *args: str, env: dict[str, str] | None = None,
                       before: str = ""):
    """Run ``script`` after _FRESH_SESSION in a new interpreter started in
    ``cwd``, with the repo on sys.path the way conftest puts it there
    (not on PYTHONPATH), and ``env`` added to the environment; ``before``
    runs ahead of the session's start."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"} | (env or {})
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    prelude = f"import sys; sys.path.insert(0, {_REPO!r})\n"
    proc = subprocess.run(
        [sys.executable, "-c", prelude + before + _FRESH_SESSION + script, *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _persistent_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_cli_end_to_end(spark, tmp_path):
    raw = tmp_path / "raw"
    out = tmp_path / "data"
    _small_corpus(raw)

    assert main([str(raw), str(out)]) == 0

    # reference artifact set: per-course '{name}-{nrc}.json', consolidated
    # array, calendar PDF -- plus the scale-path parquet corpus
    assert (out / "Matemática Básica-8281.json").exists()
    assert (out / "Física I-9001.json").exists()
    assert (out / "weekly_calendar.pdf").read_bytes()[:5] == b"%PDF-"
    assert os.path.isdir(out / "courses_parquet")

    courses = json.loads((out / "all_courses.json").read_text(encoding="utf-8"))
    assert sorted(c["id"] for c in courses) == ["1AEL0244", "1AEL0321"]
    # J1 enrichment ran (the reference's dead code, alive here): week 4 of a
    # 2025-08-25 period start is Monday 2025-09-15 .. Saturday 2025-09-20
    a0 = next(c for c in courses if c["id"] == "1AEL0244")["assessments"][0]
    assert (a0["initial_date"], a0["last_date"]) == ("2025-09-15", "2025-09-20")
    # the corrupt PDF is reported, from the same read as the courses
    qreport = json.loads((out / "quarantine.json").read_text(encoding="utf-8"))
    assert len(qreport) == 1
    assert "UG-202520_1AEL9999-0000.pdf" in qreport[0]["error"]


def test_cli_decodes_each_pdf_once(spark, tmp_path, monkeypatch):
    """Every PDF crosses the decode stage exactly once per run: the
    rejects and the course set come from one pass over the parsed
    frame, not from a second scan of the input directory. The scan is
    wrapped in a pass-through Arrow stage that counts the rows it hands
    on."""
    raw = tmp_path / "raw"
    _small_corpus(raw)
    scanned = spark.sparkContext.accumulator(0)
    real_scan = extract.read_syllabus_pdfs

    def counted_scan(session, directory):
        df = real_scan(session, directory)

        def tally(batches):
            for batch in batches:
                scanned.add(len(batch))
                yield batch

        return df.mapInPandas(tally, schema=df.schema)

    monkeypatch.setattr(extract, "read_syllabus_pdfs", counted_scan)
    rdds_before = _persistent_rdds(spark)

    assert main([str(raw), str(tmp_path / "data")]) == 0
    assert scanned.value == 3
    # and nothing is left persisted
    assert _persistent_rdds(spark) == rdds_before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cli_runs_one_job_no_shuffle_and_persists_nothing(spark, tmp_path):
    """One run is one Spark job, shuffles nothing and leaves no RDD
    persisted: one Python pass over the parsed frame writes the JSON
    artifacts and the parquet corpus and hands back the calendar lines
    and the rejects, the period dates come from a literal map, and the
    calendar is grouped on the driver. As queries of their own the
    calendar would add four jobs and a shuffle, the quarantine report
    one more job, a broadcast join of the periods and Spark's parquet
    writer one each, and reading the parsed frame twice would need it
    persisted."""
    raw = tmp_path / "raw"
    _small_corpus(raw)
    sc = spark.sparkContext
    group = "test-cli-job-shape"
    sc.setJobGroup(group, "one CLI run")
    try:
        assert main([str(raw), str(tmp_path / "data")]) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1, sorted(jobs)
    shuffle_bytes = 0
    it = store.job(jobs[0]).stageIds().iterator()
    while it.hasNext():
        st = store.lastStageAttempt(it.next())
        shuffle_bytes += st.shuffleWriteBytes() + st.shuffleReadBytes()
    assert shuffle_bytes == 0
    assert sc._jsc.getPersistentRDDs().isEmpty()


def _pipeline_split(spark, raw):
    """(good, bad) of the CLI's input from the public pipeline functions."""
    parsed = assemble.parse_pdfs(extract.read_syllabus_pdfs(spark, str(raw)))
    with open(raw / "config.json", encoding="utf-8") as fh:
        parsed = assemble.enrich_dates(parsed, assemble.load_periods(spark, json.load(fh)))
    return assemble.split_quarantine(parsed)


def _corpus(raw, kind):
    """The small corpus, three rejects, or no PDF at all; each with the
    period config."""
    if kind == "small":
        return _small_corpus(raw)
    raw.mkdir()
    if kind == "all_rejects":
        for i in range(3):
            (raw / f"UG-202520_1AEL99{i:02d}-00{i:02d}.pdf").write_bytes(b"%PDF-1.4 junk")
    (raw / "config.json").write_text(
        json.dumps({"2025-2": {"start_date": "2025-08-25", "end_date": "2025-12-06"}})
    )


@pytest.mark.parametrize("corpus", ["small", "all_rejects", "empty"])
def test_cli_calendar_and_quarantine_match_the_queries(spark, tmp_path, corpus):
    """The CLI groups the calendar on the driver and takes the rejects
    from its JSON pass; both artifacts equal what the Spark queries
    give over the same input: weekly_calendar.pdf byte for byte against
    render_pdf(weekly_calendar(good)), quarantine.json against
    bad.collect()."""
    raw, out = tmp_path / "raw", tmp_path / "data"
    _corpus(raw, corpus)
    assert main([str(raw), str(out)]) == 0

    good, bad = _pipeline_split(spark, raw)
    expected = tmp_path / "expected.pdf"
    calendar.render_pdf(assemble.weekly_calendar(good), str(expected))
    assert (out / "weekly_calendar.pdf").read_bytes() == expected.read_bytes()
    rejects = json.loads((out / "quarantine.json").read_text(encoding="utf-8"))
    assert rejects == [{"id": r["id"], "error": r["error"]} for r in bad.collect()]
    assert len(rejects) == {"small": 1, "all_rejects": 3, "empty": 0}[corpus]


@pytest.mark.parametrize("corpus", ["small", "all_rejects", "empty"])
def test_cli_parquet_matches_the_library_writer(spark, tmp_path, corpus):
    """The corpus the CLI writes in its artifact pass reads, through
    read_courses, as write_courses_parquet of the same good rows does:
    the same schema, nullability included, and the same rows; with no
    good row, both hold only _SUCCESS."""
    raw, out, lib = tmp_path / "raw", tmp_path / "data", tmp_path / "lib"
    _corpus(raw, corpus)
    assert main([str(raw), str(out)]) == 0

    good, _ = _pipeline_split(spark, raw)
    sinks.write_courses_parquet(good, str(lib), on_unsafe="off")
    assert_same_corpus(spark, out, lib)
    n = sinks.read_courses(spark, str(out)).count()
    assert n == {"small": 2, "all_rejects": 0, "empty": 0}[corpus]
    if not n:
        assert os.listdir(out / sinks.COURSES_DIRNAME) == ["_SUCCESS"]


def test_cli_rerun_into_one_output_dir_keeps_one_copy(spark, tmp_path):
    """A second run into the same output directory replaces the parquet
    corpus: each row is there once, and the write-artifact audit sees
    one clean single-job commit (one writer id, ``_SUCCESS``)."""
    from etl_upc_syllabus_spark.sources.formats import audit_write_artifacts

    raw, out = tmp_path / "raw", tmp_path / "data"
    _small_corpus(raw)
    for _ in range(2):
        assert main([str(raw), str(out)]) == 0
    ids = sorted(r["id"] for r in sinks.read_courses(spark, str(out)).collect())
    assert ids == ["1AEL0244", "1AEL0321"]
    corpus = out / sinks.COURSES_DIRNAME
    assert sorted(os.listdir(corpus)) == ["_SUCCESS", "period=2025-2"]
    assert audit_write_artifacts(spark, str(corpus)).collect() == []


def test_cli_long_course_name(spark, tmp_path):
    """A course name is parsed out of the PDF with no length bound; the
    name part of its per-record file name is cut to the file system's
    255-byte limit on a character boundary, instead of failing the
    whole run. The file still holds the full record."""
    raw, out = tmp_path / "raw", tmp_path / "data"
    long_name = "Á" * 200  # 400 UTF-8 bytes
    _small_corpus(raw, long_name)
    assert main([str(raw), str(out)]) == 0

    [fname] = [n for n in os.listdir(out) if n.endswith("-8281.json")]
    assert len(fname.encode()) <= 255
    assert fname == "Á" * ((255 - len("-8281.json")) // 2) + "-8281.json"
    courses = json.loads((out / "all_courses.json").read_text(encoding="utf-8"))
    [rec] = [c for c in courses if c["id"] == "1AEL0244"]
    assert rec["name"] == long_name
    assert (out / fname).read_text(encoding="utf-8") == json.dumps(
        rec, ensure_ascii=False, indent=2
    )


def test_cli_path_separators_in_course_names(spark, tmp_path):
    """A course name parsed out of a PDF names its per-record file. A
    '/' in it used to fail the whole run (the worker opened a file in a
    directory that does not exist) and '../x' wrote outside the output
    directory. The separators become '_' in the file name only: the
    run completes, every file lands inside the output directory, and
    every artifact keeps the parsed names."""
    raw, out = tmp_path / "raw", tmp_path / "data"
    _small_corpus(raw, "Cálculo I/II", "../escape")
    assert main([str(raw), str(out)]) == 0

    assert sorted(p.name for p in tmp_path.iterdir()) == ["data", "raw"]
    assert sorted(p.name for p in raw.iterdir()) == sorted(
        ["UG-202520_1AEL0244-8281.pdf", "UG-202520_1AEL0321-9001.pdf",
         "UG-202520_1AEL9999-0000.pdf", "config.json"]
    )
    per_record = sorted(
        n for n in os.listdir(out)
        if n.endswith(".json") and n not in ("all_courses.json", "quarantine.json")
    )
    assert per_record == [".._escape-9001.json", "Cálculo I_II-8281.json"]
    courses = json.loads((out / "all_courses.json").read_text(encoding="utf-8"))
    assert {c["id"]: c["name"] for c in courses} == {
        "1AEL0244": "Cálculo I/II", "1AEL0321": "../escape"
    }
    for c, fname in zip(sorted(courses, key=lambda c: c["id"]), reversed(per_record)):
        assert (out / fname).read_text(encoding="utf-8") == json.dumps(
            c, ensure_ascii=False, indent=2
        )
    assert sorted(r["name"] for r in sinks.read_courses(spark, str(out)).collect()) == [
        "../escape", "Cálculo I/II"
    ]
    good, _ = _pipeline_split(spark, raw)
    expected = tmp_path / "expected.pdf"
    calendar.render_pdf(assemble.weekly_calendar(good), str(expected))
    assert (out / "weekly_calendar.pdf").read_bytes() == expected.read_bytes()
    expected.unlink()
    assert len(json.loads((out / "quarantine.json").read_text(encoding="utf-8"))) == 1


def test_cli_runs_one_python_daemon(tmp_path):
    """The CLI's Python stages (decode/parse and the JSON sinks) all run
    on one worker pool, forked from the engine's daemon: a fresh session
    built by get_spark ends the run with exactly one daemon process."""
    raw = tmp_path / "raw"
    _small_corpus(raw)
    daemons = _run_fresh_session(
        "from etl_upc_syllabus_spark.__main__ import main\n"
        "assert main(sys.argv[1:]) == 0\n"
        "print(json.dumps(python_daemons()))\n",
        _REPO, str(raw), str(tmp_path / "data"),
    )
    assert daemons == ["etl_upc_syllabus_spark._pydaemon"]


def test_daemon_starts_outside_the_repo(tmp_path):
    """The daemon is started by module name from the driver's working
    directory; run from elsewhere, with the repo only on the driver's
    sys.path, plain-lambda and package Python stages still run."""
    out = tmp_path / "data"
    got = _run_fresh_session(
        "from etl_upc_syllabus_spark.pipeline import sinks\n"
        "df = spark.range(1, 6).mapInPandas(\n"
        "    lambda it: (b.assign(sq=b.id * b.id) for b in it), 'id long, sq long')\n"
        "paths, _ = sinks.write_course_json(\n"
        "    df.selectExpr('cast(id as string) as name', 'sq as nrc'), sys.argv[1])\n"
        "print(json.dumps([sorted(map(os.path.basename, paths)), python_daemons()]))\n",
        tmp_path, str(out),
    )
    assert got == [[f"{i}-{i * i}.json" for i in range(1, 6)], ["etl_upc_syllabus_spark._pydaemon"]]
    assert [r["nrc"] for r in json.loads((out / "all_courses.json").read_text())] == [
        i * i for i in range(1, 6)
    ]


def test_cli_leaves_session_as_found(spark, tmp_path):
    """Run inside an application that already has a session, the CLI
    uses that session as it is: its conf (app name and shuffle
    partitions included), persisted RDDs and temp views are unchanged
    after the run. A distinctive shuffle-partition count makes any
    rebuild of the session visible whatever ran before this test."""
    raw = tmp_path / "raw"
    _small_corpus(raw)
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        conf_before = dict(spark.conf.getAll)
        rdds_before = _persistent_rdds(spark)
        views_before = {t.name for t in spark.catalog.listTables() if t.isTemporary}

        assert main([str(raw), str(tmp_path / "data")]) == 0

        assert dict(spark.conf.getAll) == conf_before
        assert _persistent_rdds(spark) == rdds_before
        assert {t.name for t in spark.catalog.listTables() if t.isTemporary} == views_before
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_cli_200_course_corpus(spark, tmp_path):
    """VERDICT r6 item 7: the full pipeline+quarantine+calendar path at
    ~10x the original fixture size -- 200 synthetic syllabi (plus a
    handful of corrupt ones), generated with the stdlib minipdf
    encoder. Guards the Arrow parse stage's batching assumptions (the
    grouped-map parser sees many documents per batch here, not 2) and
    proves the executor-side sinks fan out across a real corpus.
    Timed so a pathological slowdown fails loudly rather than rotting.
    """
    import time

    n_ok, n_bad = 200, 5
    raw = tmp_path / "raw"
    out = tmp_path / "data"
    raw.mkdir()

    for i in range(n_ok):
        course = f"Curso Sintetico {i:03d}"
        nrc = 1000 + i
        code = f"1AEL{i:04d}"
        minipdf.write_pdf(
            str(raw / f"UG-202520_{code}-{nrc}.pdf"),
            [
                PAGE1.replace("Matemática Básica", course),
                ["VI. UNIDADES DE APRENDIZAJE", ("table", UNITS_TABLE)],
                ["VIII. EVALUACIÓN", ("table", ASSESSMENTS_TABLE)],
            ],
        )
    for i in range(n_bad):
        (raw / f"UG-202520_1AEL99{i:02d}-00{i:02d}.pdf").write_bytes(
            b"%PDF-1.4 truncated garbage " + bytes([i])
        )
    (raw / "config.json").write_text(
        json.dumps({"2025-2": {"start_date": "2025-08-25", "end_date": "2025-12-06"}})
    )

    t0 = time.perf_counter()
    assert main([str(raw), str(out)]) == 0
    elapsed = time.perf_counter() - t0

    courses = json.loads((out / "all_courses.json").read_text(encoding="utf-8"))
    assert len(courses) == n_ok
    assert len({c["id"] for c in courses}) == n_ok
    # per-course sinks fanned out executor-side for every document
    per_course = [
        p
        for p in os.listdir(out)
        if p.endswith(".json") and p not in ("all_courses.json", "quarantine.json")
    ]
    assert len(per_course) == n_ok
    # the calendar renders the full corpus
    assert (out / "weekly_calendar.pdf").read_bytes()[:5] == b"%PDF-"
    # corrupt PDFs land in quarantine, never in the output set
    qreport = json.loads((out / "quarantine.json").read_text(encoding="utf-8"))
    assert len(qreport) == n_bad
    # generous wall-clock guard: the 2-doc test runs in ~5 s; 200 docs
    # through the same Arrow-batched stages must stay near-linear.
    # Opt-in via env flag so functional assertions never fail on
    # machine load alone (ADVICE r7): end-to-end time includes JVM and
    # Arrow warmup, which a contended host can inflate arbitrarily.
    if os.environ.get("SPARK_GRAFT_TIMING_ASSERTS"):
        assert elapsed < 300, f"200-course CLI run took {elapsed:.0f}s"


def test_cli_empty_input_dir(spark, tmp_path):
    """A nightly run with no new files must succeed with empty
    artifacts, not crash: exit 0, empty consolidated array, empty
    quarantine, and a valid (if bare) calendar PDF."""
    raw = tmp_path / "raw"
    out = tmp_path / "data"
    raw.mkdir()
    (raw / "config.json").write_text(
        json.dumps({"2025-2": {"start_date": "2025-08-25", "end_date": "2025-12-06"}})
    )
    assert main([str(raw), str(out)]) == 0
    assert json.loads((out / "all_courses.json").read_text(encoding="utf-8")) == []
    assert json.loads((out / "quarantine.json").read_text(encoding="utf-8")) == []
    assert (out / "weekly_calendar.pdf").read_bytes()[:5] == b"%PDF-"


def test_cli_nfkc_flag_rescues_hostile_headers(spark, tmp_path):
    """--nfkc wires the fused parse knob into the drop-in CLI: a
    syllabus whose 'I. INFORMACIÓN GENERAL' header carries NBSPs (the
    r11 probe's worst silent class) parses to default-valued fields
    without the flag (reference-parity posture) and to the full record
    with it."""
    nbsp = " "
    hostile_page1 = PAGE1.replace(
        "I. INFORMACIÓN GENERAL", f"I.{nbsp}INFORMACIÓN{nbsp}GENERAL"
    )
    for flag, expected_name in [([], ""), (["--nfkc"], "Matemática Básica")]:
        raw = tmp_path / f"raw{len(flag)}"
        out = tmp_path / f"data{len(flag)}"
        raw.mkdir()
        minipdf.write_pdf(
            str(raw / "UG-202520_1AEL0244-8281.pdf"),
            [
                hostile_page1,
                ["VI. UNIDADES DE APRENDIZAJE", ("table", UNITS_TABLE)],
                ["VIII. EVALUACIÓN", ("table", ASSESSMENTS_TABLE)],
            ],
        )
        assert main([str(raw), str(out), *flag]) == 0
        courses = json.loads((out / "all_courses.json").read_text(encoding="utf-8"))
        assert len(courses) == 1
        assert courses[0]["name"] == expected_name, flag
