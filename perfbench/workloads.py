"""The benchmark's workloads: what one pass runs, traced and untraced,
and how its outputs are checked.

A pass is a list of jobs run by one closed-loop client: the next job
starts only after the previous one returned. A job is one CLI run, one
registry query, or one stream drain. Every job does all of its own
work: the caller releases what a job left in the session before the
next one starts (see ``hygiene``).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil

#: registry jobs of the ``registry_mix`` workload, in pass order
REGISTRY_JOBS = ("dedup_minhash_lsh", "stream_cdc_upsert")
#: exact Jaccard at or above which a MinHash candidate is a verified near-duplicate
NEAR_DUP_JACCARD = 0.5


def _tree_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


class DocEtl:
    """``python -m etl_upc_syllabus_spark raw out`` over a seeded
    syllabus corpus, into a fresh output directory per job."""

    name = "doc_etl"
    jobs = ("cli",)

    def __init__(self, spark, inputs: str, work: str) -> None:
        self.spark = spark
        self.inputs = inputs
        self.work = work
        with open(os.path.join(inputs, "manifest.json"), encoding="utf-8") as fh:
            self.manifest = json.load(fh)
        self.pdf_bytes = sum(
            os.path.getsize(os.path.join(inputs, n)) for n in os.listdir(inputs) if n.endswith(".pdf")
        )
        self._runs = 0

    def _fresh_out(self) -> str:
        self._runs += 1
        out = os.path.join(self.work, f"out_{self._runs:04d}")
        shutil.rmtree(out, ignore_errors=True)
        return out

    def layer(self, job: str) -> str:  # noqa: ARG002 -- one job kind
        return "pipeline"

    def run_job(self, job: str, tracer):  # noqa: ARG002
        from etl_upc_syllabus_spark.__main__ import main

        out = self._fresh_out()
        if not tracer.enabled:
            with contextlib.redirect_stdout(io.StringIO()):
                rc = main([self.inputs, out])
            if rc != 0:
                raise RuntimeError(f"CLI exited {rc}")
            return out
        self._traced_cli(out, tracer)
        return out

    def _traced_cli(self, out: str, tracer) -> None:
        """The CLI's stages through the public ``pipeline`` functions,
        each one materialized at its boundary so its span holds its own
        work. Same inputs and outputs as ``__main__.main``."""
        from etl_upc_syllabus_spark.pipeline import assemble, calendar, extract, sinks

        spark = self.spark
        held = []
        try:
            with tracer.span("extract", "pipeline"):
                raw = extract.extract_documents(extract.read_syllabus_pdfs(spark, self.inputs))
                raw = raw.persist()
                held.append(raw)
                raw.count()
            with tracer.span("parse", "pipeline"):
                parsed = assemble.parse_documents(raw).persist()
                held.append(parsed)
                parsed.count()
                good, bad = assemble.split_quarantine(parsed)
            with tracer.span("enrich", "pipeline"):
                with open(os.path.join(self.inputs, "config.json"), encoding="utf-8") as fh:
                    periods = assemble.load_periods(spark, json.load(fh))
                good = assemble.enrich_dates(good, periods).persist()
                held.append(good)
                good.count()
            os.makedirs(out, exist_ok=True)
            with tracer.span("sink_json", "pipeline"):
                sinks.write_per_record_json(good, out)
            with tracer.span("sink_all", "pipeline"):
                sinks.write_all_courses_json(good, out)
            with tracer.span("sink_parquet", "pipeline"):
                sinks.write_courses_parquet(good, out, on_unsafe="off")
            with tracer.span("calendar", "pipeline"):
                calendar.render_pdf(
                    assemble.weekly_calendar(good), os.path.join(out, "weekly_calendar.pdf")
                )
            with tracer.span("quarantine", "pipeline"):
                rejects = [{"id": r["id"], "error": r["error"]} for r in bad.collect()]
                with open(os.path.join(out, "quarantine.json"), "w", encoding="utf-8") as fh:
                    json.dump(rejects, fh, ensure_ascii=False, indent=1)
        finally:
            for df in held:
                df.unpersist()

    def check(self, job: str, out: str) -> str | None:  # noqa: ARG002
        """None when the output matches the manifest, else why not."""
        man = self.manifest
        with open(os.path.join(out, "all_courses.json"), encoding="utf-8") as fh:
            courses = json.load(fh)
        got = {c["id"]: c for c in courses}
        if len(courses) != len(man["courses"]) or set(got) != set(man["courses"]):
            return f"courses: {len(courses)} written, {len(man['courses'])} expected"
        for cid, exp in man["courses"].items():
            c = got[cid]
            if (c["name"], c["nrc"], c["period"]) != (exp["name"], exp["nrc"], exp["period"]):
                return f"{cid}: header fields differ"
            if len(c["units"] or []) != exp["units"]:
                return f"{cid}: {len(c['units'] or [])} units, {exp['units']} expected"
            assessments = [
                [a["name"].strip(), a["abrev"], a["weight"], a["week"], a["is_recoverable"]]
                for a in c["assessments"] or []
            ]
            if assessments != exp["assessments"]:
                return f"{cid}: assessments differ"
        with open(os.path.join(out, "quarantine.json"), encoding="utf-8") as fh:
            rejects = json.load(fh)
        expected = man["quarantine"]
        if len(rejects) != len(expected) or any(
            sum(fname in (r["error"] or "") for r in rejects) != 1 for fname in expected
        ):
            return f"quarantine: {len(rejects)} rejects, expected exactly {expected}"
        with open(os.path.join(out, "weekly_calendar.pdf"), "rb") as fh:
            if fh.read(5) != b"%PDF-":
                return "weekly_calendar.pdf is not a PDF"
        per_record = [n for n in os.listdir(out) if n.endswith(".json")
                      and n not in ("all_courses.json", "quarantine.json")]
        if len(per_record) != len(man["courses"]):
            return f"{len(per_record)} per-course files, {len(man['courses'])} expected"
        return None

    def output_stats(self, out: str) -> dict[str, float]:
        files, size = _tree_stats(out)
        with open(os.path.join(out, "all_courses.json"), encoding="utf-8") as fh:
            n_courses = len(json.load(fh))
        return {
            "pipeline.parsed_ratio": n_courses / self.manifest["n_pdfs"],
            "pipeline.files_written": float(files),
            "pipeline.bytes_written_per_input_byte": size / self.pdf_bytes,
        }

    def discard(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)

    def probes(self, tracer) -> dict[str, float]:  # noqa: ARG002 -- no probe for this workload
        return {}


class RegistryMix:
    """Registry queries over seeded star-schema, events and documents
    tables: the MinHash-LSH near-dup pipeline and a stateful CDC stream
    drain, called as ``plans.all_specs()[name].fn`` and collected to
    pandas."""

    name = "registry_mix"
    jobs = REGISTRY_JOBS

    def __init__(self, spark, inputs: str, work: str) -> None:  # noqa: ARG002
        from etl_upc_syllabus_spark.plans import all_specs

        self.spark = spark
        self.inputs = inputs
        self.specs = all_specs()
        self._oracle: dict[str, object] = {}

    def layer(self, job: str) -> str:
        return "streaming" if job.startswith("stream_") else "plans"

    def run_job(self, job: str, tracer):
        with tracer.span("build", self.layer(job)):
            df = self.specs[job].fn(self.spark, self.inputs)
        with tracer.span("exec", self.layer(job)):
            return df.toPandas()

    def check(self, job: str, result) -> str | None:
        from tests.oracle_harness import compare, duckdb_run

        if job not in self._oracle:
            self._oracle[job] = duckdb_run(self.specs[job].oracle, self.inputs)
        try:
            compare(_Collected(result), self._oracle[job], job)
        except AssertionError as exc:
            return str(exc)
        return None

    def output_stats(self, result) -> dict[str, float]:  # noqa: ARG002
        return {}

    def discard(self, result) -> None:
        pass

    def probes(self, tracer) -> dict[str, float]:
        """Layer probes, run after the traced passes and outside them:
        a no-op write of every input table through ``load_table``, and
        the MinHash-LSH chain of ``dedup_minhash_lsh`` split at its
        operator boundaries."""
        from etl_upc_syllabus_spark.operators import dedup as dd
        from etl_upc_syllabus_spark.sources.tables import TABLES, fan_out, load_table

        spark = self.spark
        scans = []
        for table in TABLES:
            with tracer.span(f"scan.{table}", "sources") as rec:
                load_table(spark, self.inputs, table).write.format("noop").mode("overwrite").save()
            scans.append(rec)
        held = []
        try:
            docs = fan_out(load_table(spark, self.inputs, "documents"))
            with tracer.span("dedup.shingle", "operators") as shingle:
                sets = dd.shingle_sets(docs, "doc_id", "text", k=3).persist()
                held.append(sets)
                sets.count()
            with tracer.span("dedup.minhash", "operators") as minhash:
                sig = dd.minhash_signatures(sets).persist()
                held.append(sig)
                sig.count()
            with tracer.span("dedup.lsh", "operators") as lsh:
                pairs = dd.lsh_candidate_pairs(sig).persist()
                held.append(pairs)
                candidates = pairs.count()
            with tracer.span("dedup.verify", "operators") as verify:
                scored = dd.jaccard_verify(pairs, sets).toPandas()
        finally:
            for df in held:
                df.unpersist()
        problem = self.check("dedup_minhash_lsh", scored)
        if problem:
            raise RuntimeError(f"decomposed MinHash-LSH chain: {problem}")
        verified = int((scored["jaccard"] >= NEAR_DUP_JACCARD).sum())

        def dur(rec):
            return rec["end"] - rec["start"]

        return {
            "sources.scan_s": sum(dur(r) for r in scans),
            "operators.dedup.shingle_s": dur(shingle),
            "operators.dedup.minhash_s": dur(minhash),
            "operators.dedup.lsh_s": dur(lsh),
            "operators.dedup.verify_s": dur(verify),
            "operators.dedup.lsh_candidates": float(candidates),
            "operators.dedup.verified_pairs": float(verified),
            "operators.dedup.useful_ratio": verified / candidates if candidates else 0.0,
        }


class _Collected:
    """A collected result, in the shape ``oracle_harness.compare`` reads."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 -- mirrors the DataFrame method
        return self._pdf


WORKLOADS = {w.name: w for w in (DocEtl, RegistryMix)}
