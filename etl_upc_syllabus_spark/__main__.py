"""Drop-in CLI for reference users (X3, reference etl_courses.py:8-17).

The reference is invoked as ``python etl_courses.py raw data``; this
engine is invoked the same way with the module as the program:

    python -m etl_upc_syllabus_spark raw data [--config config.json]

and produces the same artifacts in the output directory (reference
README.md "Archivos generados"): one pretty-printed JSON per course
('{name}-{nrc}.json'), the consolidated 'all_courses.json' array, and
'weekly_calendar.pdf' -- plus the scale-path parquet corpus
(period-partitioned, serving the point/period reads S7/S8) and a
quarantine report the reference only logged.

Period-date enrichment (J1) reads the reference's own config.json
format ({"2025-2": {"start_date": ..., "end_date": ...}}); the file is
looked up in the input directory, then the CWD, or passed explicitly.
Unlike the reference (which shipped the enrichment as dead code with
hardcoded constants, etl_infrastructure.py:193-216), it actually runs.

A run decodes each PDF once and reads the persisted result twice: one
Python pass (``sinks.write_run_artifacts``) writes the per-course and
consolidated JSON and hands back the calendar lines and the rejects,
and the parquet write is the second read. The calendar is grouped and
rendered on the driver (``calendar.group_lines``, ``calendar.write_pdf``)
and ``quarantine.json`` is written from the rejects, so a run is at
most four Spark jobs and no shuffle.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="python -m etl_upc_syllabus_spark",
        description="ETL pipeline for UPC syllabi (PySpark engine)",
    )
    p.add_argument("input_dir", help="Directory containing PDF files")
    p.add_argument("output_dir", help="Output directory for JSON files")
    p.add_argument("--config", default=None, help="period config.json path")
    p.add_argument("--verbose", action="store_true", help="Enable verbose logging")
    p.add_argument(
        "--nfkc",
        action="store_true",
        help="NFKC-normalize document text inside the parse stage "
        "(closes the hostile-Unicode silent classes the r11 probe "
        "measured: NBSP/NFD section markers, fullwidth colons; "
        "default off = reference-parity parsing)",
    )
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from .pipeline import assemble, calendar, extract, sinks

    # a session the process already has is used as it is: rebuilding it
    # through get_spark would rewrite its app name and shuffle partitions
    spark = SparkSession.getActiveSession()
    if spark is None:
        from .session import get_spark

        spark = get_spark("etl-upc-syllabus")
        if not args.verbose:
            spark.sparkContext.setLogLevel("ERROR")

    parsed = assemble.parse_pdfs(
        extract.read_syllabus_pdfs(spark, args.input_dir), nfkc=args.nfkc
    )

    config_path = args.config
    if config_path is None:
        for cand in (os.path.join(args.input_dir, "config.json"), "config.json"):
            if os.path.exists(cand):
                config_path = cand
                break
    if config_path:
        with open(config_path, encoding="utf-8") as fh:
            parsed = assemble.enrich_dates(parsed, assemble.load_periods(spark, json.load(fh)))

    # the input is decoded once: the enriched frame, rejects included,
    # is persisted and read twice. One Python pass over it writes the
    # JSON artifacts and hands back the calendar lines and the rejects;
    # the parquet write is the other. The calendar (a few hundred
    # lines) is grouped here on the driver: a Spark query would add
    # four jobs, a shuffle and a plan of its own to every run.
    parsed = parsed.persist()
    try:
        written, _, entries, rejects = sinks.write_run_artifacts(parsed, args.output_dir)
        good, _ = assemble.split_quarantine(parsed)
        # gate off: periods here come from parse_filename ('YYYY-T',
        # inference-proof and sentinel-free by construction), so the
        # validation pass would only re-scan the persisted frame
        sinks.write_courses_parquet(good, args.output_dir, on_unsafe="off")
    finally:
        parsed.unpersist()
    calendar.write_pdf(
        calendar.group_lines(entries), os.path.join(args.output_dir, "weekly_calendar.pdf")
    )
    # quarantine REPORT as an artifact, not just a log line: the
    # reference logs-and-drops (etl_pipeline.py:28-30); operators of a
    # real corpus need the reject list (id + typed error) to triage
    with open(os.path.join(args.output_dir, "quarantine.json"), "w", encoding="utf-8") as fh:
        json.dump(rejects, fh, ensure_ascii=False, indent=1)

    print(f"Processed {len(written)} courses successfully")
    if rejects:
        print(f"Quarantined {len(rejects)} unparseable documents (see quarantine.json)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
