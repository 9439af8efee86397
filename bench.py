"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
TWO JSON lines: an extended-evidence line (samples/warmup/counters/
cold_queries) followed by a compact FINAL summary line
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

The split exists because the artifact consumer captures only the tail
of stdout (~2000 chars) and parses the LAST line: r9's single fat line
(samples + 15 cold entries) overflowed that window and truncated the
front carrying "metric"/"value", losing the round's graded headline
(VERDICT r9 finding #1). The final line is a bounded summary --
tests/test_cold_floors.py pins its worst-case length under 1800 chars
-- and everything bulky rides the preceding line, still
machine-readable, never load-bearing for tail capture.

The scale factor is read from the fixture directory's name: the number
after a leading ``sf`` (``sf0.1``, ``sf0.1_rg``). A directory whose
name carries no such number exits 2 before any Spark work.

One protocol: the WARM suite, then the COLD suite over the same names.
$SPARK_GRAFT_BENCH_QUERIES (comma-separated registry names) replaces
the headline list for both.

- **warm** (run_warm): one session; per query one UNTIMED warmup
  execution at the target SF, then 2 timed runs, min reported. The
  warmup pays JIT/codegen, Arrow init and the OS page-cache fill once,
  outside the measurement (r3 evidence: dedup_minhash_lsh's first timed
  sample was 2.6x its min purely from cold IO).
- **cold** (run_cold): a fresh SparkSession per query, no warmup, one
  timed run that includes the plan build (added r8 after a warm-only
  harness hid a per-element re-evaluation for two rounds). It follows
  the warm suite in the same process, so the JVM's first JIT is already
  paid; the summary stamps ``cold_mode: "embedded"`` so older
  standalone cold artifacts are never mixed in.

Each query is executed with a noop-sink write so the full plan runs but
results are not collected to the driver.

The container shares a host whose background load can inflate a run
3-10x (BASELINE.md). The harness does not gate or retry on load; its
executor counters explain the numbers instead. Each query's timed runs
execute under one span of perfbench/spans.py's Tracer, whose job group
collects their stages (a stream's micro-batches run under the stream's
run id, which is added to the span). After the runs, outside every
timed region, the status store's stage totals are read: the extended
line carries per query, per timed run, ``executor_cpu_s`` (task-thread
CPU), ``executor_run_s`` (task wall time) and ``tasks``; the summary
carries ``cpu_share`` = sum of executor CPU / sum of executor run time
over the suite.

Reading the counters: wall time up with executor CPU flat and
``cpu_share`` down means the tasks waited for a core -- the host, not
the code (measured at sf0.1 on 4 cores with 4 busy-loop neighbours:
suite value 1.63x in the median, summed executor CPU -3%, cpu_share
0.69-0.72 -> 0.41). Executor CPU up means the code does more work. The
counters see JVM task threads only: a task waiting on a Python worker
accrues run time but not CPU, so compare ``cpu_share`` between runs of
the same code, not between queries.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
sys.path.insert(1, os.path.join(REPO, "perfbench"))

from etl_upc_syllabus_spark.plans import all_specs  # noqa: E402
from etl_upc_syllabus_spark.session import get_spark  # noqa: E402
from spans import Tracer  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "flagship_weekly_calendar",
    "window_topk_per_group",
    "join_left_groupby",
    "agg_rollup",
    "sort_topk",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality_score",
    "similarity_topk_bruteforce",
    "stream_window_counts",
    "syllabus_calendar",
    "corpus_curation_pipeline",
]

#: stage counters reported per query and timed run on the extended line
COUNTER_KEYS = ("executor_cpu_s", "executor_run_s", "tasks")
#: timed runs per warm query (the min is reported)
RUNS_PER_QUERY = 2


def scale_factor(sf_dir: str) -> float | None:
    """The number after the leading ``sf`` of the fixture directory's
    name (``sf0.1`` and ``sf0.1_rg`` are both 0.1); None without one."""
    m = re.match(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    return float(m.group(1)) if m else None


def _run(spec, spark, sf_dir: str) -> None:
    spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def run_cold(names: list[str], sf_dir: str) -> dict[str, float]:
    """One COLD timed run per query: fresh SparkSession (empty
    CacheManager, so no persisted plans survive from prior queries),
    no warmup pass. The timed region includes the plan build, so a
    lifecycle query that persists + eagerly materializes during
    construction pays that cost inside its own measurement.

    This is the suite that would have caught the r6 HOF trap: warm
    bench runs reused caches populated by the warmup, hiding a
    per-element re-tokenization that only the cold path paid (98.8 s
    at sf1, invisible at the warm 0.9 s). OS page cache stays warm
    across queries -- cold here means COLD PLANS, which is where
    Catalyst regressions live; IO cold-start is the warm suite's
    warmup column.
    """
    timings: dict[str, float] = {}
    specs = all_specs()
    for name in names:
        spark = get_spark("bench-cold")
        t0 = time.perf_counter()
        _run(specs[name], spark, sf_dir)
        timings[name] = round(time.perf_counter() - t0, 3)
        spark.stop()
    return timings


def _stream_run_ids():
    """A streaming listener keeping every started query's run id: a
    stream's micro-batch jobs run under that id as their job group."""
    from pyspark.sql.streaming import StreamingQueryListener

    class RunIds(StreamingQueryListener):
        def __init__(self) -> None:
            self.run_ids: list[str] = []

        def onQueryStarted(self, event) -> None:  # noqa: N802 -- Spark's callback names
            self.run_ids.append(str(event.runId))

        def onQueryProgress(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    return RunIds()


def run_warm(spark, names: list[str], sf_dir: str):
    """Warmup + best-of-``RUNS_PER_QUERY`` per query on one session ->
    (timings, samples, warmups, counters). The min across runs is a far
    better estimate of the plan's actual cost than one arbitrary sample
    on a shared host. Counters are read after each query's runs, not
    once at the end, so the status store's stage retention cannot drop
    an early query's stages. Then, still outside every timed region,
    Python collects its garbage: py4j reference cycles keep a query's
    JVM Datasets alive until a gen-2 collection, which would otherwise
    land in a later query's timed runs."""
    specs = all_specs()
    tracer = Tracer(spark.sparkContext)
    streams = _stream_run_ids()
    spark.streams.addListener(streams)
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    warmups: dict[str, float] = {}
    counters: dict[str, dict[str, float]] = {}
    for name in names:
        # untimed warmup at the TARGET SF (JIT + page cache)
        t0 = time.perf_counter()
        try:
            _run(specs[name], spark, sf_dir)
        except Exception:  # noqa: BLE001 -- a failing query fails in its timed run below
            pass
        warmups[name] = round(time.perf_counter() - t0, 3)
        # onQueryStarted runs synchronously inside start(), so every
        # run id the warmup started is already recorded here
        seen = len(streams.run_ids)
        runs = []
        with tracer.span(name, "bench") as span:
            for _ in range(RUNS_PER_QUERY):
                t0 = time.perf_counter()
                _run(specs[name], spark, sf_dir)
                runs.append(round(time.perf_counter() - t0, 3))
        samples[name] = runs
        timings[name] = min(runs)
        span["extra_groups"] = streams.run_ids[seen:]
        tracer.attach_stage_counters([span])
        counters[name] = {
            k: round(span["counters"][k] / RUNS_PER_QUERY, 3) for k in COUNTER_KEYS
        }
        gc.collect()
    spark.streams.removeListener(streams)
    return timings, samples, warmups, counters


def build_artifact(
    timings: dict[str, float],
    samples: dict[str, list[float]],
    warmups: dict[str, float],
    counters: dict[str, dict[str, float]],
    cold_timings: dict[str, float],
    sf: float,
    cpus: int,
    parallelism: int,
) -> tuple[dict, dict]:
    """Split the artifact into (extended, summary) dicts, each printed
    as its own JSON line with summary LAST (see module docstring: the
    consumer tail-captures ~2000 chars and parses the final line, so
    the final line must stay compact -- the summary carries only
    bounded fields; samples/warmup/counters/cold_queries ride the
    extended line). Pure function so the length bound is directly
    testable."""
    cpu_s = sum(c["executor_cpu_s"] for c in counters.values())
    run_s = sum(c["executor_run_s"] for c in counters.values())
    extended = {
        "metric": "headline_suite_extended",
        "samples": samples,
        "warmup": warmups,
        "mean_total": round(sum(sum(r) / len(r) for r in samples.values()), 3),
        "counters": counters,
        "cold_queries": cold_timings,
    }
    summary = {
        "metric": "headline_suite_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "runs_per_query": RUNS_PER_QUERY,
        "sf": sf,
        # self-evidencing core count (VERDICT r16 item 2): the honored
        # $SPARK_GRAFT_CPUS and the session's ACTUAL defaultParallelism
        # (read back from the live SparkContext, not the env), so the
        # driver's scaling check can verify the low-core run really ran
        # low-core instead of inferring it from per-query ratios that
        # single-row-group fixtures structurally pin near 1.0
        "cpus": cpus,
        "parallelism": parallelism,
        "cold_value": round(sum(cold_timings.values()), 3),
        # the cold suite runs embedded, after the warm suite in the same
        # process; older standalone cold artifacts paid the first JVM's
        # JIT inside query 1 (VERDICT r12 item 5), so never mix the two
        "cold_mode": "embedded",
        **({"cpu_share": round(cpu_s / run_s, 3)} if run_s > 0 else {}),
    }
    return extended, summary


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = scale_factor(sf_dir)
    if sf is None:
        print(
            f"bench.py: no scale factor in fixture directory {sf_dir!r}: "
            "its name must start with sf<number> (e.g. sf0.1, sf0.1_rg)",
            file=sys.stderr,
        )
        sys.exit(2)
    specs = all_specs()
    # SPARK_GRAFT_BENCH_QUERIES overrides the headline list (comma-
    # separated registry names) -- used by the scale-up smoke to time
    # the events-heavy queries the headline suite omits.
    override = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    wanted = [s.strip() for s in override.split(",") if s.strip()] if override else HEADLINE
    names = [n for n in wanted if n in specs]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    spark = get_spark("bench")
    # read back from the LIVE context, not the env: this is the proof
    # that local[$SPARK_GRAFT_CPUS] was actually applied (VERDICT r16
    # item 2 -- the driver's low-core scaling run needs the artifact
    # itself to evidence its core count)
    parallelism = spark.sparkContext.defaultParallelism
    timings, samples, warmups, counters = run_warm(spark, names, sf_dir)
    # stop the JVM BEFORE printing: Spark's child process shares stdout
    # and can interleave late GC/log lines (observed: a G1 GCLocker
    # warning landing after the JSON at sf10), which breaks any
    # take-the-last-line consumer. With the JVM down, the JSON line is
    # guaranteed to be the final stdout write.
    spark.stop()
    cold_timings = run_cold(names, sf_dir)
    extended, summary = build_artifact(
        timings, samples, warmups, counters, cold_timings, sf, cpus, parallelism
    )
    print(json.dumps(extended))
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
