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
name carries no such number exits 2 before any waiting or Spark work.

Two modes: the default WARM harness below, and ``--cold`` (or
SPARK_GRAFT_BENCH_COLD=1) -- fresh SparkSession per query, no warmup,
cache cleared -- which measures plan-build + cold-cache cost instead
of masking it (see run_cold; added r8 after a warm-only harness hid a
per-element re-evaluation for two rounds).

Each query is executed with a count()-style action so the full plan
runs but results are not collected to the driver. Each query gets one
UNTIMED warmup execution at the target SF immediately before its timed
runs: that pays JIT/codegen, Arrow init, and the OS page-cache fill
once, outside the measurement (r3 evidence: dedup_minhash_lsh's first
timed sample was 2.6x its min purely from cold IO).

The container shares a host whose background load can inflate a single
run 3-10x (BASELINE.md), so the harness guards and explains its numbers:

- **pre-flight gate**: before any Spark work (when loadavg still
  reflects only OTHER tenants -- our own run inflates it afterwards),
  wait up to $SPARK_GRAFT_BENCH_MAX_WAIT seconds (default 600) for the
  host to go quiet (see _preflight_load);
- **adaptive repeats**: min-of-2 per query on a quiet host, min-of-3
  when the gate timed out with the host still contended. All samples
  plus the pre-flight and post-run loadavg are emitted;
- **executor counters**: each query's timed runs execute under one
  span of perfbench/spans.py's Tracer, whose job group collects their
  stages (a stream's micro-batches run under the stream's run id, which
  is added to the span). After the runs, outside every timed region,
  the status store's stage totals are read: the extended line carries
  per query, per timed run, ``executor_cpu_s`` (task-thread CPU),
  ``executor_run_s`` (task wall time) and ``tasks``; the summary
  carries ``cpu_share`` = sum of executor CPU / sum of executor run
  time over the suite.

Reading the counters: wall time up with executor CPU flat and
``cpu_share`` down means the tasks waited for a core -- the host, not
the code (measured at sf0.1 on 4 cores with 4 busy-loop neighbours:
suite value 1.63x in the median, summed executor CPU -3%, cpu_share
0.69-0.72 -> 0.41). Executor CPU up means the code does more work. The counters see JVM task threads
only: a task waiting on a Python worker accrues run time but not CPU,
so compare ``cpu_share`` between runs of the same code, not between
queries.
"""

from __future__ import annotations

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


def scale_factor(sf_dir: str) -> float | None:
    """The number after the leading ``sf`` of the fixture directory's
    name (``sf0.1`` and ``sf0.1_rg`` are both 0.1); None without one."""
    m = re.match(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    return float(m.group(1)) if m else None


def _preflight_load() -> tuple[list[float], bool]:
    """Bounded wait for a quiet host; (loadavg at decision, contended?).

    Must run before the SparkSession exists: once our own executor
    threads spin up, loadavg measures us, not the neighbors.

    Gates on load1 AND load5 (r13 measurement, same HEAD, minutes
    apart: a window that passed load1<1.0 with load5=1.79 read the
    suite at 15.37 s; a window with load5=0.49 read 10.98 s -- 1.4x,
    every query inflated uniformly. A sub-1.0 load1 at the decision
    instant does not mean the neighbors are done, only that they are
    between bursts; load5 carries that history). Knobs:
    SPARK_GRAFT_BENCH_LOAD_GATE (load1, default 1.0) and
    SPARK_GRAFT_BENCH_LOAD5_GATE (load5, default 1.0 -- load5 decays
    slowly, so a timed-out wait flags the artifact contended rather
    than waiting unboundedly).

    Self-exemption (ADVICE r13): load5 carries ~5 minutes of history
    INCLUDING THIS PROCESS'S OWN PREVIOUS INVOCATION, so back-to-back
    bench runs on an otherwise idle host would burn the full max-wait
    and stamp themselves contended. The load5 conjunct is therefore
    waived once load1 has held below its gate for 6 CONSECUTIVE polls
    (10 s apart: ~60 s of sustained quiet, the BASELINE.md receipt's
    6-poll streak): sustained-quiet load1 is direct evidence the load5
    residue is history (ours or a finished neighbor), whereas the
    between-bursts failure mode r13 root-caused shows as load1 dipping
    for an instant, not holding for a minute.
    """
    gate = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_GATE", "1.0"))
    gate5 = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD5_GATE", "1.0"))
    # default 600 (VERDICT r15 item 3): the official run should spend
    # minutes waiting rather than ship a contended number
    max_wait = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_WAIT", "600"))
    deadline = time.monotonic() + max_wait
    quiet_streak = 0
    while True:
        load = [round(x, 2) for x in os.getloadavg()]
        quiet_streak = quiet_streak + 1 if load[0] < gate else 0
        if load[0] < gate and (load[1] < gate5 or quiet_streak >= 6):
            return load, False
        remaining = deadline - time.monotonic()
        if remaining <= 0:
            return load, True
        time.sleep(min(10.0, remaining))


def _run(spec, spark, sf_dir: str) -> None:
    spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def run_cold(names: list[str], sf_dir: str) -> dict[str, float]:
    """One COLD timed run per query: fresh SparkSession (empty
    CacheManager, so no persisted plans survive from prior queries),
    no warmup pass. The timed region includes the plan build, so a
    lifecycle query that persists + eagerly materializes during
    construction pays that cost inside its own measurement -- which is
    the point of cold mode (the clearCache() call is belt-and-braces
    for a reused session name; on the fresh session it is a no-op).

    This is the mode that would have caught the r6 HOF trap: warm
    bench runs reused caches populated by the warmup, hiding a
    per-element re-tokenization that only the cold path paid (98.8 s
    at sf1, invisible at the warm 0.9 s). OS page cache stays warm
    across queries -- cold here means COLD PLANS, which is where
    Catalyst regressions live; IO cold-start is the warmup column of
    the default mode.
    """
    timings: dict[str, float] = {}
    specs = all_specs()
    for name in names:
        spark = get_spark("bench-cold")
        spark.catalog.clearCache()
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


def run_warm(spark, names: list[str], sf_dir: str, n_runs: int):
    """Warmup + best-of-``n_runs`` per query on one session ->
    (timings, samples, warmups, counters). The min across runs is a far
    better estimate of the plan's actual cost than one arbitrary sample
    on a shared host. Counters are read after each query's runs, not
    once at the end, so the status store's stage retention cannot drop
    an early query's stages."""
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
            for _ in range(n_runs):
                t0 = time.perf_counter()
                _run(specs[name], spark, sf_dir)
                runs.append(round(time.perf_counter() - t0, 3))
        samples[name] = runs
        timings[name] = min(runs)
        span["extra_groups"] = streams.run_ids[seen:]
        tracer.attach_stage_counters([span])
        counters[name] = {
            k: round(span["counters"][k] / n_runs, 3) for k in COUNTER_KEYS
        }
    spark.streams.removeListener(streams)
    return timings, samples, warmups, counters


def build_artifact(
    timings: dict[str, float],
    samples: dict[str, list[float]],
    warmups: dict[str, float],
    counters: dict[str, dict[str, float]],
    loadavg_preflight: list[float],
    loadavg_post: list[float],
    contended: bool,
    n_runs: int,
    sf: float,
    cold_timings: dict[str, float],
    cpus: int | None = None,
    parallelism: int | None = None,
) -> tuple[dict, dict]:
    """Split the warm-run artifact into (extended, summary) dicts, each
    printed as its own JSON line with summary LAST (see module
    docstring: the consumer tail-captures ~2000 chars and parses the
    final line, so the final line must stay compact -- the summary
    carries only bounded fields; samples/warmup/counters/cold_queries
    ride the extended line). Pure function so the length bound is
    directly testable."""
    cpu_s = sum(c["executor_cpu_s"] for c in counters.values())
    run_s = sum(c["executor_run_s"] for c in counters.values())
    extended = {
        "metric": "headline_suite_extended",
        "samples": samples,
        "warmup": warmups,
        "mean_total": round(sum(sum(r) / len(r) for r in samples.values()), 3)
        if samples
        else 0.0,
        "counters": counters,
        **({"cold_queries": cold_timings} if cold_timings else {}),
    }
    summary = {
        "metric": "headline_suite_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "loadavg": [round(x, 2) for x in loadavg_post],
        "loadavg_preflight": loadavg_preflight,
        "contended": contended,
        "runs_per_query": n_runs,
        "sf": sf,
        # self-evidencing core count (VERDICT r16 item 2): the honored
        # $SPARK_GRAFT_CPUS and the session's ACTUAL defaultParallelism
        # (read back from the live SparkContext, not the env), so the
        # driver's scaling check can verify the low-core run really ran
        # low-core instead of inferring it from per-query ratios that
        # single-row-group fixtures structurally pin near 1.0
        **({"cpus": cpus} if cpus is not None else {}),
        **({"parallelism": parallelism} if parallelism is not None else {}),
        **(
            # cold_mode: embedded cold runs follow a warm suite in the
            # same process (JVM/JIT already hot when query 1 times) --
            # not comparable to standalone --cold artifacts, which
            # stamp "standalone" (VERDICT r12 item 5)
            {
                "cold_value": round(sum(cold_timings.values()), 3),
                "cold_mode": "embedded",
            }
            if cold_timings
            else {}
        ),
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
    cold = "--cold" in sys.argv or os.environ.get("SPARK_GRAFT_BENCH_COLD") == "1"
    loadavg_preflight, contended = _preflight_load()
    specs = all_specs()
    # SPARK_GRAFT_BENCH_QUERIES overrides the headline list (comma-
    # separated registry names) -- used by the scale-up smoke to time
    # the events-heavy queries the headline suite omits.
    override = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    wanted = [s.strip() for s in override.split(",") if s.strip()] if override else HEADLINE
    names = [n for n in wanted if n in specs]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    if cold:
        timings = run_cold(names, sf_dir)
        print(
            json.dumps(
                {
                    "metric": "cold_suite_total",
                    "value": round(sum(timings.values()), 3),
                    "unit": "sec",
                    "queries": timings,
                    "mode": "cold",
                    # cold numbers are only comparable within an
                    # invocation mode (VERDICT r12 item 5): standalone
                    # --cold pays the process's FIRST JVM + JIT inside
                    # query 1's timing (measured 32.3 s vs embedded
                    # 18.5 s on identical code); stamp the mode so a
                    # consumer can never silently mix them
                    "cold_mode": "standalone",
                    "loadavg": [round(x, 2) for x in os.getloadavg()],
                    "loadavg_preflight": loadavg_preflight,
                    "contended": contended,
                    "sf": sf,
                    "cpus": cpus,
                }
            )
        )
        return

    spark = get_spark("bench")
    # read back from the LIVE context, not the env: this is the proof
    # that local[$SPARK_GRAFT_CPUS] was actually applied (VERDICT r16
    # item 2 -- the driver's low-core scaling run needs the artifact
    # itself to evidence its core count)
    parallelism = spark.sparkContext.defaultParallelism
    n_runs = 3 if contended else 2
    timings, samples, warmups, counters = run_warm(spark, names, sf_dir, n_runs)
    # stop the JVM BEFORE printing: Spark's child process shares stdout
    # and can interleave late GC/log lines (observed: a G1 GCLocker
    # warning landing after the JSON at sf10), which breaks any
    # take-the-last-line consumer. With the JVM down, the JSON line is
    # guaranteed to be the final stdout write.
    spark.stop()
    # cold suite alongside warm (VERDICT r8 item 3): both modes are
    # first-class in the official artifact, not just in BASELINE.md
    # prose. Fresh JVM per query -- adds minutes, so query-override
    # invocations and SPARK_GRAFT_BENCH_WITH_COLD=0 skip it.
    with_cold = (
        not override and os.environ.get("SPARK_GRAFT_BENCH_WITH_COLD", "1") != "0"
    )
    cold_timings = run_cold(names, sf_dir) if with_cold else {}
    extended, summary = build_artifact(
        timings, samples, warmups, counters, loadavg_preflight,
        list(os.getloadavg()), contended, n_runs, sf, cold_timings,
        cpus=cpus, parallelism=parallelism,
    )
    print(json.dumps(extended))
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
