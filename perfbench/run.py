"""spark-graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload doc_etl --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run

1. generates the workload's inputs from ``--seed`` in a separate process;
2. sets up: imports the package and its registry and calls ``get_spark``;
   ``setup_s`` is the CPU seconds that cost;
3. runs a cold first pass (Python worker spawn, codegen, JIT, page
   cache), then ``STEADY_PASSES`` steady passes; one closed-loop client
   on ``local[SPARK_GRAFT_CPUS]``. After every job it counts and
   releases what the job left in the session;
4. with ``--trace 1`` it follows each steady pass with a traced one, then
   runs the layer probes, and reports per-layer metrics and the tracing
   overhead;
5. stops Spark and its JVM and prints one JSON line last. Every job's
   output is checked (DuckDB oracle or the corpus manifest) right after
   the job, outside its timing.

Scratch files go to ``.perfbench_work/`` under the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from hygiene import Leaks, SessionHygiene  # noqa: E402
from proctree import RssSampler, tree_usage  # noqa: E402
from session_setup import jvm_pid, shutdown, timed_setup  # noqa: E402
from spans import COUNTERS, NullTracer, Tracer, self_times, subtree  # noqa: E402
from workloads import REGISTRY_JOBS, WORKLOADS  # noqa: E402

#: steady passes of every run, traced or not; a fixed count, so every
#: run of a workload measures the same work
STEADY_PASSES = 3

END_TO_END = {
    "setup_s": "s",
    "first_pass_cpu_s": "s",
    "pass_cpu_s": "s",
    "job_cpu_s_p50": "s",
    "rss_mb_p50": "MB",
}

_STAGE_LAYERS = ("sources", "plans", "operators", "pipeline", "streaming")
_BATCH_PHASES = ("triggerExecution", "addBatch", "queryPlanning", "walCommit",
                 "commitOffsets", "latestOffset", "getBatch")
_PIPELINE_STAGES = ("extract", "parse", "enrich", "sink_json", "sink_all",
                    "sink_parquet", "calendar", "quarantine")

PER_LAYER = {
    "session.import_s": "s",
    "session.get_spark_s": "s",
    "session.cpus": "count",
    "session.default_parallelism": "count",
    "session.conf_drift": "count",
    "session.leaked_files": "count",
    "sources.scan_s": "s",
    "sources.scan_tasks": "count",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    **{f"plans.job.{q}.s": "s" for q in REGISTRY_JOBS if not q.startswith("stream_")},
    "plans.leaked_rdds": "count",
    "operators.dedup.shingle_s": "s",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.lsh_s": "s",
    "operators.dedup.verify_s": "s",
    "operators.dedup.lsh_candidates": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.useful_ratio": "ratio",
    **{f"pipeline.{stage}_s": "s" for stage in _PIPELINE_STAGES},
    "pipeline.parsed_ratio": "ratio",
    "pipeline.files_written": "count",
    "pipeline.bytes_written_per_input_byte": "ratio",
    **{f"streaming.job.{q}.s": "s" for q in REGISTRY_JOBS if q.startswith("stream_")},
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    **{f"streaming.batch_ms.{p}": "ms" for p in _BATCH_PHASES},
    "streaming.leaked_views": "count",
    **{
        f"{layer}.{c}": unit
        for layer in _STAGE_LAYERS
        for c, unit in {**COUNTERS, "core_busy": "ratio"}.items()
    },
    "trace.untraced_pass_s": "s",
    "trace.traced_pass_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_cpu_s": "s",
    "trace.unaccounted_s": "s",
}


def median(values: list[float]) -> float:
    """The median; an empty list is an error, never a zero metric."""
    return statistics.median(values)


def prepare_env(root: str, work: str) -> None:
    """Everything the program and its JVM write goes under ``work``."""
    tmp = os.path.join(work, "tmp")
    jvm_tmp = os.path.join(work, "jvm-tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, jvm_tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # a run may write only inside its checkout: stream checkpoints would
    # otherwise go to /dev/shm when it has room (streaming.events.ephemeral_dir)
    os.environ["SPARK_GRAFT_STREAM_CKPT_DIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata files under /tmp, from the driver JVM or from the
    # launcher JVM spark-submit runs first
    java_opts = f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        """Keeps every micro-batch progress and every query run id."""

        def __init__(self) -> None:
            self.run_ids: list[str] = []
            self.progress: list = []

        def onQueryStarted(self, event) -> None:  # noqa: N802 -- Spark's callback names
            self.run_ids.append(str(event.runId))

        def onQueryProgress(self, event) -> None:  # noqa: N802
            self.progress.append(event.progress)

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    return ProgressListener()


class PassResult:
    def __init__(self) -> None:
        self.wall_s = 0.0
        self.cpu_s = 0.0
        self.job_wall_s: list[float] = []
        self.job_cpu_s: list[float] = []
        self.root: dict | None = None


class Runner:
    """Runs passes of one workload and keeps the run's tallies."""

    def __init__(self, spark, workload, hygiene: SessionHygiene) -> None:
        self.spark = spark
        self.workload = workload
        self.hygiene = hygiene
        self.jvm_pid = jvm_pid()
        self.attempted = 0
        self.passes = 0
        self.failures: list[str] = []
        self.leaks = Leaks()
        self.layer_leaks: dict[str, Leaks] = {}
        self.listener = None
        self.last_stats: dict[str, float] = {}

    def _cpu_s(self) -> float:
        """CPU seconds so far of the JVM tree (driver JVM, Python
        workers) plus this process's main thread (driver-side Python)."""
        return tree_usage(self.jvm_pid)[1] + time.thread_time()

    def run_pass(self, tracer) -> PassResult:
        """One closed-loop pass. Its time is the sum of its jobs' times:
        the release and the output check done between jobs are the
        benchmark's work, not the program's."""
        res = PassResult()
        self.passes += 1
        with tracer.span("pass", "bench") as res.root:
            for job in self.workload.jobs:
                before = self.hygiene.snapshot()
                n_runs = len(self.listener.run_ids) if self.listener else 0
                self.attempted += 1
                result = None
                cpu0, t0 = self._cpu_s(), time.perf_counter()
                with tracer.span(f"job.{job}", self.workload.layer(job)) as job_span:
                    try:
                        result = self.workload.run_job(job, tracer)
                    except Exception as exc:  # noqa: BLE001 -- a failed job is counted, the run goes on
                        self.failures.append(f"{job}: {type(exc).__name__}: {exc}"[:500])
                res.job_wall_s.append(time.perf_counter() - t0)
                res.job_cpu_s.append(self._cpu_s() - cpu0)
                if self.listener is not None:
                    # a stream's micro-batch jobs run under its run id,
                    # not under the span's job group
                    self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
                    if tracer.enabled:
                        job_span["extra_groups"] = self.listener.run_ids[n_runs:]
                leaks = self.hygiene.release(before)
                self.leaks.add(leaks)
                self.layer_leaks.setdefault(self.workload.layer(job), Leaks()).add(leaks)
                if result is not None:
                    problem = self.workload.check(job, result)
                    if problem:
                        self.failures.append(f"{job}: wrong output: {problem}"[:500])
                    self.last_stats = self.workload.output_stats(result)
                    self.workload.discard(result)
        res.wall_s = sum(res.job_wall_s)
        res.cpu_s = sum(res.job_cpu_s)
        return res


def _layer_metrics(tracer, root: dict, cores: int) -> dict[str, float]:
    """Per-layer numbers of one traced pass."""
    spans = subtree(tracer.spans, root["id"])
    own = self_times(spans)
    out: dict[str, float] = {"trace.unaccounted_s": 0.0}
    for s in spans:
        layer, name = s["layer"], s["name"]
        if name.startswith("job."):
            key = f"{layer}.{name}.s"
            out[key] = out.get(key, 0.0) + (s["end"] - s["start"])
            out["trace.unaccounted_s"] += own[s["id"]]
        elif layer == "pipeline" or (layer == "plans" and name in ("build", "exec")):
            key = f"{layer}.{name}_s"
            out[key] = out.get(key, 0.0) + own[s["id"]]
    out.update(_counter_metrics(spans, own, cores))
    return out


def _counter_metrics(spans: list[dict], own: dict[int, float], cores: int) -> dict[str, float]:
    """Stage counters summed per layer, and each layer's core_busy:
    executor run time / (the layer's own wall time x cores)."""
    out: dict[str, float] = {}
    wall: dict[str, float] = {}
    for s in spans:
        if s["layer"] not in _STAGE_LAYERS:
            continue
        wall[s["layer"]] = wall.get(s["layer"], 0.0) + own[s["id"]]
        for c, v in s.get("counters", {}).items():
            key = f"{s['layer']}.{c}"
            out[key] = out.get(key, 0.0) + v
    for layer, w in wall.items():
        run_s = out.get(f"{layer}.executor_run_s", 0.0)
        out[f"{layer}.core_busy"] = run_s / (w * cores) if w > 0 else 0.0
    return out


def _streaming_metrics(progress: list) -> dict[str, float]:
    if not progress:
        return {}

    def state(p, attr: str) -> int:
        return sum(getattr(op, attr) for op in p.stateOperators)

    out = {
        "streaming.batches": float(len(progress)),
        "streaming.input_rows": float(sum(p.numInputRows for p in progress)),
        "streaming.state_rows": float(max(state(p, "numRowsTotal") for p in progress)),
        "streaming.state_mb": max(state(p, "memoryUsedBytes") for p in progress) / (1 << 20),
    }
    for phase in _BATCH_PHASES:
        times = [float(p.durationMs[phase]) for p in progress if phase in p.durationMs]
        if times:
            out[f"streaming.batch_ms.{phase}"] = median(times)
    return out


def _median_dict(dicts: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for d in dicts for k in d}
    return {k: median([d.get(k, 0.0) for d in dicts]) for k in keys}


def traced_run(spark, runner: Runner, cores: int, spans_path: str) -> tuple[list, dict]:
    """``STEADY_PASSES`` untraced passes, each followed by a traced one,
    so that both kinds sample the same stage of JVM warm-up and their
    difference is the cost of tracing; then the workload's layer probes.
    Returns the untraced passes and the per-layer metrics, medians over
    the traced passes. The spans are written to ``spans_path`` at the end."""
    tracer = Tracer(spark.sparkContext)
    runner.listener = _progress_listener()
    spark.streams.addListener(runner.listener)
    untraced = []
    walls, cpus, per_pass = [], [], []
    for _ in range(STEADY_PASSES):
        untraced.append(runner.run_pass(NullTracer()))
        n_progress = len(runner.listener.progress)
        res = runner.run_pass(tracer)
        tracer.attach_stage_counters(subtree(tracer.spans, res.root["id"]))
        m = _layer_metrics(tracer, res.root, cores)
        m.update(_streaming_metrics(runner.listener.progress[n_progress:]))
        m.update(runner.last_stats)
        walls.append(res.wall_s)
        cpus.append(res.cpu_s)
        per_pass.append(m)
    out = _median_dict(per_pass)
    out["trace.untraced_pass_s"] = median([r.wall_s for r in untraced])
    out["trace.traced_pass_s"] = median(walls)
    out["trace.overhead_s"] = out["trace.traced_pass_s"] - out["trace.untraced_pass_s"]
    out["trace.overhead_cpu_s"] = median(cpus) - median([r.cpu_s for r in untraced])

    before = runner.hygiene.snapshot()
    runner.attempted += 1
    try:
        with tracer.span("probes", "bench") as probe_root:
            out.update(runner.workload.probes(tracer))
        probe_spans = subtree(tracer.spans, probe_root["id"])
        tracer.attach_stage_counters(probe_spans)
        counters = _counter_metrics(probe_spans, self_times(probe_spans), cores)
        out.update({k: v for k, v in counters.items() if k.startswith(("sources.", "operators."))})
        out["sources.scan_tasks"] = counters.get("sources.tasks", 0.0)
    except Exception as exc:  # noqa: BLE001 -- counted as a failed job
        runner.failures.append(f"probes: {type(exc).__name__}: {exc}"[:500])
    runner.hygiene.release(before)
    tracer.dump(spans_path)
    return untraced, out


def result_line(failures: list[str], attempted: int, *, trace: bool,
                e2e: dict[str, float], per_layer: dict[str, float]) -> dict:
    """The run's last stdout line: every end-to-end metric, or with
    tracing every per-layer metric (0 where the workload has no such
    layer), each with its unit."""
    if trace:
        metrics = {k: {"value": per_layer.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": metrics}


def _generate(root: str, workload: str, seed: int, out: str) -> None:
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
         "--seed", str(seed), "--out", out],
        cwd=root, check=True, timeout=120,
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="spark-graft benchmark (one run)")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    run_start = time.perf_counter()
    root = os.getcwd()
    for needed in ("etl_upc_syllabus_spark/__main__.py", "tests/oracle_harness.py"):
        if not os.path.isfile(os.path.join(root, needed)):
            print(f"perfbench: {needed} not found; run from the root of a checkout",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(root, work)
    inputs = os.path.join(work, "inputs")
    _generate(root, args.workload, args.seed, inputs)

    phases = {"generate": time.perf_counter() - run_start}
    t = time.perf_counter()
    spark, setup = timed_setup()
    phases["setup"] = time.perf_counter() - t
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    parallelism = spark.sparkContext.defaultParallelism
    workload = WORKLOADS[args.workload](spark, inputs, work)
    runner = Runner(spark, workload, SessionHygiene(spark, os.environ["TMPDIR"]))
    rss = RssSampler(runner.jvm_pid)
    rss.start()
    t = time.perf_counter()
    first = runner.run_pass(NullTracer())
    t_steady = time.perf_counter()
    phases["first"] = t_steady - t
    # the heap grows through the cold pass; after it, RSS holds steady
    n_cold_samples = len(rss.samples)
    if args.trace:
        steady, per_layer = traced_run(spark, runner, cores, os.path.join(work, "spans.json"))
        per_layer.update({
            "session.import_s": setup["import_s"],
            "session.get_spark_s": setup["get_spark_s"],
            "session.cpus": float(cores),
            "session.default_parallelism": float(parallelism),
            "session.conf_drift": runner.leaks.conf_keys / runner.passes,
            "session.leaked_files": runner.leaks.files / runner.passes,
            "plans.leaked_rdds": runner.layer_leaks.get("plans", Leaks()).rdds / runner.passes,
            "streaming.leaked_views":
                runner.layer_leaks.get("streaming", Leaks()).views / runner.passes,
        })
    else:
        steady = [runner.run_pass(NullTracer()) for _ in range(STEADY_PASSES)]
        per_layer = {}
    rss.stop()
    phases["steady"] = time.perf_counter() - t_steady
    t = time.perf_counter()
    shutdown(spark)
    phases["shutdown"] = time.perf_counter() - t

    e2e = {
        "setup_s": setup["cpu_s"],
        "first_pass_cpu_s": first.cpu_s,
        "pass_cpu_s": median([r.cpu_s for r in steady]),
        "job_cpu_s_p50": median([c for r in steady for c in r.job_cpu_s]),
        "rss_mb_p50": median(rss.samples[n_cold_samples:]) / (1 << 20),
    }
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": cores,
        "default_parallelism": parallelism,
        "steady_passes": len(steady),
        "jobs_per_pass": len(workload.jobs),
        **e2e,
        "setup_wall_s": setup["import_s"] + setup["get_spark_s"],
        "first_pass_s": first.wall_s,
        "pass_s": median([r.wall_s for r in steady]),
        "pass_wall_samples_s": [r.wall_s for r in steady],
        "job_s_p50": median([w for r in steady for w in r.job_wall_s]),
        "peak_rss_mb": max(rss.samples, default=0) / (1 << 20),
        "failed_ratio": len(runner.failures) / runner.attempted,
        "leaked_objects": runner.leaks.objects / runner.passes,
        "leaked_per_pass": {
            "rdds": runner.leaks.rdds / runner.passes,
            "cached_plans": runner.leaks.cached_plans / runner.passes,
            "temp_views": runner.leaks.views / runner.passes,
            "conf_keys": runner.leaks.conf_keys / runner.passes,
            "temp_files": runner.leaks.files / runner.passes,
        },
        "conf_keys_changed": sorted(set(runner.leaks.conf_changed)),
        "failures": runner.failures[:10],
        "run_s": time.perf_counter() - run_start,
        "phases_s": phases,
    }
    print("perfbench summary: " + json.dumps(summary), flush=True)
    line = result_line(runner.failures, runner.attempted, trace=bool(args.trace),
                       e2e=e2e, per_layer=per_layer)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
