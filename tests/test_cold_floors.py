"""Cold-path guards (VERDICT r7 item 3).

The r6 HOF trap (Catalyst CollapseProject re-evaluating a projected
tokenizer per array ELEMENT -- 98.8 s at sf1) survived two rounds
because the bench's warmup pass populated caches the timed runs
reused: every recorded number was warm, and only the cold path paid
the blowup.  Two guards institutionalize the lesson:

1. ``test_cold_bench_mode`` drives ``bench.py``, whose
   cold suite (fresh SparkSession per query, no warmup) follows the
   warm one, over the dedup/text family at the test SF in a
   subprocess.  Functional assertions (query set, valid JSON,
   counters) always run; the wall-clock bounds -- single samples on a
   host with documented 3-10x load inflation -- are opt-in via
   SPARK_GRAFT_TIMING_ASSERTS, the repo's convention for timing
   assertions (test_cli.py).  The sensitive regression detector is
   the scaling test below, which needs no absolute bounds.

2. ``test_shingle_build_scales_linearly`` measures the property the
   trap violates, in a host-noise-cancelling way: cold shingle-build
   time on the same number of docs at token length L vs 8L.  A linear
   build costs ~8x more compute (measured ~1x wall: fixed overhead
   dominates at this size); a per-element re-evaluation costs ~64x
   compute (tokenizer rerun per shingle, measured ~35x wall).
   Min-of-3 consecutive same-session measurements cancel load spikes,
   and the ratio bound (15x) sits between the regimes with wide
   margin on both sides.  This catches the trap pattern even in a NEW
   expression the plan-text occurrence test
   (test_plan_invariants.py) was never taught to look for.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from etl_upc_syllabus_spark.operators import dedup as dd
from etl_upc_syllabus_spark.operators import textanalysis as ta

from .conftest import SF_DIR

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# recorded sf0.01 cold floors (BASELINE.md r8, quiet-ish host, first
# query pays one-time JVM/JIT warmup): lsh 7.6, ngram_jaccard 1.2,
# simhash 0.5, fingerprint 0.3, novelty 1.3, gopher 0.3, decontam 0.8
_COLD_FAMILY_BOUNDS = {
    "dedup_minhash_lsh": 60.0,
    "dedup_ngram_jaccard": 20.0,
    "dedup_simhash": 15.0,
    "text_fingerprint": 15.0,
    "text_ngram_novelty": 20.0,
    "gopher_repetition_filter": 15.0,
    "decontaminate_ngram_overlap": 20.0,
}


_BENCH_QUERIES = [*_COLD_FAMILY_BOUNDS, "q1_pricing_summary", "stream_window_counts"]


@pytest.fixture(scope="module")
def bench_run():
    """One default bench run over the cold family plus a TPC-H query
    and a stream, shared by the two tests below. A subprocess because
    bench.py stops its sessions."""
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_DIR,
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_QUERIES=",".join(_BENCH_QUERIES),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(_REPO, "bench.py")],
        env=env, cwd=_REPO, capture_output=True, text=True, timeout=900,
        check=True,
    )
    extended, summary = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
    assert summary["metric"] == "headline_suite_total"
    assert set(summary["queries"]) == set(_BENCH_QUERIES)
    return extended, summary


@pytest.mark.cold
def test_cold_bench_mode(bench_run):
    """The bench's cold suite (fresh session per query, no warmup)
    follows the warm one and covers the same names. Cold wall-clock
    bounds are opt-in (single samples cannot be asserted
    unconditionally on a host with 3-10x load inflation)."""
    extended, summary = bench_run
    cold = extended["cold_queries"]
    assert set(cold) == set(_BENCH_QUERIES)
    assert summary["cold_value"] == round(sum(cold.values()), 3)
    assert summary["cold_mode"] == "embedded"
    if os.environ.get("SPARK_GRAFT_TIMING_ASSERTS"):
        for name, bound in _COLD_FAMILY_BOUNDS.items():
            assert cold[name] < bound, (
                f"{name} cold run {cold[name]:.1f}s exceeds the catastrophic-"
                f"regression bound {bound}s -- check for "
                "a reintroduced per-element re-evaluation (HOF trap)"
            )


def test_bench_counters_include_stream_micro_batches(bench_run):
    """The warm suite reads each query's executor counters from its own
    span; a stream's micro-batches run under the stream's run id and
    must be counted too (counting only the driver thread's jobs gave
    stream_window_counts a few hundredths of a second of CPU)."""
    extended, summary = bench_run
    counters = extended["counters"]
    for name in _BENCH_QUERIES:
        assert counters[name]["executor_cpu_s"] > 0, (name, counters[name])
        assert counters[name]["executor_run_s"] > 0, (name, counters[name])
    # the stream runs two micro-batches, each with a 4-partition stateful
    # stage (run_stream_to_table's shuffle_partitions), on top of the
    # driver thread's own jobs (4 tasks: measured 15 per run when the
    # micro-batches are counted, 4 when they are missed)
    assert counters["stream_window_counts"]["tasks"] >= 4 + 2 * 4, counters
    assert 0 < summary["cpu_share"] <= 1


def _time_shingles(spark, n_docs: int, n_tokens: int) -> float:
    """Min-of-3 cold-cache shingle-build wall time on a synthetic
    corpus of ``n_docs`` docs x ``n_tokens`` tokens each."""
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(n_tokens)),
                lambda i: F.concat(
                    F.lit("w"), ((F.col("id") * 131 + i) % 997).cast("string")
                ),
            ),
        ).alias("text"),
    ).localCheckpoint(eager=True)  # exclude corpus synthesis from timing
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        dd.shingle_sets(docs, "doc_id", "text", k=3).write.format("noop").mode(
            "overwrite"
        ).save()
        best = min(best, time.perf_counter() - t0)
    return best


@pytest.mark.cold
def test_shingle_build_scales_linearly(spark):
    spark.catalog.clearCache()
    _time_shingles(spark, 50, 80)  # warmup: JIT + codegen for this shape
    t_short = _time_shingles(spark, 400, 80)
    t_long = _time_shingles(spark, 400, 640)
    ratio = t_long / max(t_short, 1e-3)
    # linear build: ~8x work (8x tokens => ~8x shingles), measured
    # ~1-3x once fixed overhead is amortized; per-element
    # re-evaluation: ~64x compute (tokenizer rerun per shingle),
    # measured ~40x. 15x splits the regimes with wide margin for host
    # drift on min-of-3 samples (calibration run recorded in this
    # test's git history: fixed 0.9x, trapped 10.3x at the narrower
    # 4x lever; the 8x lever roughly squares the separation).
    assert ratio < 15.0, (
        f"shingle build scaled {ratio:.1f}x for 8x token length "
        f"({t_short:.3f}s -> {t_long:.3f}s): super-linear growth means "
        "the tokenizer is being re-evaluated per element again"
    )


def _time_fingerprint(spark, n_docs: int, n_chars: int) -> float:
    """Min-of-3 cold fingerprint wall time on ``n_docs`` docs of
    ``n_chars`` characters each."""
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(n_chars // 6)),
                lambda i: F.concat(
                    F.lit("tok"), ((F.col("id") * 131 + i) % 997).cast("string")
                ),
            ),
        ).alias("text"),
    ).localCheckpoint(eager=True)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        docs.select("doc_id", ta.fingerprint("text").alias("fp")).write.format(
            "noop"
        ).mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


@pytest.mark.cold
def test_fingerprint_scales_linearly_in_doc_length(spark):
    """Char-shingle fingerprinting must be linear in DOCUMENT LENGTH.

    The substr-based shingle build was O(len^2/stride) per document:
    UTF8String indexes by codepoint, so substr at char position i is an
    O(i) scan, summed over len/stride strided positions (measured 3.7x
    wall per length doubling; 1 MB pages effectively hung). The chunked
    rewrite (operators/textanalysis.py char_shingles) is linear. An 8x
    length lever separates the regimes: linear ~<=8x, quadratic ~64x
    (calibrated: chunked 1.4x, substr form 38x on this harness)."""
    spark.catalog.clearCache()
    _time_fingerprint(spark, 16, 2048)  # warmup: JIT + codegen
    t_short = _time_fingerprint(spark, 64, 4096)
    t_long = _time_fingerprint(spark, 64, 32768)
    ratio = t_long / max(t_short, 1e-3)
    assert ratio < 20.0, (
        f"fingerprint scaled {ratio:.1f}x for 8x doc length "
        f"({t_short:.3f}s -> {t_long:.3f}s): super-linear growth means "
        "per-position substr scans are back in the shingle build"
    )


# --- artifact emission (r10: the driver tail-captures ~2000 chars) ----------


def test_summary_line_fits_tail_window():
    """BENCH_r09 came back parsed:null because the single JSON line
    outgrew the driver's 2000-char tail-capture window (VERDICT r9
    finding #1). The fix splits emission: extended evidence on a
    preceding line, a compact summary LAST. Pin the summary's
    worst-case length — 15 queries with the longest real registry
    names, 5-figure timings, a full cold suite and cpu_share — under
    1800 chars with margin, and pin that the bulky keys stay OFF the
    summary line."""
    import importlib

    bench = importlib.import_module("bench")

    names = list(bench.HEADLINE)
    assert len(names) == 15
    timings = {n: 99999.999 for n in names}
    samples = {n: [99999.999, 99999.999] for n in names}
    warmups = {n: 99999.999 for n in names}
    cold = {n: 99999.999 for n in names}
    counters = {
        n: {"executor_cpu_s": 99999.999, "executor_run_s": 99999.999,
            "tasks": 99999.999}
        for n in names
    }
    extended, summary = bench.build_artifact(
        timings, samples, warmups, counters, cold, 0.1, 32, 32
    )
    line = json.dumps(summary)
    assert len(line) < 1800, f"summary line is {len(line)} chars"
    # the self-evidencing core count (VERDICT r16 item 2) rides the
    # summary so the driver's scaling check can read it from the tail
    assert summary["cpus"] == 32 and summary["parallelism"] == 32
    # the bulky evidence must ride the extended line, never the summary
    for bulky in ("samples", "warmup", "counters", "cold_queries"):
        assert bulky not in summary
        assert bulky in extended
    assert extended["samples"] == samples
    assert extended["counters"] == counters
    assert extended["cold_queries"] == cold
    # summary still carries everything the graded tail parse needs
    assert summary["metric"] == "headline_suite_total"
    assert summary["value"] == round(sum(timings.values()), 3)
    assert summary["unit"] == "sec"
    assert summary["queries"] == timings
    assert summary["runs_per_query"] == 2
    assert summary["sf"] == 0.1
    assert summary["cold_value"] == round(sum(cold.values()), 3)
    assert summary["cpu_share"] == 1.0
    # the invocation-mode stamp (VERDICT r12 item 5): embedded cold
    # numbers must never be compared to older standalone cold artifacts
    # (first-JVM JIT lands inside query 1 there)
    assert summary["cold_mode"] == "embedded"
    # the load gate and its stamps are gone: counters read the noise
    for dropped in ("contended", "loadavg", "loadavg_preflight"):
        assert dropped not in summary and dropped not in extended
    # no executor run time -> no cpu_share
    _, no_counters = bench.build_artifact(
        timings, samples, warmups, {}, cold, 0.1, 32, 32
    )
    assert "cpu_share" not in no_counters


def test_cpu_share_is_summed_cpu_over_summed_run_time():
    """cpu_share weights each query by its executor run time: a ratio of
    sums, not a mean of per-query ratios."""
    import importlib

    bench = importlib.import_module("bench")

    counters = {
        "a": {"executor_cpu_s": 3.0, "executor_run_s": 4.0, "tasks": 8},
        "b": {"executor_cpu_s": 0.0, "executor_run_s": 1.0, "tasks": 1},
    }
    _, summary = bench.build_artifact(
        {"a": 1.0, "b": 1.0}, {"a": [1.0], "b": [1.0]}, {}, counters,
        {}, 0.1, 4, 4,
    )
    assert summary["cpu_share"] == 0.6


def test_scale_factor_reads_the_leading_sf_number():
    """The fixture directory's name gives the scale factor: the number
    after a leading ``sf``, so a row-group twin ``sf0.1_rg`` is 0.1."""
    import importlib

    bench = importlib.import_module("bench")

    assert bench.scale_factor("/data/sf0.1") == 0.1
    assert bench.scale_factor("/data/sf0.1/") == 0.1
    assert bench.scale_factor("/data/sf0.1_rg") == 0.1
    assert bench.scale_factor("scale_data/sf10") == 10.0
    assert bench.scale_factor("/data/tables") is None
    assert bench.scale_factor("/data/sf_rg") is None


def test_bench_exits_2_on_a_fixture_dir_without_a_scale_factor(tmp_path):
    """A directory name with no sf<number> stops the bench with exit 2
    and a message naming the directory, before any Spark work."""
    bad = tmp_path / "tables"
    bad.mkdir()
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=str(bad))
    out = subprocess.run(
        [sys.executable, os.path.join(_REPO, "bench.py")],
        env=env, cwd=_REPO, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 2, out.stderr[-2000:]
    assert str(bad) in out.stderr
    assert out.stdout == ""


def test_headline_registry_and_floors_stay_coherent():
    """Consistency pin: every headline query must exist in the registry
    (a renamed query would silently vanish from the official artifact)."""
    import importlib

    bench = importlib.import_module("bench")

    from etl_upc_syllabus_spark.plans import all_specs

    specs = all_specs()
    missing_in_registry = [n for n in bench.HEADLINE if n not in specs]
    assert not missing_in_registry, missing_in_registry
