"""Spans recorded at the benchmark's call sites into each layer.

A span has a name, a layer, a start, an end and a parent. Spans are kept
in memory and written out once, when the run ends. A layer's self time
is its span's duration minus the part of that interval its child spans
cover.

Every span runs under its own Spark job group, so the stage counters Spark's status store keeps for those jobs
(tasks, executor run and CPU time, GC, shuffle, spill, input bytes) can
be attached to the span afterwards. Counters are read outside the
timed region, after the pass. Jobs that run under another group (a
stream's micro-batches run under the query's run id) are attached to a
span by listing that group in the span's ``extra_groups``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext

#: stage counters read per span, with their units
COUNTERS = {
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "input_mb": "MB",
}
_MB = 1 << 20


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    enabled = False

    def span(self, name: str, layer: str):  # noqa: ARG002 -- same signature as Tracer.span
        return nullcontext()


class Tracer:
    enabled = True

    def __init__(self, sc) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = sc

    @contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._sc.setJobGroup(_group(sid), name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self._sc.setJobGroup(_group(parent), self.spans[parent]["name"])

    def attach_stage_counters(self, spans: list[dict]) -> None:
        """Read the status-store counters of each span's own job group."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        for rec in spans:
            if "counters" in rec:
                continue
            stages: set[int] = set()
            for group in [_group(rec["id"]), *rec.get("extra_groups", ())]:
                for job_id in tracker.getJobIdsForGroup(group):
                    it = store.job(job_id).stageIds().iterator()
                    while it.hasNext():
                        stages.add(it.next())
            totals = dict.fromkeys(COUNTERS, 0.0)
            for sid in stages:
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                totals["tasks"] += st.numTasks()
                totals["executor_run_s"] += st.executorRunTime() / 1e3
                totals["executor_cpu_s"] += st.executorCpuTime() / 1e9
                totals["gc_s"] += st.jvmGcTime() / 1e3
                totals["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
                totals["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                totals["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
                totals["input_mb"] += st.inputBytes() / _MB
            rec["counters"] = totals

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh, indent=0)


def _group(span_id: int) -> str:
    return f"perfbench-span-{span_id}"


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals,
    each child clipped to its parent's interval."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if min(b, s["end"]) > max(a, s["start"])
        ]
        out[s["id"]] = (s["end"] - s["start"]) - _covered(clipped)
    return out


def subtree(spans: list[dict], root_id: int) -> list[dict]:
    """``root_id`` and every span below it."""
    keep = {root_id}
    for s in spans:  # parents are recorded before their children
        if s["parent"] in keep:
            keep.add(s["id"])
    return [s for s in spans if s["id"] in keep]
