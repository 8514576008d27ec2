"""Spans around the benchmark's calls into ``skopje_spark``, with Spark
status-store counters per span.

Each span tags the jobs it launches with its own job group, so after a
pass every Spark job is attributed to the innermost span that ran it.
Stage counters (task time, CPU, shuffle, spill, GC) are read from the
in-process status store, which answers with the web UI disabled.

A disabled tracer records nothing: ``span`` yields at once, and no
plan is forced early. The untraced run measures the end-to-end metrics;
a traced run gives the per-layer split.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

from perfbench.common import self_times

_STAGE_COUNTERS = {
    "tasks": lambda s: s.numTasks(),
    "task_run_s": lambda s: s.executorRunTime() / 1e3,
    "task_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "shuffle_read_mb": lambda s: s.shuffleReadBytes() / 2**20,
    "shuffle_write_mb": lambda s: s.shuffleWriteBytes() / 2**20,
    "spill_mb": lambda s: (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
    "gc_s": lambda s: s.jvmGcTime() / 1e3,
}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[dict] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, layer: str):
        """Time one call into a layer; nested spans are its children."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._next += 1
        s = {
            "id": self._next,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "layer": layer,
            "tag": f"perfbench-{self._next}",
        }
        sc.setJobGroup(s["tag"], layer)
        self._stack.append(s)
        s["start"] = time.perf_counter()
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1]["tag"], self._stack[-1]["layer"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counts[name] += value

    def plan(self, df) -> None:
        """Force Catalyst planning of ``df`` inside a ``plan`` span, so
        the action that follows pays execution only (the action reuses
        the same query execution)."""
        if self.enabled:
            with self.span("plan"):
                df._jdf.queryExecution().executedPlan()

    # -- reading the status store ------------------------------------------
    def _jobs_of(self, tag: str) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(tag))

    def _stages(self, job_ids: list[int], timeout_s: float = 5.0) -> list:
        """Final stage data for the jobs; waits for the listener bus
        to deliver the completion events."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        deadline = time.monotonic() + timeout_s
        while True:
            out, pending = [], False
            for j in job_ids:
                info = sc.statusTracker().getJobInfo(j)
                if info is None:
                    continue
                for sid in info.stageIds:
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # not posted yet (or evicted)
                        pending = True
                        continue
                    status = str(sd.status())
                    if status == "SKIPPED":
                        continue
                    if status not in ("COMPLETE", "FAILED"):
                        pending = True
                    out.append(sd)
            if not pending or time.monotonic() > deadline:
                return out
            time.sleep(0.05)

    def layer_report(self) -> dict:
        """Per-layer totals over every recorded span, then reset.

        Returns ``{"layers": {layer: {"s", "self_s", "calls", "jobs"}},
        "exec": {counter: total}, "counts": {...}}``. ``exec`` counters
        cover every job any span launched."""
        selft = self_times(self.spans)
        layers: dict[str, dict] = defaultdict(
            lambda: {"s": 0.0, "self_s": 0.0, "calls": 0, "jobs": 0}
        )
        all_jobs: list[int] = []
        for s in self.spans:
            jobs = self._jobs_of(s["tag"])
            all_jobs += jobs
            row = layers[s["layer"]]
            row["s"] += s["end"] - s["start"]
            row["self_s"] += selft[s["id"]]
            row["calls"] += 1
            row["jobs"] += len(jobs)
        stages = self._stages(all_jobs)
        exec_totals = {k: 0.0 for k in _STAGE_COUNTERS}
        for sd in stages:
            for k, get in _STAGE_COUNTERS.items():
                exec_totals[k] += get(sd)
        exec_totals["jobs"] = len(all_jobs)
        exec_totals["stages"] = len(stages)
        report = {
            "layers": {k: dict(v) for k, v in layers.items()},
            "exec": exec_totals,
            "counts": dict(self.counts),
        }
        self.spans, self.counts = [], defaultdict(float)
        return report


def merge_reports(reports: list[dict]) -> dict:
    """Sum per-pass layer reports into one."""
    layers: dict[str, dict] = defaultdict(
        lambda: {"s": 0.0, "self_s": 0.0, "calls": 0, "jobs": 0}
    )
    exec_totals: dict[str, float] = defaultdict(float)
    counts: dict[str, float] = defaultdict(float)
    for r in reports:
        for name, row in r["layers"].items():
            for k, v in row.items():
                layers[name][k] += v
        for k, v in r["exec"].items():
            exec_totals[k] += v
        for k, v in r["counts"].items():
            counts[k] += v
    return {
        "layers": {k: dict(v) for k, v in layers.items()},
        "exec": dict(exec_totals),
        "counts": dict(counts),
    }
