"""The benchmark's metrics: names, units, and how each is computed from
a run's passes, setup timings and traced layer report.

Every workload reports every metric. A per-layer metric of a layer the
workload does not exercise reads 0 (see BENCHMARK.md for which
workload is heavy or light in each layer)."""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.common import latency_summary

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("rows_per_s", "rows/s", "higher"),
    ("ops_per_s", "ops/s", "higher"),
]

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.warm_s", "s", "lower"),
    ("session.artifacts_s", "s", "lower"),
    ("sources.load_s", "s", "lower"),
    ("sources.calls", "count", "lower"),
    ("build_s", "s", "lower"),
    ("build.jobs", "count", "lower"),
    ("plan_s", "s", "lower"),
    ("exec_s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_run_s", "s", "lower"),
    ("exec.task_cpu_s", "s", "lower"),
    ("exec.cpu_util", "ratio", "higher"),
    ("exec.shuffle_read_mb", "MB", "lower"),
    ("exec.shuffle_write_mb", "MB", "lower"),
    ("exec.spill_mb", "MB", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("pipeline.run_s", "s", "lower"),
    ("pipeline.overhead_s", "s", "lower"),
    ("pipeline.node.source.s", "s", "lower"),
    ("pipeline.node.transform.s", "s", "lower"),
    ("pipeline.node.sink.s", "s", "lower"),
    ("commit.merge.s", "s", "lower"),
    ("commit.update.s", "s", "lower"),
    ("commit.delete.s", "s", "lower"),
    ("commit.insert.s", "s", "lower"),
    ("commit.write.s", "s", "lower"),
    ("commit.bytes_written_mb", "MB", "lower"),
    ("commit.files_written", "count", "lower"),
    ("commit.files_rewritten", "count", "lower"),
    ("commit.manifest_kb", "KB", "lower"),
    ("commit.retries", "count", "lower"),
    ("lookup.segments_opened", "count", "lower"),
    ("lookup.segments_total", "count", "lower"),
    ("lookup.files_opened", "count", "lower"),
    ("lookup.prune_ratio", "ratio", "higher"),
    ("load.parquet_s", "s", "lower"),
    ("load.bytes_mb", "MB", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.precision", "ratio", "higher"),
    ("probe.candidates", "count", "lower"),
    # end-to-end figures demoted to diagnostics: the gate needs every
    # end-to-end metric on every workload, and a bound metric must repeat
    # within a tenth (peak RSS spreads 0.14-0.15 between runs)
    ("pass_s", "s", "lower"),
    ("statement_ms_p50", "ms", "lower"),
    ("lookup_ms_p50", "ms", "lower"),
    ("lookup_ms_tail", "ms", "lower"),
    ("commit_ms_p50", "ms", "lower"),
    ("commit_ms_tail", "ms", "lower"),
    ("probe_ms_p50", "ms", "lower"),
    ("probe_ms_tail", "ms", "lower"),
    ("scan_s", "s", "lower"),
    ("probe_recall", "ratio", "higher"),
    ("write_amp", "ratio", "lower"),
    ("space_amp", "ratio", "lower"),
    ("ops_failed_frac", "ratio", "lower"),
    ("driver_rss_mb", "MB", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
]


def throughput(passes: list[dict]) -> dict:
    """Pass time estimated from per-kind medians: each kind of
    operation counts with its median latency times how often a pass
    runs it, so one slow operation moves the figure by no more than
    its kind's median moves."""
    by_kind: dict[str, list[float]] = defaultdict(list)
    for p in passes:
        for kind, _, s in p["records"]:
            by_kind[kind].append(s)
    n = len(passes)
    est_s = sum(len(v) / n * statistics.median(v) for v in by_kind.values())
    return {
        "est_pass_s": est_s,
        "rows_per_s": sum(p["rows"] for p in passes) / n / est_s,
        "ops_per_s": sum(p["ops"] for p in passes) / n / est_s,
    }


def latency_classes(passes: list[dict]) -> dict:
    classes: dict[str, list[float]] = defaultdict(list)
    for p in passes:
        for _, cls, s in p["records"]:
            classes[cls].append(s * 1e3)
    return {k: latency_summary(v) | {"samples_ms": v} for k, v in classes.items()}


def pass_seconds(p: dict) -> float:
    return sum(s for _, _, s in p["records"])


def _or0(v):
    return 0.0 if v is None else float(v)


def per_layer(layers: dict, traced: list[dict], untraced: list[dict], setup: dict,
              extra: dict, failed_frac: float, rss_mb: float, cores: int) -> dict:
    """Per-layer values: times and counts per traced pass, commit and
    lookup figures per operation, latencies from the untraced passes."""
    t = len(traced)
    L = defaultdict(lambda: {"s": 0.0, "self_s": 0.0, "calls": 0, "jobs": 0}, layers["layers"])
    E, C = layers["exec"], defaultdict(float, layers["counts"])
    traced_s = sum(pass_seconds(p) for p in traced)

    def per_pass(x):
        return x / t

    def per(x, n):
        return x / n if n else 0.0

    nodes = ("source", "transform", "sink")
    commits = C["commit.n"]
    v = {
        "session.start_s": setup["start_s"],
        "session.warm_s": setup["warm_s"],
        "session.artifacts_s": statistics.median(setup["artifacts_s"]),
        "sources.load_s": per_pass(L["sources"]["s"]),
        "sources.calls": per_pass(C["sources.calls"]),
        "build_s": per_pass(L["build"]["s"]),
        "build.jobs": per_pass(L["build"]["jobs"]),
        "plan_s": per_pass(L["plan"]["s"]),
        "exec_s": per_pass(L["exec"]["s"] + L["load.parquet"]["s"]),
        "exec.jobs": per_pass(E["jobs"]),
        "exec.stages": per_pass(E["stages"]),
        "exec.tasks": per_pass(E["tasks"]),
        "exec.task_run_s": per_pass(E["task_run_s"]),
        "exec.task_cpu_s": per_pass(E["task_cpu_s"]),
        "exec.cpu_util": per(E["task_cpu_s"], traced_s * cores),
        "exec.shuffle_read_mb": per_pass(E["shuffle_read_mb"]),
        "exec.shuffle_write_mb": per_pass(E["shuffle_write_mb"]),
        "exec.spill_mb": per_pass(E["spill_mb"]),
        "exec.gc_s": per_pass(E["gc_s"]),
        "pipeline.run_s": per_pass(L["pipeline.run"]["s"]),
        "pipeline.overhead_s": per_pass(
            L["pipeline.run"]["s"] - sum(L[f"pipeline.node.{k}"]["s"] for k in nodes))
        if L["pipeline.run"]["calls"] else 0.0,
        **{f"pipeline.node.{k}.s": per_pass(L[f"pipeline.node.{k}"]["s"]) for k in nodes},
        **{
            f"commit.{op}.s": per(L[f"commit.{op}"]["s"], L[f"commit.{op}"]["calls"])
            for op in ("merge", "update", "delete", "insert", "write")
        },
        "commit.bytes_written_mb": per(C["commit.bytes_written_mb"], commits or t),
        "commit.files_written": per(C["commit.files_written"], commits),
        "commit.files_rewritten": per(C["commit.files_rewritten"], commits),
        "commit.manifest_kb": per(C["commit.manifest_kb"], commits),
        "commit.retries": C["commit.retries"],
        "lookup.segments_opened": per(C["lookup.segments_opened"], C["lookup.n"]),
        "lookup.segments_total": per(C["lookup.segments_total"], C["lookup.n"]),
        "lookup.files_opened": per(C["lookup.files_opened"], C["lookup.n"]),
        "lookup.prune_ratio": 1.0 - per(C["lookup.files_opened"], C["lookup.files_total"])
        if C["lookup.files_total"] else 0.0,
        "load.parquet_s": per_pass(L["load.parquet"]["s"]),
        "load.bytes_mb": per_pass(C["load.bytes_mb"]),
        "dedup.candidate_pairs": per_pass(C["dedup.candidate_pairs"]),
        "dedup.verified_pairs": per_pass(C["dedup.verified_pairs"]),
        "dedup.precision": per(C["dedup.verified_pairs"], C["dedup.candidate_pairs"]),
        "probe.candidates": per(C["probe.candidates"], C["probe.n"]),
        "trace.overhead_frac": statistics.median(pass_seconds(p) for p in traced)
        / statistics.median(pass_seconds(p) for p in untraced) - 1.0,
    }
    v |= {k: _or0(x["value"])
          for k, x in diagnostics(untraced, extra, failed_frac, rss_mb).items()}
    units = {name: unit for name, unit, _ in PER_LAYER}
    return {name: {"value": float(v[name]), "unit": units[name]} for name, _, _ in PER_LAYER}


def diagnostics(passes: list[dict], extra: dict, failed_frac: float, rss_mb: float) -> dict:
    """The end-to-end figures outside the gate (latency classes with
    their tails, amplification, recall, failures, peak memory), from
    untraced passes; None where the workload has no such figure."""
    lat = latency_classes(passes)
    units = {name: unit for name, unit, _ in PER_LAYER}

    def p(cls, key):
        return lat.get(cls, {}).get(key)

    v = {
        "pass_s": statistics.median(pass_seconds(x) for x in passes),
        "statement_ms_p50": p("statement", "p50"),
        "scan_s": p("scan", "p50") / 1e3 if "scan" in lat else None,
        "probe_recall": extra.get("probe_recall"),
        "write_amp": extra.get("write_amp"),
        "space_amp": extra.get("space_amp"),
        "ops_failed_frac": failed_frac,
        "driver_rss_mb": rss_mb,
    }
    for cls in ("lookup", "commit", "probe"):
        v[f"{cls}_ms_p50"] = p(cls, "p50")
        v[f"{cls}_ms_tail"] = p(cls, "tail")
    return {k: {"value": x, "unit": units[k]} for k, x in v.items()}
