"""Pure helpers shared by the benchmark's workloads: argument parsing,
percentiles, amplification ratios, span self time and the host
contention record. Nothing here imports Spark, so the unit tests in
``perfbench/tests`` run without a JVM."""

from __future__ import annotations

import argparse
import math
import os
import statistics
from collections.abc import Sequence

WORKLOADS = ("etl_sql", "curate", "serve")
# candidate tail percentiles, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def parse_args(argv: Sequence[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description="Run one benchmark workload and print one JSON result line."
    )
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=_non_negative_int)
    ap.add_argument("--seconds", required=True, type=_positive_int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _non_negative_int(s: str) -> int:
    v = int(s)
    if v < 0:
        raise argparse.ArgumentTypeError(f"must be >= 0, got {s}")
    return v


def _positive_int(s: str) -> int:
    v = int(s)
    if v < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {s}")
    return v


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ``MIN_BEYOND``
    of ``n`` samples beyond it, or None when ``n`` is too small for
    any (fewer than 20 samples)."""
    for p in TAIL_CANDIDATES:
        if math.floor(n * (100.0 - p) / 100.0 + 1e-9) >= MIN_BEYOND:
            return p
    return None


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile (p in (0, 100])."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def latency_summary(samples: Sequence[float]) -> dict:
    """Median, tail percentile and sample count of one latency class.
    ``tail`` is None when there are too few samples for any tail."""
    if not samples:
        return {"n": 0, "p50": None, "tail_pct": None, "tail": None}
    p = tail_percentile(len(samples))
    return {
        "n": len(samples),
        "p50": statistics.median(samples),
        "tail_pct": p,
        "tail": percentile(samples, p) if p is not None else None,
    }


def amplification(bytes_on_disk: int, plain_bytes: int) -> float:
    """``write_amp`` / ``space_amp``: bytes the store wrote (or holds)
    divided by the same user rows written once as plain parquet."""
    if plain_bytes <= 0:
        raise ValueError(f"plain parquet size must be positive, got {plain_bytes}")
    if bytes_on_disk < 0:
        raise ValueError(f"byte count must be >= 0, got {bytes_on_disk}")
    return bytes_on_disk / plain_bytes


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its
    interval covered by its direct children (overlapping children are
    merged, and children are clipped to the parent's interval).

    Each span is ``{"id", "parent", "start", "end"}``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def spread(values: Sequence[float]) -> float | None:
    """Inter-quartile distance as a share of the median (None below
    two values or at a zero median)."""
    if len(values) < 2:
        return None
    med = statistics.median(values)
    if med == 0:
        return None
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / abs(med)


def read_cpu_times(path: str = "/proc/stat") -> tuple[int, int] | None:
    """(steal, total) jiffies from the aggregate cpu line, or None when
    the file is missing or not in the expected shape."""
    try:
        with open(path) as f:
            first = f.readline().split()
        vals = [int(x) for x in first[1:]]
    except (OSError, ValueError):
        return None
    if not first or first[0] != "cpu" or len(vals) < 8:
        return None
    return vals[7], sum(vals[:8])


def steal_frac(before, after) -> float | None:
    """CPU steal over an interval from two :func:`read_cpu_times`."""
    if before is None or after is None:
        return None
    d_total = after[1] - before[1]
    if d_total <= 0:
        return None
    return (after[0] - before[0]) / d_total


def loadavg(path: str = "/proc/loadavg") -> list[float] | None:
    try:
        with open(path) as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return None


def meminfo_mb(key: str = "MemTotal", path: str = "/proc/meminfo") -> int | None:
    try:
        with open(path) as f:
            for line in f:
                name, _, rest = line.partition(":")
                if name == key:
                    return int(rest.split()[0]) // 1024
    except (OSError, ValueError, IndexError):
        return None
    return None


def driver_mem_mb(total_mb: int | None) -> int:
    """Driver heap for the benchmark's JVM: a sixth of the machine's
    memory, clamped to [1 GiB, 2 GiB] (all inputs are tens of MB; the
    engine's own 24g default exceeds small machines)."""
    if total_mb is None:
        return 2048
    return max(1024, min(2048, total_mb // 6))


def dir_stats(path: str) -> tuple[int, int]:
    """(total bytes, file count) of the regular files under ``path``."""
    total = n = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
                n += 1
            except OSError:
                continue
    return total, n


def peak_rss_mb(pid: int) -> float | None:
    """Peak resident set (``VmHWM``) of a process."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, ValueError, IndexError):
        return None
    return None
