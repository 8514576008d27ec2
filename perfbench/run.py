"""Benchmark entry point.

    python3 perfbench/run.py --workload {etl_sql,curate,serve} \\
        --seed N --seconds S [--trace 0|1]

Run from the root of a source checkout. One closed-loop client drives
``local[4]``: it sets up (session, warmup pass, build-once artifacts),
then runs passes of the workload until ``--seconds`` have elapsed,
checking every result against an independent DuckDB oracle.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it is the
full report (every metric, latency classes with their tail percentile
and sample count, the contention record and the spread of each metric
within the run). See ``perfbench/BENCHMARK.md``.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402
from perfbench import metrics_spec as spec  # noqa: E402

CORES = 4
MIN_PASSES_TRACED = 2  # untraced passes of a traced run, which adds traced ones
SEED_STREAM_WARMUP = 1_000_003  # warmup draws never collide with measured draws


class Context:
    """What a workload gets: the session, its inputs and the check sink."""

    def __init__(self, spark, fixture, run_dir, tracer, seed):
        self.spark = spark
        self.seed = seed
        self.fixture = fixture
        self.run_dir = run_dir
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, problem: str | None) -> None:
        """Record one checked output; ``problem`` is None when correct."""
        self.attempted += 1
        if problem is not None:
            self.failures.append(problem)


def _environment(cache: str) -> None:
    """Everything the run writes stays under the checkout's cache dir;
    Spark's Python workers must import ``skopje_spark`` from any cwd."""
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(cache, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = (
        f"{common.driver_mem_mb(common.meminfo_mb())}m"
    )
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def _start_session(cache: str):
    from skopje_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cpus=CORES,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(cache, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                f"-Dderby.system.home={os.path.join(cache, 'derby')}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _workload(name: str, ctx):
    if name == "etl_sql":
        from perfbench.etl_sql import EtlSql
        return EtlSql(ctx)
    if name == "curate":
        from perfbench.curate import Curate
        return Curate(ctx)
    from perfbench.serve import Serve
    return Serve(ctx)


def _jvm_pid(spark) -> int | None:
    try:
        return int(spark._jvm.java.lang.ProcessHandle.current().pid())
    except Exception:  # diagnostic only; never fail the run over it
        return None


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    started) to exit, so no process outlives the run."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    import numpy as np

    args = common.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch state
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "skopje_spark", "__init__.py")):
        print(f"skopje_spark not found under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    cache = os.path.join(ROOT, ".perfbench_cache")
    _environment(cache)

    from perfbench.fixtures import ensure_fixture
    from perfbench.tracing import Tracer, merge_reports

    t = time.perf_counter()
    fixture = ensure_fixture(cache)
    fixture_s = time.perf_counter() - t

    run_dir = os.path.join(cache, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    try:
        t = time.perf_counter()
        spark = _start_session(cache)
        start_s = time.perf_counter() - t
        tracer = Tracer(spark, enabled=False)
        ctx = Context(spark, fixture, run_dir, tracer, args.seed)
        wl = _workload(args.workload, ctx)

        artifacts = []
        for _ in range(wl.setup_repeats):
            t = time.perf_counter()
            wl.setup_artifacts()
            artifacts.append(time.perf_counter() - t)
        warm_rng = np.random.default_rng([args.seed, SEED_STREAM_WARMUP])
        t = time.perf_counter()
        for _ in range(wl.warmup_passes):
            wl.run_pass(warm_rng)
        warm_s = time.perf_counter() - t

        rng = np.random.default_rng(args.seed)
        cpu0, load0 = common.read_cpu_times(), common.loadavg()
        passes, traced, layer_reports = [], [], []
        t0 = time.perf_counter()
        min_untraced = MIN_PASSES_TRACED if args.trace else wl.min_passes
        while (time.perf_counter() - t0 < args.seconds or len(passes) < min_untraced
               or (args.trace and not traced)):
            # traced runs alternate untraced and traced passes, so the
            # tracing overhead is measured in the same session
            tracer.enabled = bool(args.trace) and len(traced) < len(passes)
            p = wl.run_pass(rng)
            if tracer.enabled:
                traced.append(p)
                layer_reports.append(tracer.layer_report())
            else:
                passes.append(p)
        window_s = time.perf_counter() - t0
        tracer.enabled = False
        cpu1, load1 = common.read_cpu_times(), common.loadavg()
        extra = wl.finish()

        rss = {
            "jvm_mb": common.peak_rss_mb(_jvm_pid(spark) or -1) or 0.0,
            "python_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        }
        report = _report(
            args, passes, traced, merge_reports(layer_reports) if layer_reports else None,
            extra, failed_frac=len(ctx.failures) / max(ctx.attempted, 1),
            setup={"start_s": start_s, "warm_s": warm_s, "artifacts_s": artifacts},
            rss=rss,
            contention={
                "cpu_steal_frac": common.steal_frac(cpu0, cpu1),
                "loadavg_start": load0,
                "loadavg_end": load1,
                "window_s": window_s,
                "fixture_s": fixture_s,
            },
        )
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    if not ctx.attempted:
        print("no output was checked", file=sys.stderr)
        return 3
    report["failures"] = ctx.failures[:20]
    print(json.dumps(report, sort_keys=True))
    metrics = report["per_layer"] if args.trace else report["end_to_end"]
    print(json.dumps({
        "correct": not ctx.failures,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }))
    return 0


def _report(args, passes, traced, layers, extra, *, setup, rss, contention,
            failed_frac) -> dict:
    tp = spec.throughput(passes)
    setup_s = setup["start_s"] + setup["warm_s"] + statistics.median(setup["artifacts_s"])
    rss_mb = rss["jvm_mb"] + rss["python_mb"]
    values = {
        "setup_s": setup_s,
        "rows_per_s": tp["rows_per_s"],
        "ops_per_s": tp["ops_per_s"],
    }
    latency = spec.latency_classes(passes)
    pass_s = [spec.pass_seconds(p) for p in passes]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": CORES,
        "passes": len(passes),
        "pass_s": pass_s,
        "est_pass_s": tp["est_pass_s"],
        "end_to_end": {
            name: {"value": values[name], "unit": unit} for name, unit, _ in spec.END_TO_END
        },
        "latency_ms": latency,
        "workload_end_to_end": spec.diagnostics(passes, extra, failed_frac, rss_mb),
        "workload_metrics": extra,
        "setup": setup,
        "peak_rss": rss,
        "contention": contention | {
            "spread_within_run": {"pass_s": common.spread(pass_s)} | {
                f"latency_ms.{k}": common.spread(v["samples_ms"]) for k, v in latency.items()
            },
        },
    }
    if args.trace:
        report["layers"] = layers
        report["per_layer"] = spec.per_layer(
            layers, traced, passes, setup, extra, failed_frac, rss_mb, CORES)
    return report


if __name__ == "__main__":
    sys.exit(main())
