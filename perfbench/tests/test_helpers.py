"""Unit tests for the benchmark's pure helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pandas as pd
import pytest

from perfbench import checks, common, metrics_spec

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- tail percentile -----------------------------------------------------------
@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0),
     (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert common.tail_percentile(n) == want


def test_tail_percentile_is_the_highest_candidate():
    for n in range(20, 3000, 7):
        p = common.tail_percentile(n)
        assert n * (100 - p) / 100 >= 10 - 1e-9
        higher = [c for c in common.TAIL_CANDIDATES if c > p]
        assert all(n * (100 - c) / 100 < 10 for c in higher)


def test_latency_summary_reports_tail_and_count():
    s = common.latency_summary([float(i) for i in range(1, 101)])
    assert s == {"n": 100, "p50": 50.5, "tail_pct": 90.0, "tail": 90.0}
    few = common.latency_summary([1.0, 2.0, 3.0])
    assert few["tail"] is None and few["tail_pct"] is None and few["p50"] == 2.0
    assert common.latency_summary([])["n"] == 0


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert common.percentile(xs, 50) == 3.0
    assert common.percentile(xs, 100) == 5.0
    assert common.percentile(xs, 1) == 1.0
    with pytest.raises(ValueError):
        common.percentile([], 50)


# -- byte accounting -------------------------------------------------------------
def test_amplification_ratio():
    assert common.amplification(300, 100) == 3.0
    assert common.amplification(0, 100) == 0.0
    with pytest.raises(ValueError):
        common.amplification(10, 0)
    with pytest.raises(ValueError):
        common.amplification(-1, 10)


def test_dir_stats_counts_nested_files(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "x.bin").write_bytes(b"12345")
    (tmp_path / "y.bin").write_bytes(b"123")
    assert common.dir_stats(str(tmp_path)) == (8, 2)
    assert common.dir_stats(str(tmp_path / "missing")) == (0, 0)


# -- span self time ---------------------------------------------------------------
def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_merged_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 2.0, 5.0),   # overlaps 2: union [1, 5]
        _span(4, 1, 8.0, 12.0),  # clipped to the parent: [8, 10]
        _span(5, 2, 1.5, 2.5),   # grandchild: not the root's direct child
    ]
    st = common.self_times(spans)
    assert st[1] == pytest.approx(4.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(4.0)
    assert st[5] == pytest.approx(1.0)


def test_self_time_of_leaf_is_duration():
    assert common.self_times([_span(7, None, 2.0, 2.5)]) == {7: 0.5}


# -- argument parsing ---------------------------------------------------------------
def test_parse_args_accepts_the_driver_shape():
    a = common.parse_args(["--workload", "serve", "--seed", "7", "--seconds", "8",
                           "--trace", "1"])
    assert (a.workload, a.seed, a.seconds, a.trace) == ("serve", 7, 8, 1)
    assert common.parse_args(["--workload", "etl_sql", "--seed", "0",
                              "--seconds", "1"]).trace == 0


@pytest.mark.parametrize("argv", [
    ["--workload", "nope", "--seed", "1", "--seconds", "5"],
    ["--workload", "serve", "--seed", "-1", "--seconds", "5"],
    ["--workload", "serve", "--seed", "x", "--seconds", "5"],
    ["--workload", "serve", "--seed", "1", "--seconds", "0"],
    ["--workload", "serve", "--seed", "1", "--seconds", "5", "--trace", "2"],
    ["--workload", "serve", "--seconds", "5"],
])
def test_parse_args_rejects_bad_input(argv):
    with pytest.raises(SystemExit):
        common.parse_args(argv)


# -- host records ---------------------------------------------------------------------
def test_cpu_times_parse_and_steal(tmp_path):
    f = tmp_path / "stat"
    f.write_text("cpu  10 0 10 70 0 0 0 10 0 0\ncpu0 1 2 3\n")
    before = common.read_cpu_times(str(f))
    assert before == (10, 100)
    f.write_text("cpu  20 0 20 140 0 0 0 20 0 0\n")
    assert common.steal_frac(before, common.read_cpu_times(str(f))) == pytest.approx(0.1)


@pytest.mark.parametrize("text", ["", "cpu a b c d e f g h\n", "intr 1 2 3 4 5 6 7 8\n",
                                  "cpu 1 2 3\n"])
def test_cpu_times_malformed_is_none(tmp_path, text):
    f = tmp_path / "stat"
    f.write_text(text)
    assert common.read_cpu_times(str(f)) is None
    assert common.steal_frac(None, (1, 2)) is None


def test_cpu_times_missing_file_is_none(tmp_path):
    assert common.read_cpu_times(str(tmp_path / "absent")) is None


def test_driver_memory_from_meminfo(tmp_path):
    f = tmp_path / "meminfo"
    f.write_text("MemTotal:       15728640 kB\nMemFree: 1 kB\n")
    total = common.meminfo_mb(path=str(f))
    assert total == 15360
    assert common.driver_mem_mb(total) == 2048
    assert common.driver_mem_mb(9000) == 1500
    assert common.driver_mem_mb(2048) == 1024
    assert common.driver_mem_mb(10**6) == 2048
    assert common.driver_mem_mb(None) == 2048
    assert common.meminfo_mb(path=str(tmp_path / "absent")) is None


def test_spread_is_iqr_over_median():
    assert common.spread([1.0]) is None
    assert common.spread([0.0, 0.0]) is None
    assert common.spread([10.0] * 5) == 0.0
    assert common.spread([8.0, 9.0, 10.0, 11.0, 12.0]) == pytest.approx(0.3)


# -- throughput from per-kind medians -------------------------------------------
def test_throughput_uses_per_kind_medians():
    passes = [
        {"records": [("a", "x", 1.0), ("b", "x", 2.0)], "ops": 2, "rows": 100},
        {"records": [("a", "x", 1.0), ("b", "x", 2.0)], "ops": 2, "rows": 100},
        {"records": [("a", "x", 9.0), ("b", "x", 2.0)], "ops": 2, "rows": 100},
    ]
    tp = metrics_spec.throughput(passes)
    assert tp["est_pass_s"] == pytest.approx(3.0)  # the 9 s outlier is ignored
    assert tp["rows_per_s"] == pytest.approx(100 / 3)
    assert tp["ops_per_s"] == pytest.approx(2 / 3)


def test_throughput_weights_kinds_by_frequency():
    passes = [{"records": [("a", "x", 1.0), ("a", "x", 1.0), ("b", "y", 4.0)],
               "ops": 3, "rows": 3}]
    assert metrics_spec.throughput(passes)["est_pass_s"] == pytest.approx(6.0)


# -- output checks ----------------------------------------------------------------------
def test_duck_sql_translates_named_parameters():
    assert checks.duck_sql("a = :p AND b IN (:n1, :n2)") == "a = $p AND b IN ($n1, $n2)"


def test_compare_frames_contract():
    got = pd.DataFrame({"k": [2, 1], "d": [dt.date(1995, 1, 2), dt.date(1995, 1, 1)],
                        "v": [0.1 + 0.2, 1e10]})
    want = pd.DataFrame({"v": [1e10 * (1 + 1e-12), 0.3],
                         "d": pd.to_datetime(["1995-01-01", "1995-01-02"]), "k": [1, 2]})
    assert checks.compare_frames(got, want, "q") is None
    assert "rows vs" in checks.compare_frames(got, want.iloc[:1], "q")
    assert "columns" in checks.compare_frames(got, want.rename(columns={"k": "x"}), "q")
    off = want.assign(v=[1e10, 0.31])
    assert "differ" in checks.compare_frames(got, off, "q")


def test_shingles_and_jaccard():
    assert checks.shingle_set("A b  c d") == {"a b c", "b c d"}
    assert checks.shingle_set("a b") == set()
    assert checks.jaccard({1, 2}, {2, 3}) == pytest.approx(1 / 3)
    assert checks.jaccard(set(), set()) == 1.0


# -- the declared metrics match what the runner emits -----------------------
def test_benchmark_json_matches_the_metric_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in metrics_spec.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(m) for m in metrics_spec.PER_LAYER]
    assert {w["name"] for w in bench["workloads"]} <= set(common.WORKLOADS)
