"""Units: persisted BM25 inverted index (operators/invindex.py) —
append-exactness vs the direct scorer, layout pruning, stats folding."""

from __future__ import annotations

import json
import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from skopje_spark.operators.invindex import (
    bm25_index_append,
    bm25_index_query,
    bm25_index_stats,
    bm25_index_write,
)
from skopje_spark.operators.text import bm25_scores


def _docs(spark):
    rows = [
        (1, "alpha table scan merge table"),
        (2, "window stream alpha alpha"),
        (3, "table merge merge stream window window"),
        (4, "beta gamma delta"),
        (5, "table stream table stream table"),
        (6, "alpha beta window"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_index_query_equals_direct_scoring_after_append(spark, tmp_path):
    d = _docs(spark)
    path = str(tmp_path / "idx")
    s0 = bm25_index_write(d.filter("doc_id % 2 = 0"), path, n_buckets=8)
    s1 = bm25_index_append(spark, d.filter("doc_id % 2 = 1"), path)
    # stats folded exactly
    assert s1["n_docs"] == 6 and s1["n_docs"] > s0["n_docs"]
    assert s1["sum_dl"] == sum(len(t.split()) for _, t in _docs(spark).collect())
    for q in (["table", "stream"], ["alpha"], ["window", "merge", "beta"]):
        got = [
            (r["doc_id"], r["score"])
            for r in bm25_index_query(spark, path, q, top_k=10).collect()
        ]
        exp = [
            (r["doc_id"], r["score"])
            for r in bm25_scores(d, q, top_k=10).collect()
        ]
        assert got == exp, q


def test_index_query_prunes_partitions_and_rejects_empty(spark, tmp_path):
    d = _docs(spark)
    path = str(tmp_path / "idx2")
    bm25_index_write(d, path, n_buckets=8)
    df = bm25_index_query(spark, path, ["alpha"], top_k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "pb" in plan  # partition filter reached the scan
    assert [r["doc_id"] for r in df.collect()][0] in (1, 2, 6)
    with pytest.raises(ValueError, match="no usable query terms"):
        bm25_index_query(spark, path, ["123", "!!"])


def test_index_stats_survive_and_tokenless_docs_excluded(spark, tmp_path):
    rows = [(1, "alpha beta"), (2, "1234 %%%"), (3, "gamma")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx3")
    st = bm25_index_write(d, path)
    # doc 2 has no [a-z]+ tokens: outside N and sum_dl, like bm25_scores
    assert st["n_docs"] == 2 and st["sum_dl"] == 3
    assert bm25_index_stats(path)["token_rule"] == "[a-z]+"


def test_index_compact_defragments_without_changing_results(spark, tmp_path):
    import os

    d = _docs(spark)
    path = str(tmp_path / "idxc")
    bm25_index_write(d.filter("doc_id <= 2"), path, n_buckets=4)
    for i in (3, 4, 5, 6):
        bm25_index_append(spark, d.filter(f"doc_id = {i}") if i <= 6 else d, path)

    def count_files(p):
        n = 0
        for root, _, files in os.walk(os.path.join(p, "postings")):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    before_files = count_files(path)
    before = [
        (r["doc_id"], r["score"])
        for r in bm25_index_query(spark, path, ["table", "stream"], top_k=10).collect()
    ]
    from skopje_spark.operators.invindex import bm25_index_compact

    after_files = bm25_index_compact(spark, path)
    assert after_files < before_files
    after = [
        (r["doc_id"], r["score"])
        for r in bm25_index_query(spark, path, ["table", "stream"], top_k=10).collect()
    ]
    assert after == before
    assert bm25_index_stats(path)["n_docs"] == 6  # stats untouched


def _local_docs(spark, rows):
    """A pandas-built frame: a LocalRelation the planner can size, so
    a few documents take the tiny-input lane of ensure_parallelism."""
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    return spark.createDataFrame(pdf, "doc_id long, text string")


_SMALL = [
    (1, "alpha table scan merge table"),
    (2, "window stream alpha alpha"),
    (3, "table merge beta"),
]


def _scores(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_fast_lane_query_equals_bm25_scores(spark, tmp_path):
    """On a 3-document corpus the query equals the direct scorer, with
    the scorer's repartition skipped (tiny input) and forced (floor at
    1b); terms absent from the index return no rows."""
    d = _local_docs(spark, _SMALL)
    path = str(tmp_path / "idx")
    assert bm25_index_write(d, path, n_buckets=4)["id_type"] == "bigint"
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    old = spark.conf.get(key)
    for q in (["table", "alpha"], ["merge", "window", "beta"], ["scan"]):
        got = _scores(bm25_index_query(spark, path, q, top_k=10))
        assert got == _scores(bm25_scores(d, q, top_k=10)), q
        spark.conf.set(key, "1b")
        try:
            assert got == _scores(bm25_scores(d, q, top_k=10)), q
        finally:
            spark.conf.set(key, old)
    assert bm25_index_query(spark, path, ["zeta"]).collect() == []


def test_query_of_index_without_recorded_id_type(spark, tmp_path):
    """An index whose stats predate the recorded id type reads its
    postings with schema inference and scores identically."""
    d = _local_docs(spark, _SMALL).selectExpr("CAST(doc_id AS INT) AS doc_id", "text")
    path = str(tmp_path / "idx")
    bm25_index_write(d, path, n_buckets=4)
    q = ["table", "alpha", "beta"]
    typed = bm25_index_query(spark, path, q)
    want = _scores(typed)
    stats_path = os.path.join(path, "_STATS.json")
    with open(stats_path) as f:
        stats = json.load(f)
    assert stats.pop("id_type") == "int"
    with open(stats_path, "w") as f:
        json.dump(stats, f)
    legacy = bm25_index_query(spark, path, q)
    assert legacy.schema == typed.schema
    assert _scores(legacy) == want == _scores(bm25_scores(d, q))


def test_query_job_budget(spark, tmp_path, count_jobs):
    """Building the query frame runs no job (bucket hashes folded into
    partition filters, schema from the stats); collecting runs at most
    3 (per-term df window, score aggregate, result)."""
    path = str(tmp_path / "idx")
    bm25_index_write(_local_docs(spark, _SMALL), path, n_buckets=4)
    df, built = count_jobs(lambda: bm25_index_query(spark, path, ["table", "alpha"]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the hashes are folded: the scan prunes on literal buckets
    assert re.search(r"PartitionFilters: \[pb#\d+ IN \([\d,]+\)\]", plan), plan
    rows, ran = count_jobs(df.collect)
    assert [r["doc_id"] for r in rows] == [1, 2, 3]
    assert built == 0, f"query build ran {built} jobs"
    assert ran <= 3, f"query collect ran {ran} jobs"
