"""Persisted MinHash-LSH index: build / append / probe lifecycle
(operators/dedup.py:lsh_index_write, lsh_index_append,
lsh_index_probe)."""

from __future__ import annotations

import contextlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from skopje_spark.operators.dedup import (
    lsh_index_append,
    lsh_index_probe,
    lsh_index_write,
    minhash_lsh_pairs,
    minhash_signatures,
)

LOREM = (
    "the quick brown fox jumps over the lazy dog and then runs far "
    "away across the wide green field toward the old stone bridge "
    "by the river where children often play in summer afternoons"
)
OTHER = (
    "completely different content about databases query planning "
    "distributed execution engines shuffle partitioning and the "
    "cost model every optimizer must maintain for large clusters"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _local_docs(spark, rows):
    """A pandas-built frame: a LocalRelation the planner can size, so
    a few documents take the tiny-input lane of ensure_parallelism
    (a list-built frame is RDD-backed and reports an unknown size)."""
    pdf = pd.DataFrame(
        {
            "doc_id": pd.Series([r[0] for r in rows], dtype="int64"),
            "text": pd.Series([r[1] for r in rows], dtype=object),
        }
    )
    return spark.createDataFrame(pdf, "doc_id long, text string")


@contextlib.contextmanager
def _min_partition_size(spark, value):
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _widened(df) -> bool:
    """Whether the batch signature plan round-robins its input."""
    plan = minhash_signatures(df, "doc_id", "text")._jdf.queryExecution()
    return "RoundRobinPartitioning" in plan.executedPlan().toString()


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_probe_finds_planted_near_dup(spark, tmp_path):
    corpus = _docs(spark, [(1, LOREM), (2, OTHER)])
    # batch doc 10 = LOREM with a small edit; doc 11 is novel
    batch = _docs(
        spark,
        [
            (10, LOREM.replace("lazy dog", "sleepy dog")),
            (11, "entirely novel text about orbital mechanics and " * 3),
        ],
    )
    path = str(tmp_path / "idx")
    lsh_index_write(corpus, path)
    out = lsh_index_probe(batch, path, threshold=0.5).collect()
    flagged = {(r["doc_id"], r["index_id"]) for r in out}
    assert (10, 1) in flagged
    hit = next(r for r in out if r["doc_id"] == 10)
    assert hit["n_match"] >= 8
    assert hit["est_jaccard"] == hit["n_match"] / 16.0
    assert all(r["doc_id"] != 11 for r in out), "novel doc must not flag"


def test_append_equals_build_on_union(spark, tmp_path):
    """Per-document signatures have no trained state: an index built
    in two installments must probe identically to one built on the
    union in a single write."""
    half_a = _docs(spark, [(1, LOREM), (2, OTHER)])
    half_b = _docs(spark, [(3, LOREM + " with an appended tail of words")])
    batch = _docs(spark, [(20, LOREM)])

    p1 = str(tmp_path / "incremental")
    lsh_index_write(half_a, p1)
    assert lsh_index_append(half_b, p1) == 1
    p2 = str(tmp_path / "oneshot")
    lsh_index_write(half_a.unionByName(half_b), p2)

    r1 = sorted(map(tuple, lsh_index_probe(batch, p1).collect()))
    r2 = sorted(map(tuple, lsh_index_probe(batch, p2).collect()))
    assert r1 == r2
    assert any(t[1] == 3 for t in r1), "appended doc must be probe-visible"


def test_append_replay_is_read_side_idempotent(spark, tmp_path):
    """At-least-once delivery: replaying an append duplicates index
    rows, but the probe's distinct/dropDuplicates collapses them —
    output is row-identical to the single-delivery run."""
    corpus = _docs(spark, [(1, LOREM)])
    extra = _docs(spark, [(2, OTHER)])
    batch = _docs(spark, [(30, LOREM), (31, OTHER + " slightly changed here")])
    path = str(tmp_path / "idx")
    lsh_index_write(corpus, path)
    lsh_index_append(extra, path)
    once = sorted(map(tuple, lsh_index_probe(batch, path).collect()))
    lsh_index_append(extra, path)  # replay
    twice = sorted(map(tuple, lsh_index_probe(batch, path).collect()))
    assert once == twice and len(once) >= 2


def test_geometry_guard_rejects_foreign_index(spark, tmp_path):
    """An index whose meta records a different hash geometry must be
    rejected up front, not silently probed with wrong coefficients."""
    corpus = _docs(spark, [(1, LOREM)])
    path = str(tmp_path / "idx")
    lsh_index_write(corpus, path)
    spark.createDataFrame(
        [("deadbeefdeadbeef", 16, 4)], "geometry string, n_hashes int, n_bands int"
    ).write.mode("overwrite").parquet(f"{path}/meta")
    with pytest.raises(ValueError, match="geometry"):
        lsh_index_probe(corpus, path)
    with pytest.raises(ValueError, match="geometry"):
        lsh_index_append(corpus, path)


def test_probe_agrees_with_inmemory_pair_sweep(spark, tmp_path):
    """Cross-check against minhash_lsh_pairs: for a corpus∪batch
    universe, the probe's candidate set restricted to (batch, corpus)
    pairs equals the in-memory sweep's pairs restricted the same way
    (before the signature-agreement filter)."""
    corpus = _docs(spark, [(2, LOREM), (4, OTHER)])
    batch = _docs(
        spark, [(1, LOREM.replace("summer", "winter")), (3, "unrelated words " * 8)]
    )
    path = str(tmp_path / "idx")
    lsh_index_write(corpus, path)
    probe = lsh_index_probe(batch, path, threshold=0.0)
    got = {(r["doc_id"], r["index_id"]) for r in probe.collect()}

    sweep = minhash_lsh_pairs(corpus.unionByName(batch), "doc_id", "text")
    want = set()
    for r in sweep.collect():
        a, b = r["id_a"], r["id_b"]
        # orient as (batch_odd, corpus_even); drop intra-side pairs
        if a % 2 == 1 and b % 2 == 0:
            want.add((a, b))
        elif b % 2 == 1 and a % 2 == 0:
            want.add((b, a))
    assert got == want


def test_exclude_same_id_toggle(spark, tmp_path):
    """Re-ingesting an indexed document: the default drops the
    self-pair; exclude_same_id=False surfaces it as a perfect match."""
    corpus = _docs(spark, [(1, LOREM), (2, OTHER)])
    path = str(tmp_path / "idx")
    lsh_index_write(corpus, path)
    reingest = _docs(spark, [(1, LOREM)])
    none = lsh_index_probe(reingest, path).collect()
    assert all(r["index_id"] != 1 for r in none)
    kept = lsh_index_probe(reingest, path, exclude_same_id=False).filter(
        F.col("index_id") == 1
    ).collect()
    assert len(kept) == 1 and kept[0]["n_match"] == 16


def test_stream_sink_maintains_index_from_zero(spark, tmp_path):
    """Streaming-from-zero: index built on an EMPTY corpus, three
    micro-batches of documents appended through the foreachBatch sink;
    the probe then sees every streamed document, and a full replay
    from a fresh checkpoint (at-least-once duplication of all batches)
    leaves every probe verdict identical."""
    import json
    import os
    import time

    from skopje_spark.operators.dedup import lsh_index_stream_sink
    from skopje_spark.streaming.streams import file_stream

    src = tmp_path / "src"
    src.mkdir()
    docs = [
        (1, LOREM),
        (2, OTHER),
        (3, LOREM.replace("green field", "brown field")),
    ]
    now = time.time()
    for i, (did, text) in enumerate(docs):
        f = src / f"b{i}.json"
        f.write_text(json.dumps({"doc_id": did, "text": text}) + "\n")
        os.utime(f, (now - (3 - i) * 10, now - (3 - i) * 10))

    path = str(tmp_path / "idx")
    lsh_index_write(
        spark.createDataFrame([], "doc_id long, text string"), path
    )
    # empty index is probe-able (no candidates, no crash)
    probe_empty = lsh_index_probe(
        spark.createDataFrame([(99, LOREM)], "doc_id long, text string"), path
    )
    assert probe_empty.count() == 0

    stream = file_stream(
        spark, str(src), schema="doc_id long, text string",
        max_files_per_trigger=1,
    )
    q = lsh_index_stream_sink(stream, path, str(tmp_path / "ckpt"))
    q.awaitTermination()

    batch = spark.createDataFrame([(40, LOREM)], "doc_id long, text string")
    out1 = sorted(map(tuple, lsh_index_probe(batch, path).collect()))
    hit_ids = {t[1] for t in out1}
    assert {1, 3} <= hit_ids, f"streamed near-dups missing: {out1}"

    # replay the WHOLE stream from a fresh checkpoint: every append
    # duplicates, every verdict must hold
    stream2 = file_stream(
        spark, str(src), schema="doc_id long, text string",
        max_files_per_trigger=1,
    )
    q2 = lsh_index_stream_sink(stream2, path, str(tmp_path / "ckpt2"))
    q2.awaitTermination()
    out2 = sorted(map(tuple, lsh_index_probe(batch, path).collect()))
    assert out1 == out2


def test_tuning_report_monotonicity(spark):
    """More rows per band → strictly fewer (≤) candidate pairs and a
    lower catch probability at fixed Jaccard; catch rises in j within
    one geometry; (16,1) candidates ≥ every other geometry's."""
    from skopje_spark.operators.dedup import lsh_tuning_report

    docs = _docs(
        spark,
        [(i, LOREM if i % 3 == 0 else (OTHER + f" variant {i}")) for i in range(24)],
    )
    rep = {r["rows_per_band"]: r for r in lsh_tuning_report(docs).collect()}
    assert sorted(rep) == [1, 2, 4, 8]
    for lo, hi in [(1, 2), (2, 4), (4, 8)]:
        assert rep[lo]["n_candidate_pairs"] >= rep[hi]["n_candidate_pairs"]
        for j in (30, 50, 70, 90):
            assert rep[lo][f"catch_at_j{j}"] > rep[hi][f"catch_at_j{j}"]
    for r in rep.values():
        assert (
            r["catch_at_j30"] < r["catch_at_j50"]
            < r["catch_at_j70"] < r["catch_at_j90"]
        )
    # closed form spot check: (16,1) at j is 1-(1-j)^16
    assert rep[1]["catch_at_j50"] == 1.0 - 0.5**16


def test_tuning_report_rejects_bad_geometry(spark):
    from skopje_spark.operators.dedup import lsh_tuning_report

    with pytest.raises(ValueError, match="tile"):
        lsh_tuning_report(_docs(spark, [(1, LOREM)]), geometries=((3, 5),))


def test_crawl_ingest_torn_replay_keeps_batch_internal_pairs(spark, tmp_path):
    """Torn-window replay (crash AFTER lsh_index_append, BEFORE the
    ledger write): the replayed probe sees the batch's OWN documents
    in the index. Batch-internal near-dup pairs are documented to
    both pass — the replay must reproduce that, not let them flag
    each other and overwrite the output without them."""
    import json
    import os
    import time

    from skopje_spark.operators.dedup import (
        crawl_ingest_stream,
        lsh_index_append,
        lsh_index_write,
    )
    from skopje_spark.streaming.streams import file_stream

    # one batch holding an internal near-dup pair (1 ~ 2)
    rows = [(1, LOREM), (2, LOREM.replace("lazy dog", "sleepy dog"))]
    src = tmp_path / "src"
    src.mkdir()
    f = src / "b0.json"
    f.write_text("\n".join(json.dumps({"doc_id": d, "text": t}) for d, t in rows) + "\n")
    os.utime(f, (time.time() - 10, time.time() - 10))

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    lsh_index_write(spark.createDataFrame([], "doc_id long, text string"), idx)
    # simulate the crashed first attempt: the batch's novel set (all of
    # it — empty index) reached the index, but neither the output's
    # final state nor the ledger recorded the batch
    lsh_index_append(_docs(spark, rows), idx)

    stream = file_stream(
        spark, str(src), schema="doc_id long, text string",
        max_files_per_trigger=1,
    )
    q = crawl_ingest_stream(stream, idx, out, str(tmp_path / "ckpt"))
    q.awaitTermination()
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/data").collect()}
    assert kept == {1, 2}, f"replay lost batch-internal pair rows: {kept}"


def test_crawl_ingest_stream_dedups_across_batches(spark, tmp_path):
    """The full crawl loop (dedup.crawl_ingest_stream): batch 2's
    near-dup of a batch-1 document is dropped because batch 1's novel
    docs entered the index before batch 2 was screened; novel docs
    land in the output exactly once, and a full fresh-checkpoint
    replay... stays per-incarnation (documented) — but a same-
    checkpoint restart reprocesses nothing and the per-batch overwrite
    directories make torn-batch retries replace, not duplicate."""
    import json
    import os
    import time

    from skopje_spark.operators.dedup import (
        crawl_ingest_stream,
        lsh_index_write,
    )
    from skopje_spark.streaming.streams import file_stream

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [(1, LOREM), (2, OTHER)],
        [(3, LOREM.replace("lazy dog", "sleepy dog")),  # near-dup of 1
         (4, "genuinely new content about tide pools and " * 4)],
        [(5, OTHER + " tiny tail"),                      # near-dup of 2
         (6, LOREM)],                                    # near-dup of 1
    ]
    now = time.time()
    for i, rows in enumerate(batches):
        f = src / f"b{i}.json"
        f.write_text(
            "\n".join(json.dumps({"doc_id": d, "text": t}) for d, t in rows) + "\n"
        )
        os.utime(f, (now - (3 - i) * 10, now - (3 - i) * 10))

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    lsh_index_write(
        spark.createDataFrame([], "doc_id long, text string"), idx
    )
    stream = file_stream(
        spark, str(src), schema="doc_id long, text string",
        max_files_per_trigger=1,
    )
    q = crawl_ingest_stream(stream, idx, out, str(tmp_path / "ckpt"))
    q.awaitTermination()

    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/data").collect()}
    assert kept == {1, 2, 4}, f"expected novel docs only, got {kept}"
    ledger = spark.read.parquet(f"{out}/_batch_ledger")
    assert ledger.count() == 3

    # same-checkpoint restart: nothing reprocessed, output unchanged
    stream2 = file_stream(
        spark, str(src), schema="doc_id long, text string",
        max_files_per_trigger=1,
    )
    q2 = crawl_ingest_stream(stream2, idx, out, str(tmp_path / "ckpt"))
    q2.awaitTermination()
    kept2 = {r["doc_id"] for r in spark.read.parquet(f"{out}/data").collect()}
    assert kept2 == kept
    assert spark.read.parquet(f"{out}/_batch_ledger").count() == 3


@pytest.mark.parametrize("exclude_same_id", [True, False])
def test_fast_lane_probe_equals_forced_repartition(spark, tmp_path, exclude_same_id):
    """A few-document batch skips ensure_parallelism's round-robin (it
    is below the AQE partition-size floor); forcing the floor to 1b
    restores the repartition. Both lanes return the same rows, and the
    re-ingested corpus id follows ``exclude_same_id`` in each."""
    corpus = _local_docs(
        spark, [(1, LOREM), (2, OTHER), (3, LOREM + " with an appended tail")]
    )
    path = str(tmp_path / "idx")
    lsh_index_write(corpus, path)
    batch = _local_docs(
        spark, [(1, LOREM), (10, LOREM.replace("lazy dog", "sleepy dog"))]
    )

    def probe():
        return _rows(lsh_index_probe(batch, path, exclude_same_id=exclude_same_id))

    assert not _widened(batch)
    fast = probe()
    with _min_partition_size(spark, "1b"):
        assert _widened(batch)
        forced = probe()
    assert fast == forced
    assert {(10, 1), (10, 3), (1, 3)} <= {(r[0], r[1]) for r in fast}
    self_pairs = [r for r in fast if r[0] == r[1]]
    assert self_pairs == ([] if exclude_same_id else [(1, 1, 16, 1.0)])


def test_fast_lane_empty_batch(spark, tmp_path):
    path = str(tmp_path / "idx")
    lsh_index_write(_local_docs(spark, [(1, LOREM), (2, OTHER)]), path)
    out = lsh_index_probe(_local_docs(spark, []), path)
    assert out.collect() == []
    assert out.schema.simpleString() == (
        "struct<doc_id:bigint,index_id:bigint,n_match:int,est_jaccard:double>"
    )


def test_fast_lane_replayed_append(spark, tmp_path):
    """At-least-once replay of an append through the explicit-schema
    reads: duplicated index rows never change the probe output."""
    path = str(tmp_path / "idx")
    lsh_index_write(_local_docs(spark, [(1, LOREM)]), path)
    extra = _local_docs(spark, [(2, OTHER), (3, LOREM.replace("summer", "winter"))])
    batch = _local_docs(spark, [(30, LOREM), (31, OTHER + " slightly changed")])
    assert lsh_index_append(extra, path) == 2
    once = _rows(lsh_index_probe(batch, path))
    lsh_index_append(extra, path)  # replay
    assert _rows(lsh_index_probe(batch, path)) == once
    assert {(30, 1), (30, 3), (31, 2)} <= {(r[0], r[1]) for r in once}


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_probe_of_index_without_recorded_id_type(spark, tmp_path, id_type):
    """The meta records the id column's type and the probe reads sigs
    and bands with it; an index written before the type was recorded
    (meta without ``id_type``) falls back to schema inference and
    probes identically."""
    from skopje_spark.operators.dedup import _lsh_geometry_digest

    rows = [(1, LOREM), (2, OTHER), (3, LOREM + " with an appended tail")]
    cast = f"CAST(doc_id AS {id_type}) AS doc_id"
    corpus = _local_docs(spark, rows).selectExpr(cast, "text")
    batch = _local_docs(spark, [(1, LOREM), (10, OTHER)]).selectExpr(cast, "text")
    path = str(tmp_path / "idx")
    lsh_index_write(corpus, path)
    assert spark.read.parquet(f"{path}/meta").first()["id_type"] == id_type
    typed = lsh_index_probe(batch, path, exclude_same_id=False)
    assert typed.schema["index_id"].dataType.simpleString() == id_type
    want = _rows(typed)

    spark.createDataFrame(
        [(_lsh_geometry_digest(), 16, 4)], "geometry string, n_hashes int, n_bands int"
    ).write.mode("overwrite").parquet(f"{path}/meta")
    legacy = lsh_index_probe(batch, path, exclude_same_id=False)
    assert legacy.schema == typed.schema
    assert _rows(legacy) == want
    key = str if id_type == "string" else int
    pairs = {(key(a), key(b)) for a, b in [(1, 1), (1, 3), (10, 2)]}
    assert pairs <= {(r[0], r[1]) for r in want}


def test_probe_job_budget(spark, tmp_path, count_jobs):
    """Fixed per-probe cost: building the probe frame runs only the
    batch-signature checkpoint (no schema inference, no round-robin of
    a tiny batch); the whole probe stays within 7 jobs."""
    path = str(tmp_path / "idx")
    lsh_index_write(_local_docs(spark, [(1, LOREM), (2, OTHER)]), path)
    batch = _local_docs(
        spark, [(10, LOREM.replace("lazy dog", "sleepy dog")), (11, OTHER)]
    )
    df, built = count_jobs(lambda: lsh_index_probe(batch, path))
    rows, ran = count_jobs(df.collect)
    assert {(r["doc_id"], r["index_id"]) for r in rows} == {(10, 1), (11, 2)}
    assert built <= 2, f"probe build ran {built} jobs"
    assert built + ran <= 7, f"probe ran {built} + {ran} jobs"
