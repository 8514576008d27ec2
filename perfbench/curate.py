"""``curate``: the composed LLM-data pipeline, built as a
``pipeline.Pipeline`` and timed through ``Pipeline.run``:

    quality gate → exact dedup → MinHash/LSH near-dup pairs →
    ``neardup_clusters`` → concat-and-chunk packing → one
    ``versioned_write`` commit

The seed picks which documents of the pool form the batch; every pass
curates the same batch into a new version of one table. Python-side
DataFrame building with driver actions (clustering, prefix sums) and
UDF-free array work dominate; it is the only workload that exercises
``pipeline.py``.

Checks, on the first pass, read the committed table back: DuckDB
re-derives the quality gate and exact dedup (every committed document
must survive both) and the packing of the committed documents (must
match row for row); every document the near-dup stage dropped must
have a true shingle-Jaccard partner among the exact-dedup survivors.
Every later pass must commit a version that reads back row-identical
to the first.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks
from perfbench.common import amplification, dir_stats

BATCH_DOCS = 4_000
CTX_LEN = 2048
# a dropped document's best partner must be at least this similar;
# planted near copies sit near 0.7, unrelated documents near 0
DROP_JACCARD_FLOOR = 0.3

# DuckDB re-derivation of the quality gate (text.quality_features) and
# exact dedup (dedup.dedup_exact: min id per normalized-content sha256)
_GATE_DEDUP = r"""
WITH n AS (
  SELECT doc_id, text,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
  FROM batch
), w AS (
  SELECT doc_id, text, norm,
         list_filter(string_split(norm, ' '), x -> x <> '') AS toks
  FROM n
), kept AS (
  SELECT doc_id, norm FROM w
  WHERE length(text) >= 32 AND len(toks) >= 8
    AND len(list_distinct(toks)) / greatest(len(toks), 1) > 0.2
)
SELECT min(doc_id) AS doc_id FROM kept GROUP BY sha256(norm)
"""

# packing (packing.pack_concat_chunk) of the surviving documents: token
# counts (text.token_count) laid end to end in doc_id order
_PACK = r"""
WITH t AS (
  SELECT b.doc_id,
         len(regexp_extract_all(trim(regexp_replace(lower(b.text), '\s+', ' ', 'g')),
                                '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS tok
  FROM batch b JOIN survivors s USING (doc_id)
), o AS (
  SELECT doc_id, tok,
         coalesce(sum(tok) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
  FROM t WHERE tok > 0
)
SELECT doc_id, CAST(seq AS BIGINT) AS seq_id,
       CAST(least(st + tok, (seq + 1) * {ctx}) - greatest(st, seq * {ctx}) AS BIGINT)
         AS seq_tokens
FROM o, UNNEST(range(CAST(floor(st / {ctx}) AS BIGINT),
                     CAST(floor((st + tok - 1) / {ctx}) AS BIGINT) + 1)) AS u(seq)
"""


class Curate:
    name = "curate"
    setup_repeats = 3
    warmup_passes = 1
    min_passes = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.table = os.path.join(ctx.run_dir, "curated")
        self.commits: list[int] = []  # bytes written per commit
        self.node_s: dict[str, float] = {}  # summed over passes
        self.expected = None  # the checked pipeline output
        self.plain_bytes = 0
        # the seeded batch, written once as the run's input
        pool = pq.read_table(os.path.join(ctx.fixture, "documents.parquet"))
        ids = np.random.default_rng(ctx.seed).choice(
            pool.num_rows, BATCH_DOCS, replace=False
        )
        self.batch = os.path.join(ctx.run_dir, "batch.parquet")
        pq.write_table(pool.take(pa.array(np.sort(ids))), self.batch)

    def pipeline(self):
        from pyspark.sql import functions as F

        from skopje_spark.operators.dedup import (
            dedup_exact, minhash_lsh_pairs, neardup_clusters,
        )
        from skopje_spark.operators.packing import pack_concat_chunk
        from skopje_spark.operators.text import quality_features
        from skopje_spark.pipeline import Pipeline
        from skopje_spark.sinks.versioned import versioned_write

        tr = self.ctx.tracer

        def docs(ctx):
            return ctx.spark.read.parquet(self.batch)

        def quality(ctx, d):
            q = quality_features(d, "doc_id", "text").filter(
                F.col("quality_keep") == 1
            ).select("doc_id", "n_tokens")
            return d.select("doc_id", "source", "text").join(q, "doc_id")

        def exact(ctx, d):
            return dedup_exact(d, "doc_id", "text")

        def neardup(ctx, d):
            pairs = minhash_lsh_pairs(d, "doc_id", "text")
            clusters = neardup_clusters(pairs)
            dropped = clusters.filter(F.col("doc_id") != F.col("cluster_id"))
            return d.join(dropped.select("doc_id"), "doc_id", "left_anti")

        def pack(ctx, d):
            packed = pack_concat_chunk(
                d, id_col="doc_id", tokens_col="n_tokens", ctx_len=CTX_LEN
            )
            return packed.join(d.select("doc_id", "source"), "doc_id")

        def commit(ctx, d):
            with tr.span("commit.write"):
                return versioned_write(d, self.table)

        p = Pipeline("curate")
        p.source("docs", self._node("docs", docs))
        p.transform("quality", self._node("quality", quality), deps=["docs"])
        p.transform("exact", self._node("exact", exact), deps=["quality"])
        p.transform("neardup", self._node("neardup", neardup), deps=["exact"])
        p.transform("pack", self._node("pack", pack), deps=["neardup"])
        p.sink("commit", self._node("commit", commit), dep="pack")
        return p

    def _node(self, name, fn):
        """Node body inside a span. Sources and transforms only build
        plans (plus whatever driver actions the operators run); the
        sink executes."""
        tr = self.ctx.tracer
        kind = {"docs": "source", "commit": "sink"}.get(name, "transform")

        def wrapped(*a):
            t = time.perf_counter()
            with tr.span(f"pipeline.node.{kind}"):
                if kind == "sink":
                    out = fn(*a)
                else:
                    with tr.span("build"):
                        out = fn(*a)
            self.node_s[name] = self.node_s.get(name, 0.0) + time.perf_counter() - t
            return out

        return wrapped

    def _count_candidates(self, d) -> tuple[int, int]:
        """Traced passes only, after the timed run: LSH candidate pairs
        of the near-dup stage's input and how many of them are true near
        duplicates (extra Spark jobs)."""
        from skopje_spark.operators.dedup import minhash_lsh_pairs

        cand = minhash_lsh_pairs(d, "doc_id", "text").toPandas()
        texts = dict(d.select("doc_id", "text").toPandas().itertuples(index=False))
        sh = {}
        verified = 0
        for a, b in cand.itertuples(index=False):
            for k in (a, b):
                if k not in sh:
                    sh[k] = checks.shingle_set(texts[k])
            verified += checks.jaccard(sh[a], sh[b]) >= 0.5
        return len(cand), verified

    def setup_artifacts(self) -> None:
        """No build-once state: the lake table starts empty."""

    def run_pass(self, rng) -> dict:
        from skopje_spark.sinks.versioned import versioned_read

        tr = self.ctx.tracer
        before = dir_stats(self.table)[0]
        p = self.pipeline()
        t = time.perf_counter()
        with tr.span("pipeline.run"):
            out = p.run(self.ctx.spark)
        busy = time.perf_counter() - t
        version = out["commit"]
        written = dir_stats(self.table)[0] - before
        if tr.enabled:
            tr.count("commit.bytes_written_mb", written / 2**20)
            tr.enabled = False  # the counting below is not the pipeline's work
            cand, verified = self._count_candidates(out["exact"])
            tr.enabled = True
            tr.count("dedup.candidate_pairs", cand)
            tr.count("dedup.verified_pairs", verified)
        self.commits.append(written)
        committed = versioned_read(self.ctx.spark, self.table, version=version).toPandas()
        if self.expected is None:
            self._check_first(committed)
        else:
            self.ctx.check(checks.compare_frames(
                committed, self.expected, "commit readback"))
        return {"records": [("pipeline_run", "pipeline_run", busy)],
                "ops": 1, "rows": BATCH_DOCS}

    def _check_first(self, committed) -> None:
        """Check the committed table against DuckDB re-derivations. The
        near-dup survivors are the committed doc ids (every document
        that passes the gate has tokens, so each one packs)."""
        check = self.ctx.check
        con = checks.connect(self.ctx.fixture, ())
        con.execute(f"CREATE VIEW batch AS SELECT * FROM read_parquet('{self.batch}')")
        exact_ids = set(con.execute(_GATE_DEDUP).df()["doc_id"])
        survivors = committed[["doc_id"]].drop_duplicates()
        surv_ids = set(survivors["doc_id"])
        check(None if surv_ids <= exact_ids else
              f"{len(surv_ids - exact_ids)} committed docs fail the gate or are exact copies")
        check(self._check_dropped(con, exact_ids - surv_ids, exact_ids))
        con.register("survivors", survivors)
        want_pack = con.execute(_PACK.format(ctx=CTX_LEN)).df()
        check(checks.compare_frames(
            committed.drop(columns=["source"]), want_pack, "packing"))
        con.close()
        self.expected = committed
        self.plain_bytes = _plain_parquet_bytes(committed, self.ctx.run_dir)

    def _check_dropped(self, con, dropped: set, exact_ids: set) -> str | None:
        texts = dict(con.execute("SELECT doc_id, text FROM batch").fetchall())
        sh = {k: checks.shingle_set(texts[k]) for k in exact_ids}
        index: dict[str, set] = {}
        for k, s in sh.items():
            for g in s:
                index.setdefault(g, set()).add(k)
        for k in dropped:
            partners = set().union(*(index[g] for g in sh[k])) - {k}
            if not any(checks.jaccard(sh[k], sh[j]) >= DROP_JACCARD_FLOOR for j in partners):
                return f"neardup dropped doc {k} with no similar partner"
        return None

    def finish(self) -> dict:
        amps = [amplification(w, self.plain_bytes) for w in self.commits]
        return {
            "write_amp": float(np.median(amps)),
            "commits": len(self.commits),
            "committed_rows": len(self.expected),
            "pipeline_node_s": {k: v / len(self.commits) for k, v in self.node_s.items()},
        }


def _plain_parquet_bytes(pdf, run_dir: str) -> int:
    path = os.path.join(run_dir, "plain.parquet")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    size = os.path.getsize(path)
    os.remove(path)
    return size
