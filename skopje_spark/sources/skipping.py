"""File-level data skipping: per-file min/max manifests + pruned scans.

Parquet row-group statistics only help after a file is opened; at
100 TB the cost that matters is *which files get opened at all*.
Delta/Iceberg solve this with a stats manifest consulted before the
scan — this module is that idea over plain parquet directories:

- :func:`write_manifest` computes per-file min/max for chosen columns
  in one distributed pass (grouped on ``input_file_name``) and stores
  the result inside the table directory under an underscore-prefixed
  subdir (Spark's parquet reader treats ``_``-prefixed paths as
  hidden, so the manifest never pollutes normal scans of the table).
- :func:`pruned_scan` reads the manifest (O(#files) metadata, not
  data), keeps files whose [min, max] interval intersects the
  predicate range, and scans only those — then re-applies the
  predicate exactly, so pruning is a pure optimization, never a
  semantics change.

Skipping power comes from layout: cluster data so each file covers a
narrow key range (``repartitionByRange`` + ``sortWithinPartitions``
before the write — see :func:`write_clustered`). Random layout ⇒ every
file spans the whole domain ⇒ nothing prunes; range-clustered layout ⇒
a point/range query touches O(matching) files.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_DIR = "_skip_manifest"


def write_clustered(
    df: DataFrame, path: str, cluster_col: str, *, n_files: int = 16
) -> None:
    """Range-cluster ``df`` on ``cluster_col`` into ``n_files`` files —
    the write layout that makes min/max skipping effective. One range
    shuffle (sampled boundaries), sort within each output file."""
    (
        df.repartitionByRange(n_files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_manifest(
    spark: SparkSession,
    path: str,
    cols: list[str],
    *,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 1 << 17,
    bloom_k: int = 5,
) -> int:
    """Build the per-file manifest for ``cols``: min/max intervals
    plus, for each column in ``bloom_cols``, a per-file bloom bitmap
    (``bloom_<col>`` binary column, geometry recorded alongside as
    ``__bloom_bits``/``__bloom_k`` so readers can't probe at the
    wrong size — same self-description contract as the CMS state).
    Returns the number of data files covered.

    Min/max prunes RANGE predicates but is blind for point lookups on
    high-cardinality columns whose per-file ranges all overlap (a
    random user_id lands inside every file's [min,max]); the bloom
    bitmap answers "is this exact value definitely absent from this
    file" — the Parquet bloom-filter / Delta stats idea at manifest
    granularity, reusing operators/bloom.py's probe recipe.

    Cost: one distributed aggregation for min/max + one
    groupBy(file).applyInPandas pass folding each file's probe
    positions into a numpy bitmap (bitmap bytes ∝ files ×
    bloom_bits/8, 16 KiB/file at defaults). After appends, prefer
    :func:`update_manifest` — it stats only the NEW files."""
    df = spark.read.parquet(path).withColumn("__file", F.input_file_name())
    man = _manifest_frame(
        df, cols, bloom_cols=bloom_cols, bloom_bits=bloom_bits, bloom_k=bloom_k
    )
    man.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, MANIFEST_DIR)
    )
    return man.count()


def _manifest_frame(
    df,
    cols: list[str],
    *,
    bloom_cols: list[str] | None,
    bloom_bits: int,
    bloom_k: int,
) -> DataFrame:
    """Per-file stats frame for any DataFrame carrying a ``__file``
    column — shared by the full rebuild and the incremental update."""
    import numpy as np
    import pandas as pd

    from skopje_spark.operators.bloom import _bit_positions, fold_positions

    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    man = df.groupBy("__file").agg(*aggs)

    if bloom_cols:
        nbytes = (bloom_bits + 7) // 8
        pos_cols = [
            F.array(
                *_bit_positions(F.col(c), num_bits=bloom_bits, k=bloom_k)
            ).alias(f"__pos_{c}")
            for c in bloom_cols
        ]
        prj = df.select("__file", *pos_cols)
        out_schema = "__file string, " + ", ".join(
            f"bloom_{c} binary" for c in bloom_cols
        )

        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            row = {"__file": [pdf["__file"].iloc[0]]}
            for c in bloom_cols:
                bm = np.zeros(nbytes, dtype=np.uint8)
                for ps in pdf[f"__pos_{c}"]:
                    # single shared fold (operators/bloom.py) — also
                    # NULL-safe: rows with a NULL key contribute no
                    # bits instead of crashing the manifest job
                    fold_positions(bm, ps)
                row[f"bloom_{c}"] = [bm.tobytes()]
            return pd.DataFrame(row)

        blooms = prj.groupBy("__file").applyInPandas(fold, out_schema)
        man = (
            man.join(blooms, "__file")
            .withColumn("__bloom_bits", F.lit(bloom_bits))
            .withColumn("__bloom_k", F.lit(bloom_k))
        )
    return man


def _list_data_files(spark: SparkSession, path: str) -> set[str]:
    """Data-file URIs of the table, in ``input_file_name()`` form
    (``file://`` + absolute path) WITHOUT reading any row data: a
    filesystem listing for local paths — an O(#files) metadata walk,
    which is what keeps :func:`update_manifest` O(new files) in I/O,
    not just in compute. Remote filesystems (a scheme in the path)
    fall back to a distinct-``input_file_name`` scan, trading a full
    file read for portability; hidden/underscore entries (the
    manifest itself, staging dirs, _SUCCESS) are excluded exactly as
    Spark's reader excludes them."""
    if "://" in path:
        df = spark.read.parquet(path).select(
            F.input_file_name().alias("__file")
        )
        return {r["__file"] for r in df.distinct().collect()}
    out: set[str] = set()
    for root, dirs, files in os.walk(os.path.abspath(path)):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.add("file://" + os.path.join(root, f))
    return out


def update_manifest(spark: SparkSession, path: str, cols: list[str]) -> int:
    """Incremental manifest maintenance after appends: stat ONLY data
    files the existing manifest does not cover, union with the old
    rows, and atomically swap the manifest directory — O(new files)
    compute however large the table (the Delta-log property; a full
    :func:`write_manifest` rebuild re-scans everything).

    Column list and bloom geometry are taken FROM the existing
    manifest (its schema + recorded ``__bloom_bits``/``__bloom_k``),
    so an update can never silently change the pruning contract;
    ``cols`` must match the manifest's stat columns (validated).
    Files are keyed by the same ``input_file_name`` URIs the builder
    records, so coverage is exact. Returns files covered after the
    update."""
    import shutil
    import tempfile

    man_path = os.path.join(path, MANIFEST_DIR)
    old = spark.read.parquet(man_path)
    want_stats = {f"min_{c}" for c in cols} | {f"max_{c}" for c in cols}
    have_stats = {c for c in old.columns if c.startswith(("min_", "max_"))}
    if want_stats != have_stats:
        raise ValueError(
            f"update_manifest: cols {sorted(want_stats)} do not match the "
            f"existing manifest's {sorted(have_stats)} — rebuild with "
            f"write_manifest to change stat columns"
        )
    bloom_cols = [c[6:] for c in old.columns if c.startswith("bloom_")]
    if bloom_cols:
        geo = old.select("__bloom_bits", "__bloom_k").first()
        bloom_bits, bloom_k = int(geo["__bloom_bits"]), int(geo["__bloom_k"])
    else:
        bloom_bits, bloom_k = 1 << 17, 5

    covered = {r["__file"] for r in old.select("__file").collect()}
    all_files = _list_data_files(spark, path)
    new_files = sorted(all_files - covered)
    if not new_files:
        return len(covered)

    fresh = _manifest_frame(
        spark.read.parquet(*[f.replace("file://", "") for f in new_files])
        .withColumn("__file", F.input_file_name()),
        cols,
        bloom_cols=bloom_cols or None,
        bloom_bits=bloom_bits,
        bloom_k=bloom_k,
    )
    # eager checkpoint BEFORE the swap: the merged plan reads the old
    # manifest directory, which the swap below replaces — a lazy plan
    # re-executed after the swap would double-read the new manifest
    merged = old.unionByName(fresh).localCheckpoint(eager=True)
    # stage + atomic-ish swap: never read and overwrite the same dir
    tmp = tempfile.mkdtemp(dir=path, prefix="._manifest_new")
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(man_path)
    os.replace(tmp, man_path)
    return merged.count()


def pruned_scan(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
) -> DataFrame:
    """Scan only files whose [min_col, max_col] intersects [lo, hi],
    then re-apply the exact predicate.

    The manifest collect is O(#files) driver-side metadata — the same
    contract as a Delta log read. Returns an empty-but-typed DataFrame
    when nothing survives pruning."""
    man = spark.read.parquet(os.path.join(path, MANIFEST_DIR))
    hits = [
        r["__file"]
        for r in man.filter(
            (F.col(f"min_{col}") <= F.lit(hi)) & (F.col(f"max_{col}") >= F.lit(lo))
        ).collect()
    ]
    pred: Column = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    if not hits:
        return spark.read.parquet(path).filter(pred).limit(0)
    return spark.read.parquet(*hits).filter(pred)


def pruned_point_scan(
    spark: SparkSession,
    path: str,
    col: str,
    value,
) -> DataFrame:
    """Point lookup ``col == value`` scanning only files that can
    contain it: min/max interval check AND, when the manifest carries
    a ``bloom_<col>`` bitmap, a driver-side bloom probe (k sha256
    bits via operators/bloom.bit_positions_py — the exact positions
    the build set). The bloom set is a SUBSET of the min/max
    survivors by construction (both conditions must hold), and the
    exact predicate is re-applied after the scan, so pruning never
    changes results — it only closes the gap where every file's
    [min,max] straddles a high-cardinality point.

    Driver cost: O(#files) manifest rows (bitmap bytes included —
    16 KiB/file at default geometry; trim bloom_bits if manifests
    grow hot), k hash probes per file, no job launched to decide."""
    import numpy as np

    from skopje_spark.operators.bloom import bit_positions_py

    man_df = spark.read.parquet(os.path.join(path, MANIFEST_DIR))
    rows = man_df.filter(
        (F.col(f"min_{col}") <= F.lit(value))
        & (F.col(f"max_{col}") >= F.lit(value))
    ).collect()

    bloom_col = f"bloom_{col}"
    hits = []
    for r in rows:
        if bloom_col in man_df.columns:
            bm = np.frombuffer(bytes(r[bloom_col]), dtype=np.uint8)
            pos = np.asarray(
                bit_positions_py(
                    value, num_bits=int(r["__bloom_bits"]), k=int(r["__bloom_k"])
                ),
                dtype=np.int64,
            )
            if not np.all((bm[pos >> 3] >> (pos & 7)) & 1):
                continue  # definitely absent from this file
        hits.append(r["__file"])

    pred: Column = F.col(col) == F.lit(value)
    if not hits:
        return spark.read.parquet(path).filter(pred).limit(0)
    return spark.read.parquet(*hits).filter(pred)


# ---------------------------------------------------------------------------
# Z-order layout: multi-column locality for min/max skipping
# ---------------------------------------------------------------------------

def column_ranges(df: DataFrame, cols: list[str]) -> list[tuple[int, int]]:
    """Exact (min, max) per column in one aggregation — 2·len(cols)
    numbers on the driver, independent of data size."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
    row = df.agg(*aggs).collect()[0]
    return [(row[f"mn_{c}"], row[f"mx_{c}"]) for c in cols]


def zorder_col(
    cols: list[Column], ranges: list[tuple[int, int]], *, bits: int = 8
) -> Column:
    """Z-value (Morton code): normalize each column to a ``bits``-wide
    integer cell over its [min, max] range, then interleave the bits.
    Rows close in z are close in EVERY clustered dimension, so range-
    partitioning on z gives each output file a narrow min/max box on
    all dimensions at once — the layout single-column clustering can
    only provide for its leading column (Delta/Iceberg ``OPTIMIZE
    ZORDER BY`` is this idea).

    All arithmetic is exact-integer in, IEEE-deterministic floor-div,
    shift/AND out — a DuckDB oracle reproduces the value bit-for-bit.
    Stays entirely inside whole-stage codegen (2·bits shift terms)."""
    scale = (1 << bits) - 1
    cells = []
    for c, (lo, hi) in zip(cols, ranges):
        if lo is None or hi is None:  # all-null column: constant cell 0
            cells.append(F.lit(0).cast("long"))
            continue
        span = max(int(hi) - int(lo), 1)
        cell = F.floor(((c - F.lit(int(lo))) * F.lit(scale)) / F.lit(span)).cast(
            "long"
        )
        cells.append(F.least(F.greatest(cell, F.lit(0)), F.lit(scale)))
    n = len(cells)
    z = F.lit(0).cast("long")
    for j in range(bits):
        for i, cell in enumerate(cells):
            z = z + F.shiftleft(
                F.shiftright(cell, j).bitwiseAND(F.lit(1)), j * n + i
            )
    return z


def write_zordered(
    df: DataFrame, path: str, cols: list[str], *, n_files: int = 16, bits: int = 8
) -> None:
    """Write ``df`` z-ordered on ``cols``: one range shuffle on the
    z-value into ``n_files`` files, sorted within each file so parquet
    row-group stats are tight too. Pair with :func:`write_manifest`
    over the same columns — point/box queries on ANY clustered
    dimension then prune to O(matching) files."""
    ranges = column_ranges(df, cols)
    z = zorder_col([F.col(c) for c in cols], ranges, bits=bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
