"""Fixture table loaders.

All engine demo queries read the driver-generated parquet tables
(``TESTDATA.md``): TPC-H-ish star schema + ``events`` (stream shape) +
``documents``/``embeddings`` (LLM-data shape).

Scale note: ``spark.read.parquet`` is the scan operator; predicate
pushdown and column pruning reach the parquet reader automatically when
queries express filters/projections declaratively (verify via
``.explain`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy parquet scan).

    The events table's ``ts`` column has shipped in two physical
    shapes across fixture generations, both normalized here to a plain
    session-tz TIMESTAMP so every downstream query sees one type:

    - TIMESTAMP(NANOS): Spark only reads it via the nanosAsLong
      legacy mode; the fixture's nanos are whole microseconds, so
      integer division to a real timestamp is lossless (and matches
      DuckDB's native ns→µs read).
    - timestamp[us] with isAdjustedToUTC=false: Spark infers
      TIMESTAMP_NTZ, which many timestamp ops (cast to numeric,
      window intervals vs literals) won't accept; casting NTZ →
      TIMESTAMP keeps the wall-clock value under the UTC session
      zone, exactly how DuckDB reads the same file.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        return _normalize_events_ts(df)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Both physical ts shapes (see load_table docstring) → TIMESTAMP."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as a STREAMING DataFrame: the same parquet
    file read through the Structured Streaming file source (the path
    is treated as a glob), with the identical ts normalization as the
    batch loader — so batch and streaming plans over events are
    drop-in exchangeable."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    # the streaming file source requires a DIRECTORY base path; point
    # it at sf_dir and restrict the listing to the events file
    return _normalize_events_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def ensure_parallelism(df: DataFrame, min_partitions: int = 32) -> DataFrame:
    """Repartition iff the input is worth spreading and the scan
    produced fewer partitions than cores.

    Small dimension files (documents/embeddings fixtures are a few MB)
    arrive as a single input partition, which serializes CPU-heavy
    per-row operators (shingling, hashing, vector math) onto one task.
    A round-robin repartition of a few MB costs nothing and unlocks
    full-core parallelism. At 100 TB inputs span thousands of files and
    this is a no-op (getNumPartitions is metadata-only, no job).

    An input whose planner size estimate is below the session's AQE
    ``coalescePartitions.minPartitionSize`` floor is returned as is: it
    holds no per-row CPU worth spreading, and the round-robin would
    add a shuffle (and a job) to every request over it — a probe batch
    of a few documents is the case. When the estimate is unknown (an
    RDD-backed frame reports Long.MaxValue) or unavailable, the
    partition-count rule above decides.
    """
    spark = df.sparkSession
    try:
        floor = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
        )
        if int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()) < floor:
            return df
    except Exception:  # estimate unavailable: fall through
        pass
    if df.rdd.getNumPartitions() < min_partitions:
        return df.repartition(min_partitions)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql paths)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
