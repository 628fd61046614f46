"""Loaders for the driver's TPC-H-ish parquet tables (TESTDATA.md).

All loads are plain ``spark.read.parquet`` — no schema inference cost
(parquet is self-describing) and full predicate/column pushdown. At
100 TB the same call works against a partitioned table root; nothing
here assumes single-file layout.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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

# Small dimension tables that are always broadcast-eligible. At 100 TB the
# facts (lineitem/orders/events) grow; these stay O(thousands) rows.
DIM_TABLES = ("region", "nation", "supplier", "part", "customer")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def fanout(df: DataFrame, *keys: str) -> DataFrame:
    """Scale-adaptive scan parallelism floor for COMPUTE-DENSE inputs
    (optimization guide §6 "input split size" / §2.2).

    A small parquet table is one row group, so Spark gives its scan ONE
    task no matter how many cores exist — and every expression-heavy
    operator fed directly by that scan (per-position gram hashing,
    payload synthesis + decode, per-dim noise transforms, tokenization)
    runs single-threaded until the first exchange. Measured at sf0.1 on
    local[32]: the d20 gram explode alone drops 2.27 s → 0.31 s once the
    5000-row documents scan is spread across the cores (r13 opt round).

    This helper hash-repartitions on ``keys`` (deterministic — no
    round-robin, so task retries are trivially safe; SPARK-38388 class
    issues cannot arise) to ``defaultParallelism`` ONLY when the plan
    currently has fewer partitions than that. At real scale the scan
    already carries thousands of splits, the condition is false, and the
    helper is an identity — it can never add a shuffle of a 100 TB
    input. The moved bytes in the active case are bounded by the small
    input itself.

    Use it ONLY in front of compute-dense work; a plain scan→agg path is
    faster without it (measured: lineitem agg 0.47 s as-is vs 0.70 s
    fanned out — the extra exchange buys nothing there).
    """
    from pyspark.sql import functions as F

    if not small_scan(df):
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *[F.col(k) for k in keys])


def small_scan(df: DataFrame) -> bool:
    """True iff every input file of ``df``'s scan is local AND the
    estimated split count (Spark's own formula: bytes /
    maxPartitionBytes, >= 1 per file) is below defaultParallelism —
    i.e. the scan cannot feed every core. This is fanout()'s decision
    predicate, exposed for other scale-adaptive choices (q108's TABLE-
    arg pruning). Decide from the scan's FILE layout, not from df.rdd:
    converting to an RDD forces a full physical-planning + Python-
    conversion pass (~1 s of DRIVER time per call, measured). Unknown
    layouts (non-local URIs, stat failures, empty file lists) return
    False: never treat a possibly-big table as small. Sizes are statted
    on every call, not memoized: a memo would need the same stat to
    know it is fresh, and a file rewritten in place must be seen.
    """
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return False
    if not files or len(files) >= n:
        return False
    max_bytes = 128 << 20  # spark.sql.files.maxPartitionBytes default
    est = 0
    for f in files:
        if not f.startswith("file:"):
            return False
        path = f[len("file://"):] if f.startswith("file://") else f[len("file:"):]
        try:
            size = os.path.getsize(path)
        except OSError:
            return False
        est += max(1, size // max_bytes)
        if est >= n:
            return False
    return True


def load(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """events.ts is TIMESTAMP(NANOS) in parquet; normalize whatever the
    installed Spark surfaces to a plain TIMESTAMP (LTZ) column so every
    event-time operator — in particular ``withWatermark``, which rejects
    TIMESTAMP_NTZ — works downstream.

    * older readers + ``nanosAsLong``: long nanos → truncate to micros
      with integer DIV (no double round-trip — ns epoch values exceed
      2^53), matching DuckDB's own ns→µs truncation so oracle hashes
      agree;
    * Spark 4.1+: the nanos column surfaces as TIMESTAMP_NTZ → cast to
      TIMESTAMP. Value-preserving under the pinned UTC session timezone,
      and collected values stringify identically to the naive oracle's.
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {t: load(spark, t, sf_dir) for t in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so the SQL surface works."""
    for t in TABLE_NAMES:
        load(spark, t, sf_dir).createOrReplaceTempView(t)
