"""Loaders for the driver's TPC-H-ish parquet tables (TESTDATA.md).

Every read of an engine input goes through :func:`read_parquet`. A plain
``spark.read.parquet(path)`` infers the schema from the file footers on
every call, and Spark runs that inference as a job (``ParquetUtils.
inferSchema`` → ``mergeSchemasInParallel``, even with
``mergeSchema=false``): one job and 70-100 ms for each load of a table
that has not changed. :func:`read_parquet` infers once per *file stamp*
and hands the schema back to Spark on later reads, so a warm read runs
no job; the data, the file listing and the attribute ids are fresh on
every read, and predicate/column pushdown is unchanged. At 100 TB the
same call works against a partitioned table root; nothing here assumes
single-file layout.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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


#: Session confs that change what parquet schema inference returns for
#: the same files (nanos as long, NTZ timestamps, binary as string, INT96
#: as timestamp, and which footers are merged).
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

#: path → (stamp, inferred schema); see read_parquet.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _stamp(spark: SparkSession, path: str) -> tuple | None:
    """The SparkContext, ``(relative path, st_size, st_mtime_ns)`` of
    every file at ``path``, and the session's inference confs; None for
    a non-local URI or a path that cannot be statted (a glob, a missing
    table), whose schema is never reused."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    local = url.path if url.scheme else path
    try:
        if os.path.isdir(local):
            files = []
            for root, _, names in os.walk(local):
                for n in names:
                    st = os.stat(os.path.join(root, n))
                    rel = os.path.relpath(os.path.join(root, n), local)
                    files.append((rel, st.st_size, st.st_mtime_ns))
            files.sort()
        else:
            st = os.stat(local)
            files = [("", st.st_size, st.st_mtime_ns)]
    except OSError:
        return None
    confs = tuple(spark.conf.get(k, None) for k in _INFER_CONFS)
    return (spark.sparkContext, tuple(files), confs)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per
    stamp (see :func:`_stamp`). A warm call returns
    ``spark.read.schema(schema).parquet(path)``: Spark lists the files
    again and builds a fresh relation, but reads no footer and runs no
    job. A changed stamp re-infers — a restarted session, a file
    rewritten in place, a part file added or removed, a flipped
    inference conf. Non-local or unstattable paths are plain reads, the
    same rule small_scan applies to unknown layouts."""
    stamp = _stamp(spark, path)
    if stamp is None:
        return spark.read.parquet(path)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (stamp, df.schema)
    return df


def load(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to a plain TIMESTAMP (LTZ) column so every
    event-time operator — in particular ``withWatermark``, which rejects
    TIMESTAMP_NTZ — works downstream.

    * every shipped events.parquet stores TIMESTAMP(MICROS,
      isAdjustedToUTC=false), which surfaces as TIMESTAMP_NTZ → cast to
      TIMESTAMP. Value-preserving under the pinned UTC session timezone,
      and collected values stringify identically to the naive oracle's;
    * a TIMESTAMP(NANOS) file read with ``nanosAsLong`` (session.py)
      surfaces as long nanos → truncate to micros with integer DIV (no
      double round-trip — ns epoch values exceed 2^53), matching
      DuckDB's own ns→µs truncation so oracle hashes agree.
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
