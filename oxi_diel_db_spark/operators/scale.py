"""Scale-posture operators (SURVEY.md §4.2, §7 step 7): skew-salted
join and bucketed co-located join — the two techniques that decide
whether a 100 TB join finishes.

Salting: a hot key (one user with 10% of events, one null-heavy dim
key) lands its entire partition on one reducer in a hash join. The
salted recipe splits the hot side's keys into ``salt_buckets``
sub-keys and replicates the small side per sub-key: the shuffle then
spreads the hot key over ``salt_buckets`` reducers. AQE's skew-join
handles *detected* skew in sort-merge joins; explicit salting is the
deterministic fallback and works for aggregations too.

Bucketing: two facts bucketed by the same key into the same bucket
count join with ZERO shuffle — each task reads bucket i of both sides.
At 100 TB that's the difference between an hour of network and none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join robust to skew on ``key`` in ``big``.

    big gets a random-but-deterministic salt (hash of the full row's
    key + a per-row component via monotonically varying id is NOT
    deterministic — use pmod(hash(key, secondary)) so re-runs agree);
    small is replicated once per salt value (|small| × salt_buckets
    rows — keep small actually small).
    """
    salted_big = big.withColumn(
        "__salt",
        F.pmod(F.hash(F.col(key), F.spark_partition_id()), F.lit(salt_buckets)),
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))).alias("__salt")
    replicated_small = small.select("*", salts)
    out = salted_big.join(replicated_small, [key, "__salt"], how)
    return out.drop("__salt")


def salted_count(big: DataFrame, key: str, salt_buckets: int = 32) -> DataFrame:
    """Two-phase skew-proof aggregation: partial count per (key, salt)
    then final per key. Map-side combine already does this for simple
    aggs — the explicit form matters for high-cardinality state like
    collect_list, where one hot key would OOM a single reducer."""
    return (
        big.withColumn("__salt", F.pmod(F.hash(F.rand(seed=42)), F.lit(salt_buckets)))
        .groupBy(key, "__salt")
        .agg(F.count(F.lit(1)).alias("__partial"))
        .groupBy(key)
        .agg(F.sum("__partial").alias("n"))
    )


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int = 16, sort_by: str | None = None
) -> None:
    """Persist a fact bucketed (and optionally sorted) by its join key.
    Later joins/aggs on ``key`` between tables bucketed with the same
    count need no Exchange (verified in tests/test_scale.py)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a previous session may have left the managed location behind
    # (catalog metadata is per-session; the directory is not)
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
    w = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort_by:
        w = w.sortBy(sort_by)
    w.format("parquet").saveAsTable(table)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, key: str) -> DataFrame:
    """Join two co-bucketed tables — planner elides both shuffles."""
    return spark.table(left_table).join(spark.table(right_table), key)


def compact_parquet(
    spark: SparkSession, path: str, target_file_mb: int = 128
) -> int:
    """Small-files compaction — the maintenance job every long-lived
    100 TB table needs (streaming sinks and fine-grained partitions
    accrete kilobyte files; each costs a task + a footer read).

    Reads the dataset, coalesces to ceil(bytes / target) files, and
    rewrites with a rename-aside swap: the old dir is renamed out of the
    way (atomic on the same filesystem), the new data renamed in, THEN
    the old data deleted — a crash between steps leaves either the old
    or the new complete dataset recoverable, never neither (ADVICE r1:
    rmtree-then-rename lost the canonical path on a crash between the
    two). Temp dirs live beside ``path``, so the renames stay on one
    filesystem (os.rename cannot cross filesystems). Returns the new
    file count.
    """
    import math
    import os
    import shutil

    df = spark.read.parquet(path)
    size = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(size / (target_file_mb * 1024 * 1024)))
    base = path.rstrip("/")
    tmp = base + ".__compact_tmp"
    old = base + ".__compact_old"
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    os.rename(base, old)  # crash here: data intact under .__compact_old
    os.rename(tmp, base)  # crash here: new data live, old recoverable
    shutil.rmtree(old)
    return n_files


def zvalue(cols: list, n_bits: int = 16):
    """Morton/Z-order value: interleave the low ``n_bits`` bits of each
    (non-negative integer) column. Rows close in Z-value are close in
    EVERY interleaved dimension, so sorting a table by it clusters all
    the dimensions at once — parquet row-group min/max stats then prune
    scans on ANY of the columns, not just the leading sort key. That is
    the layout lever for a 100 TB fact queried by several independent
    predicates (date AND part AND supplier) where a single-column sort
    helps only one of them.

    Pure JVM bit arithmetic (shift/and/or — whole-stage codegen), no
    UDF; bits above ``n_bits`` are ignored (deterministically) rather
    than erroring."""
    n = len(cols)
    terms = []
    for j, c in enumerate(cols):
        cc = (F.col(c) if isinstance(c, str) else c).cast("long")
        for i in range(n_bits):
            terms.append(
                F.shiftleft(F.shiftright(cc, i).bitwiseAND(F.lit(1)), i * n + j)
            )
    out = terms[0]
    for term in terms[1:]:
        out = out + term
    return out


def sql_zvalue(cols: list[str], n_bits: int = 16) -> str:
    """ANSI-SQL twin of :func:`zvalue` (same bit expression, same
    evaluation — integer math, so bit-identical across engines)."""
    n = len(cols)
    terms = [
        f"((({c} >> {i}) & 1) << {i * n + j})"
        for j, c in enumerate(cols)
        for i in range(n_bits)
    ]
    return "(" + " + ".join(terms) + ")"


def zorder_repartition(
    df: DataFrame, cols: list[str], n_bits: int = 16, num_files: int = 32
) -> DataFrame:
    """Lay a DataFrame out in Z-order: range-partition on the Z-value
    (contiguous Z-ranges per output file) and sort within partitions.
    Write the result with ``.write.parquet(...)`` — every output file
    then covers a tight hyper-rectangle of the interleaved columns and
    row-group stats prune on each of them. The range boundaries come
    from Spark's reservoir sampling (one extra pass over the Z column
    only)."""
    z = zvalue(cols, n_bits)
    return (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def merge_upsert_partitioned(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key: str,
    part_col: str,
) -> None:
    """MERGE (SCD1 upsert) into a partitioned parquet table with
    DYNAMIC partition overwrite — the incremental-ingest primitive of a
    100 TB platform without a table format: matched keys are replaced
    by the update row, unmatched update keys are inserted, and ONLY the
    partitions an update touches are rewritten.

    Shape: semi-join the target down to touched partitions (the
    partition list broadcasts), full-outer-join those rows with the
    updates on the key, coalesce update-wins, and overwrite with
    ``partitionOverwriteMode=dynamic`` so untouched partitions' files
    are never read or written. Work scales with the update set + its
    partitions, not the table. Updates must carry full rows (SCD1
    replacement), including ``part_col``; a row whose update moves it
    across partitions is handled (both old and new partitions are
    touched, the key appears once, in the new partition).

    Drained partitions: dynamic overwrite only rewrites partitions
    PRESENT in the merged output, so a move that drains the last row
    out of a source partition would leave that partition's old files
    behind (and the key would exist twice). After the write we diff
    ``touched`` against the partitions actually written and delete the
    drained directories through the Hadoop FS API (works on local FS,
    HDFS, and object stores alike). Partition values are assumed
    path-safe (ints / dates / plain strings — the usual partition-key
    hygiene at scale).
    """
    target = spark.read.parquet(target_path)
    cols = target.columns
    # partitions touched by an update: the update's own partition, plus
    # (for cross-partition moves) wherever the key currently lives
    touched = (
        updates.select(part_col)
        .unionByName(
            target.join(
                F.broadcast(updates.select(key)), key, "left_semi"
            ).select(part_col)
        )
        .distinct()
    )
    t_sub = target.join(F.broadcast(touched), part_col, "left_semi")
    u = updates.select(cols)
    merged = (
        t_sub.alias("t")
        .join(u.alias("u"), F.col(f"t.{key}") == F.col(f"u.{key}"), "full_outer")
        .select(
            *[
                F.coalesce(F.col(f"u.{c}"), F.col(f"t.{c}")).alias(c)
                for c in cols
            ]
        )
    )
    # materialize before the write: Spark (rightly) refuses to overwrite
    # a path its own plan is reading; the checkpoint breaks the
    # dependency AND bounds the read-side work before any file is
    # replaced (on a cluster, reliable checkpoint() or a staging dir)
    merged = merged.localCheckpoint(eager=True)
    # materialize the touched-partition list BEFORE the overwrite: its
    # lineage reads target_path, which the write replaces. Bounded
    # collect — it's the partition list, not data.
    touched_vals = [r[0] for r in touched.collect()]
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(target_path)
    )
    # drained partitions (touched but absent from the merged output):
    # dynamic overwrite never visited them, so their stale files must go.
    # merged is checkpointed, so this scans the checkpoint, not the
    # rewritten path.
    present = {
        r[0] for r in merged.select(part_col).distinct().collect()
    }
    drained = [v for v in touched_vals if v not in present]
    if drained:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        for v in drained:
            p = jvm.org.apache.hadoop.fs.Path(f"{target_path}/{part_col}={v}")
            fs = p.getFileSystem(hconf)
            fs.delete(p, True)


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level snapshot diff (the reconciliation primitive behind
    CDC validation, migration sign-off, and replica drift checks):
    FULL OUTER join on the key, null-safe column compare, one output
    row per non-identical key — (keys…, status ∈ added|removed|changed,
    changed_cols array). Identical rows are dropped (the 100 TB
    posture: diff output is O(churn), never O(table); the join itself
    is the one shuffle, on the key both tables should already be
    bucketed by).

    Null-safe semantics: a column changing NULL→value or value→NULL is
    a change; NULL==NULL is not (eqNullSafe / IS DISTINCT FROM in the
    SQL twin)."""
    if compare_cols is None:
        compare_cols = [c for c in old.columns if c not in key_cols]
    o = old.select(
        *[F.col(k).alias(f"__k_{k}") for k in key_cols],
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in key_cols],
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
        F.lit(True).alias("__in_new"),
    )
    cond = None
    for k in key_cols:
        c = F.col(f"__k_{k}") == F.col(f"__nk_{k}")
        cond = c if cond is None else (cond & c)
    j = o.join(n, cond, "full_outer")
    changed_cols = F.array_compact(
        F.array(
            *[
                F.when(
                    ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}")), F.lit(c)
                )
                for c in compare_cols
            ]
        )
    )
    status = (
        F.when(F.col("__in_old").isNull(), "added")
        .when(F.col("__in_new").isNull(), "removed")
        .when(F.size(changed_cols) > 0, "changed")
    )
    return (
        j.select(
            *[
                F.coalesce(F.col(f"__k_{k}"), F.col(f"__nk_{k}")).alias(k)
                for k in key_cols
            ],
            status.alias("status"),
            F.when(status == "changed", changed_cols)
            .otherwise(F.array().cast("array<string>"))
            .alias("changed_cols"),
        )
        .filter(F.col("status").isNotNull())
    )
