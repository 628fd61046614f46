"""tables.fanout — the r13 optimization round's scan-parallelism floor.

Contract under test (see tables.py docstring):
* ACTIVE case: a small parquet scan (one row group → one task) feeding
  compute-dense work is hash-repartitioned on the given keys to
  defaultParallelism — values unchanged, partition count raised;
* IDENTITY cases: enough input splits already (estimated from file
  sizes the way Spark sizes scan splits), or a non-file-backed plan
  (inputFiles() empty/unavailable) → the DataFrame is returned AS-IS
  (same object), so fanout can never add a shuffle at real scale;
* the added exchange is REPARTITION_BY_COL (deterministic hash keys,
  retry-safe), never round-robin.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from oxi_diel_db_spark import tables
from tests.conftest import SF_DIR


def test_fanout_active_on_single_split_scan(spark):
    docs = tables.load(spark, "documents", SF_DIR)
    n = spark.sparkContext.defaultParallelism
    out = tables.fanout(docs, "doc_id")
    # sf0.001 documents is a single small file -> must spread
    assert out is not docs
    assert out.rdd.getNumPartitions() == n
    # deterministic hash partitioning, not round-robin
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "REPARTITION_BY_COL" in plan or "hashpartitioning" in plan
    assert "roundrobin" not in plan.lower()


def test_fanout_values_unchanged(spark):
    docs = tables.load(spark, "documents", SF_DIR).select("doc_id", "text")
    a = sorted(r.doc_id for r in docs.collect())
    b = sorted(r.doc_id for r in tables.fanout(docs, "doc_id").collect())
    assert a == b


def test_fanout_identity_on_non_file_plan(spark):
    df = spark.range(10).select(F.col("id").alias("doc_id"))
    # range() has no input files -> identity (same object back)
    assert tables.fanout(df, "doc_id") is df


def test_fanout_identity_when_splits_cover_cores(spark, tmp_path):
    # Write >= defaultParallelism files so the split estimate covers
    # the cores — the helper must NOT add an exchange at "real scale".
    n = spark.sparkContext.defaultParallelism
    p = os.path.join(str(tmp_path), "many")
    spark.range(n * 4).repartition(n).write.parquet(p)
    df = spark.read.parquet(p)
    assert len(df.inputFiles()) >= n
    assert tables.fanout(df, "id") is df


def test_small_scan_predicate(spark, tmp_path):
    # small_scan is fanout's decision predicate, exposed for other
    # scale-adaptive choices (q108's TABLE-arg pruning).
    docs = tables.load(spark, "documents", SF_DIR)
    assert tables.small_scan(docs) is True
    assert tables.small_scan(docs) is True  # repeat call, same answer
    # non-file-backed plan: never "small" (unknown must read as big)
    assert tables.small_scan(spark.range(5)) is False
    # enough splits to cover the cores: not small
    n = spark.sparkContext.defaultParallelism
    p = os.path.join(str(tmp_path), "many2")
    spark.range(n * 4).repartition(n).write.parquet(p)
    assert tables.small_scan(spark.read.parquet(p)) is False
    # fanout follows the predicate: identity at scale, active on the
    # small scan (same asserts as the r13 tests above)
    big = spark.read.parquet(p)
    assert tables.fanout(big, "id") is big
    assert tables.fanout(docs, "doc_id") is not docs


def test_small_scan_sees_file_rewritten_in_place(spark, tmp_path):
    """A file rewritten at the same path with a different size changes
    the decision: nothing may serve the size seen by an earlier call.
    The rewrite extends the file sparsely past the split threshold, so
    the test writes no real gigabytes; the DataFrame built before the
    rewrite keeps its file listing, as a plan built earlier would."""
    p = os.path.join(str(tmp_path), "one")
    spark.range(10).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    assert tables.small_scan(df) is True
    (f,) = [f for f in os.listdir(p) if f.endswith(".parquet")]
    n = spark.sparkContext.defaultParallelism
    os.truncate(os.path.join(p, f), n * (128 << 20))
    assert tables.small_scan(df) is False
