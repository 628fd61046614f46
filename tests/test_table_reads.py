"""tables.read_parquet — the one seam every engine-input read goes through.

Contract under test (see tables.py):
* a warm read reuses the inferred schema and runs NO Spark job, while
  the cold read (the control) runs the footer-inference job;
* every read is a fresh relation: two loads of one table self-join;
* the schema is re-inferred when the file stamp changes — a file
  rewritten in place (also at the same size), a part file added or
  removed, a flipped inference conf;
* a non-local URI or an unstattable path is a plain
  ``spark.read.parquet`` call.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from oxi_diel_db_spark import tables
from oxi_diel_db_spark.session import conf_scope
from oxi_diel_db_spark.sources.materials import MATERIALS_PARQUET
from tests.conftest import SF_DIR


@contextmanager
def job_group(spark, name):
    """Run the block in its own job group; yields a callable returning
    the ids of the jobs the group has run so far."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield lambda: list(sc.statusTracker().getJobIdsForGroup(name))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _outcome(read):
    """The schema a read resolves to, or the error condition it raises."""
    try:
        return read().schema
    except AnalysisException as e:
        return e.getCondition()


@pytest.mark.parametrize("uri", [lambda p: p, lambda p: f"file://{p}"], ids=["path", "file-uri"])
def test_warm_load_runs_no_job(spark, tmp_path, uri):
    shutil.copy(f"{SF_DIR}/nation.parquet", tmp_path / "nation.parquet")
    sf = uri(str(tmp_path))
    with job_group(spark, f"cold-{tmp_path.name}") as jobs:
        cold = tables.load(spark, "nation", sf)
        cold_jobs = jobs()
    with job_group(spark, f"warm-{tmp_path.name}") as jobs:
        warm = tables.load(spark, "nation", sf)
        warm_jobs = jobs()
    assert cold_jobs, "control: the cold load must run the inference job"
    assert warm_jobs == []
    assert warm.schema == cold.schema
    assert sorted(warm.collect()) == sorted(cold.collect())


def test_two_loads_self_join(spark):
    """Each read is a fresh relation with its own attribute ids, so two
    loads of one table join like two plain reads do."""

    def pairs(a, b):
        return sorted(
            a.alias("a")
            .join(b.alias("b"), F.col("a.n_regionkey") == F.col("b.n_regionkey"))
            .where(F.col("a.n_nationkey") < F.col("b.n_nationkey"))
            .select("a.n_nationkey", "b.n_nationkey")
            .collect()
        )

    path = f"{SF_DIR}/nation.parquet"
    tables.load(spark, "nation", SF_DIR)  # warm the schema
    got = pairs(tables.load(spark, "nation", SF_DIR), tables.load(spark, "nation", SF_DIR))
    want = pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert want and got == want


def _write_nation(path, **extra):
    t = pq.read_table(f"{SF_DIR}/nation.parquet")
    for name, values in extra.items():
        t = t.append_column(name, values(t.num_rows))
    pq.write_table(t, path)


def test_file_rewritten_in_place_with_extra_column_is_seen(spark, tmp_path):
    p = tmp_path / "nation.parquet"
    _write_nation(p)
    assert "n_extra" not in tables.load(spark, "nation", str(tmp_path)).columns
    _write_nation(p, n_extra=lambda n: pa.array(range(n), pa.int64()))
    got = tables.load(spark, "nation", str(tmp_path))
    assert got.columns[-1] == "n_extra"
    assert sorted(r.n_extra for r in got.collect()) == list(range(got.count()))


def test_same_size_rewrite_is_seen(spark, tmp_path):
    """A rewrite that keeps the byte size (one column renamed to a name
    of the same length) is caught by the mtime alone."""
    p = tmp_path / "nation.parquet"
    # no pandas metadata: it spells the column names out a second time
    t = pq.read_table(f"{SF_DIR}/nation.parquet").replace_schema_metadata(None)
    pq.write_table(t, p)
    assert "n_name" in tables.load(spark, "nation", str(tmp_path)).columns
    before = os.stat(p)
    pq.write_table(t.rename_columns(["n_nationkey", "n_nick", "n_regionkey"]), p)
    # pin a later mtime: a coarse-clock filesystem may repeat the old one
    later = before.st_mtime_ns + 10**9
    os.utime(p, ns=(later, later))
    assert os.stat(p).st_size == before.st_size, "precondition: same size"
    got = tables.load(spark, "nation", str(tmp_path))
    assert got.columns == ["n_nationkey", "n_nick", "n_regionkey"]


def test_part_file_added_and_removed_is_seen(spark, tmp_path):
    table = tmp_path / "materials.parquet"
    shutil.copytree(MATERIALS_PARQUET, table)
    part = next(f for f in sorted(os.listdir(table)) if f.endswith(".parquet"))
    n = tables.read_parquet(spark, str(table)).count()

    extra = table / f"part-99999-copy{part[len('part-00000'):]}"
    shutil.copy(table / part, extra)
    with job_group(spark, "added-part") as jobs:
        grown = tables.read_parquet(spark, str(table))
        assert jobs(), "an added part file must re-infer"
    assert grown.count() == 2 * n

    os.remove(extra)
    with job_group(spark, "removed-part") as jobs:
        shrunk = tables.read_parquet(spark, str(table))
        assert jobs(), "a removed part file must re-infer"
    assert shrunk.count() == n


def test_nanos_as_long_flip_changes_events_ts(spark, tmp_path):
    """events.ts stored as TIMESTAMP(NANOS): with nanosAsLong it reads as
    long nanos, which load turns into the same microsecond timestamps as
    the stored-as-micros table; without it Spark rejects the column —
    and load must follow the flip both ways, as a plain read does."""
    t = pq.read_table(f"{SF_DIR}/events.parquet")
    t = t.set_column(1, "ts", t.column("ts").cast(pa.timestamp("ns")))
    p = str(tmp_path / "events.parquet")
    pq.write_table(t, p)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    want = sorted(tables.load(spark, "events", SF_DIR).select("event_id", "ts").collect())
    for flag in ("true", "false", "true"):
        with conf_scope(spark, {key: flag}):
            assert _outcome(lambda: tables.read_parquet(spark, p)) == _outcome(
                lambda: spark.read.parquet(p)
            )
            if flag == "true":
                ev = tables.load(spark, "events", str(tmp_path))
                assert tables.read_parquet(spark, p).schema["ts"].dataType.typeName() == "long"
                assert dict(ev.dtypes)["ts"] == "timestamp"
                assert sorted(ev.select("event_id", "ts").collect()) == want
            else:
                with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
                    tables.load(spark, "events", str(tmp_path))


def _binary_file(path):
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), path)


def _int96_file(path):
    t = pa.table({"ts": pa.array([0, 10**15], pa.timestamp("us"))})
    pq.write_table(t, path, use_deprecated_int96_timestamps=True)


def _two_schemas_dir(path):
    os.makedirs(path)
    pq.write_table(pa.table({"a": [1]}), os.path.join(path, "part-0.parquet"))
    pq.write_table(pa.table({"a": [2], "b": [3]}), os.path.join(path, "part-1.parquet"))


@pytest.mark.parametrize(
    "key, values, write",
    [
        ("spark.sql.parquet.inferTimestampNTZ.enabled", ("true", "false"), None),
        ("spark.sql.parquet.binaryAsString", ("false", "true"), _binary_file),
        ("spark.sql.parquet.int96AsTimestamp", ("true", "false"), _int96_file),
        ("spark.sql.parquet.mergeSchema", ("false", "true"), _two_schemas_dir),
    ],
    ids=["ntz", "binary", "int96", "merge"],
)
def test_inference_conf_flip_reinfers(spark, tmp_path, key, values, write):
    """Every conf that changes what inference returns is in the stamp:
    the seam resolves to what a plain read resolves to under each value
    (the plain reads must differ, or the case shows nothing)."""
    if write is None:
        p = f"{SF_DIR}/events.parquet"
    else:
        p = str(tmp_path / "t.parquet")
        write(p)
    seen = []
    for v in (*values, values[0]):
        with conf_scope(spark, {key: v}):
            got = _outcome(lambda: tables.read_parquet(spark, p))
            want = _outcome(lambda: spark.read.parquet(p))
        assert got == want, (v, got, want)
        seen.append(want)
    assert seen[0] != seen[1]


class _PlainReader:
    def __init__(self):
        self.calls = []

    def parquet(self, path):
        self.calls.append(path)
        return path

    def schema(self, schema):
        raise AssertionError("an unstattable path must not reuse a schema")


class _SessionStub:
    """Only ``read`` works: a pass-through must reach neither the
    SparkContext nor the session's confs."""

    def __init__(self):
        self.read = _PlainReader()


@pytest.mark.parametrize(
    "path",
    [
        "s3a://bucket/warehouse/nation.parquet",
        "hdfs://namenode:8020/tpch/lineitem.parquet",
        "gs://bucket/events.parquet",
        "/no/such/dir/nation.parquet",
        f"{SF_DIR}/events.parquet*",
    ],
)
def test_unstattable_path_is_a_plain_read(path):
    stub = _SessionStub()
    assert tables.read_parquet(stub, path) == path
    assert tables.read_parquet(stub, path) == path
    assert stub.read.calls == [path, path]
    assert path not in tables._SCHEMAS
