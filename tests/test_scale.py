"""Scale-posture operators: salted join correctness + skew spreading,
bucketed join shuffle elision."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from oxi_diel_db_spark.operators import scale


def _executed(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_salted_join_matches_plain_join(spark):
    big = spark.range(0, 10000).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("v")
    )
    small = spark.createDataFrame(
        [(i, f"name{i}") for i in range(5)], "k long, name string"
    )
    plain = (
        big.join(small, "k")
        .groupBy("k", "name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    salted = (
        scale.salted_join(big, small, "k", salt_buckets=8)
        .groupBy("k", "name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, "a"), (99, "b")], "k long, v string")
    small = spark.createDataFrame([(1, "one")], "k long, name string")
    rows = {
        r["k"]: r["name"]
        for r in scale.salted_join(big, small, "k", 4, how="left").collect()
    }
    assert rows == {1: "one", 99: None}


def test_salted_count_matches_plain(spark, sf_dir):
    from oxi_diel_db_spark.tables import load

    ev = load(spark, "events", sf_dir)
    plain = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {
        r["event_type"]: r["n"]
        for r in scale.salted_count(ev, "event_type").collect()
    }
    assert salted == plain


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    # force the fact-fact strategy (sort-merge) that a 100 TB join would
    # use — tiny test tables would otherwise broadcast
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        scale.write_bucketed(
            o.withColumnRenamed("o_orderkey", "orderkey"), "t_orders_b", "orderkey", 8
        )
        scale.write_bucketed(
            l.withColumnRenamed("l_orderkey", "orderkey"), "t_lineitem_b", "orderkey", 8
        )
        joined = scale.bucketed_join(spark, "t_orders_b", "t_lineitem_b", "orderkey")
        agg = joined.groupBy("orderkey").agg(F.count(F.lit(1)).alias("n"))
        plan = _executed(agg)
        # co-bucketed: the join and the agg on the same key need NO
        # shuffle (a BroadcastExchange would also be absent with SMJ)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        plain = (
            o.join(l, o.o_orderkey == l.l_orderkey)
            .groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert agg.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_poscar_source_roundtrip(spark, tmp_path):
    from oxi_diel_db_spark.sources.poscar import read_poscar

    poscar = """Ca2SnO4 test
1.0
5.0 0.0 0.0
0.0 6.0 0.0
0.0 0.0 7.0
Ca Sn O
2 1 4
Direct
0.0 0.0 0.0
0.5 0.5 0.5
0.25 0.25 0.25
0.1 0.0 0.0
0.0 0.1 0.0
0.0 0.0 0.1
0.2 0.3 0.4
"""
    p = tmp_path / "POSCAR"
    p.write_text(poscar)
    df = read_poscar(spark, str(p))
    rows = df.orderBy("site_idx").collect()
    assert len(rows) == 7
    assert [r["element"] for r in rows] == ["Ca", "Ca", "Sn", "O", "O", "O", "O"]
    # fractional 0.5,0.5,0.5 in a 5/6/7 diagonal lattice → cart 2.5,3,3.5
    assert (rows[1]["cart_x"], rows[1]["cart_y"], rows[1]["cart_z"]) == (2.5, 3.0, 3.5)


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """DPP (SURVEY §4.2): a partitioned fact joined through a filtered
    dim must scan only the partitions the dim selects — the pruning
    shows up as a dynamicpruning subquery on the partition column."""
    out = str(tmp_path / "orders_part")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    o.write.partitionBy("o_orderstatus").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("F", "finished")], "o_orderstatus string, label string"
    )
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    joined = fact.join(dim, "o_orderstatus").groupBy("label").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    joined.collect()
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [isnotnull(o_orderstatus" in plan, plan[:2000]


def test_aqe_splits_skewed_join(spark):
    """AQE skew handling (SURVEY §4.2): a hot key that dwarfs every
    other partition must be split at runtime — the sort-merge join node
    reports skew=true in the final adaptive plan."""
    import pyspark.sql.functions as F

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    # the downstream agg does not need the join's partitioning, but AQE
    # is conservative about adding shuffles — force lets it split anyway
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    try:
        # 95% of left rows share key 0; right side uniform
        left = spark.range(0, 400000).select(
            F.when(F.col("id") % 20 != 0, 0).otherwise(F.col("id") % 100).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 100).select(
            F.col("id").alias("k"), F.lit("x").alias("tag")
        )
        joined = left.join(right, "k").groupBy("tag").agg(F.sum("v").alias("s"))
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        for c in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.forceOptimizeSkewedJoin",
        ):
            spark.conf.unset(c)


def test_merge_upsert_semantics(spark):
    from oxi_diel_db_spark.operators.merge import merge_delete, merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, name string, v double"
    )
    source = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k long, name string, v double"
    )
    merged = {r["k"]: (r["name"], r["v"]) for r in merge_upsert(target, source, "k").collect()}
    assert merged == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}
    deleted = {r["k"] for r in merge_delete(
        target, spark.createDataFrame([(1,)], "k long"), "k").collect()}
    assert deleted == {2, 3}


def test_scd2_intervals_chain(spark):
    import datetime as dt

    from oxi_diel_db_spark.operators.merge import scd2_intervals

    t0 = dt.datetime(2024, 1, 1)
    versions = spark.createDataFrame(
        [(1, t0, "v1"), (1, t0 + dt.timedelta(days=3), "v2"), (2, t0, "x")],
        "k long, ts timestamp, state string",
    )
    rows = {(r["k"], r["state"]): r for r in
            scd2_intervals(versions, "k", "ts").collect()}
    assert rows[(1, "v1")]["valid_to"] == t0 + dt.timedelta(days=3)
    assert not rows[(1, "v1")]["is_current"]
    assert rows[(1, "v2")]["valid_to"] is None and rows[(1, "v2")]["is_current"]
    assert rows[(2, "x")]["is_current"]


def test_compact_parquet_reduces_file_count(spark, sf_dir, tmp_path):
    import glob

    out = str(tmp_path / "fragmented")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    o.repartition(64).write.parquet(out)  # simulate small-files accretion
    before = len(glob.glob(f"{out}/*.parquet"))
    assert before >= 32
    n = scale.compact_parquet(spark, out, target_file_mb=128)
    after = len(glob.glob(f"{out}/*.parquet"))
    assert after == n <= 2
    assert spark.read.parquet(out).count() == o.count()


def test_cbo_statistics_feed_plans(spark, sf_dir):
    """ANALYZE TABLE statistics reach the optimizer: rowCount appears in
    the optimized plan's stats once computed (CBO input, SURVEY §4.2
    join-reordering row)."""
    spark.conf.set("spark.sql.cbo.enabled", "true")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    scale.write_bucketed(o, "t_orders_stats", "o_orderkey", 4)
    spark.sql("ANALYZE TABLE t_orders_stats COMPUTE STATISTICS")
    stats = (
        spark.table("t_orders_stats")
        ._jdf.queryExecution()
        .optimizedPlan()
        .stats()
        .toString()
    )
    assert "rowCount" in stats, stats


def test_poscar_python_datasource(spark, tmp_path):
    """The DataSource-API form must agree with the mapInPandas reader."""
    from oxi_diel_db_spark.sources import poscar as P

    text = """Ca2SnO4 test
1.0
  5.0 0.0 0.0
  0.0 5.0 0.0
  0.0 0.0 6.0
Ca Sn O
2 1 4
Direct
  0.0 0.0 0.0
  0.5 0.5 0.0
  0.5 0.0 0.5
  0.1 0.2 0.3
  0.9 0.8 0.7
  0.25 0.75 0.5
  0.75 0.25 0.5
"""
    d = tmp_path / "poscars"
    d.mkdir()
    (d / "POSCAR_a").write_text(text)
    (d / "POSCAR_b").write_text(text)
    P.register_poscar_source(spark)
    df = spark.read.format("poscar").load(str(d))
    rows = df.collect()
    assert len(rows) == 14  # 7 sites x 2 files
    assert {r["source_file"].split("/")[-1] for r in rows} == {"POSCAR_a", "POSCAR_b"}
    base = P.read_poscar(spark, str(d / "POSCAR_a")).collect()
    got = sorted(
        (r["element"], r["site_idx"], r["cart_x"]) for r in rows
        if r["source_file"].endswith("POSCAR_a")
    )
    want = sorted((r["element"], r["site_idx"], r["cart_x"]) for r in base)
    assert got == want


def test_zvalue_interleaves_bits(spark):
    """z(0b101, 0b011) with 3 bits -> col0 bits at even positions, col1
    at odd: bit pairs (lsb first) 1,1 | 0,1 | 1,0 -> 0b011011 = 27
    (hand-computed Morton)."""
    row = (
        spark.range(1)
        .select(
            scale.zvalue([F.lit(0b101), F.lit(0b011)], 3).alias("z"),
        )
        .collect()[0]
    )
    assert row.z == 0b011011


def test_zorder_layout_tightens_file_stats(spark, sf_dir, tmp_path):
    """The pruning proof: each z-ordered file covers a small
    (partkey x suppkey) rectangle, the natural layout's files cover
    nearly the full domain. Total rectangle area (the volume a scan
    with predicates on EITHER column cannot prune) must shrink by >2x;
    in practice it is >10x."""
    import pyarrow.parquet as pq

    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_suppkey"
    )
    plain, zed = str(tmp_path / "plain"), str(tmp_path / "zorder")
    l.repartition(8).write.parquet(plain)
    scale.zorder_repartition(l, ["l_partkey", "l_suppkey"], n_bits=11, num_files=8).write.parquet(zed)

    def area(path: str) -> int:
        total = 0
        import os

        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            for rg in range(md.num_row_groups):
                stats = {
                    md.row_group(rg).column(i).path_in_schema: md.row_group(rg)
                    .column(i)
                    .statistics
                    for i in range(md.row_group(rg).num_columns)
                }
                p, s = stats["l_partkey"], stats["l_suppkey"]
                total += (p.max - p.min + 1) * (s.max - s.min + 1)
        return total

    a_plain, a_zed = area(plain), area(zed)
    assert a_zed * 2 < a_plain, (a_zed, a_plain)


def test_merge_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    """MERGE with dynamic partition overwrite: correctness of the merge
    AND the scale claim — files in partitions no update touches must
    survive byte-for-byte (same paths, same mtimes)."""
    import glob
    import os

    import pyspark.sql.functions as F

    from oxi_diel_db_spark.operators.scale import merge_upsert_partitioned

    target = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, f"v{i}", i % 4) for i in range(100)], "k long, v string, p int"
    )
    base.write.mode("overwrite").partitionBy("p").parquet(target)

    def files_state(part):
        return {
            f: os.path.getmtime(f)
            for f in glob.glob(f"{target}/p={part}/*.parquet")
        }

    untouched_before = {p: files_state(p) for p in (2, 3)}

    # updates touch partitions 0 and 1 only: modify k=0 (p 0), move k=5
    # from p 1 to p 0, insert brand-new k=1000 into p 1
    updates = spark.createDataFrame(
        [(0, "NEW", 0), (5, "moved", 0), (1000, "ins", 1)],
        "k long, v string, p int",
    )
    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    merge_upsert_partitioned(spark, target, updates, key="k", part_col="p")
    # dynamic overwrite is a write option: the session conf is untouched
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == mode

    back = {r["k"]: (r["v"], r["p"]) for r in spark.read.parquet(target).collect()}
    assert back[0] == ("NEW", 0)
    assert back[5] == ("moved", 0)  # cross-partition move: exactly once
    assert back[1000] == ("ins", 1)
    assert back[4] == ("v4", 0)  # untouched key in a touched partition
    assert len(back) == 101
    # untouched partitions: identical file sets and mtimes
    for p in (2, 3):
        assert files_state(p) == untouched_before[p]


def test_merge_upsert_drained_partition(spark, tmp_path):
    """A move that drains the LAST row out of a source partition must
    remove that partition's old files — dynamic overwrite alone never
    rewrites a partition absent from the merged output, so the operator
    has to delete the drained directory itself."""
    import os

    from oxi_diel_db_spark.operators.scale import merge_upsert_partitioned

    target = str(tmp_path / "tbl")
    # partition 9 holds exactly one row (k=900); partitions 0/1 are fat
    base = spark.createDataFrame(
        [(i, f"v{i}", i % 2) for i in range(20)] + [(900, "lonely", 9)],
        "k long, v string, p int",
    )
    base.write.mode("overwrite").partitionBy("p").parquet(target)
    assert os.path.isdir(f"{target}/p=9")

    # move k=900 out of p=9 into p=0 → p=9 is drained
    updates = spark.createDataFrame([(900, "moved", 0)], "k long, v string, p int")
    merge_upsert_partitioned(spark, target, updates, key="k", part_col="p")

    back = {r["k"]: (r["v"], r["p"]) for r in spark.read.parquet(target).collect()}
    assert back[900] == ("moved", 0)  # exactly once, in the new partition
    assert len(back) == 21
    assert not os.path.isdir(f"{target}/p=9")  # drained dir deleted


def test_format_poscar_roundtrip_bit_exact():
    """format_poscar (repr floats) -> parse_poscar_text must round-trip
    frac coords and lattice bit-exactly, with element blocks grouped in
    first-appearance order."""
    from oxi_diel_db_spark.sources.poscar import format_poscar, parse_poscar_text

    structure = {
        "lattice": {"matrix": [[4.1, 0.0, 0.0], [0.2, 3.9, 0.0], [-0.1, 0.3, 5.07]]},
        "sites": [
            {"species": [{"element": "O"}], "abc": [0.123456789012345, 0.5, 0.25]},
            {"species": [{"element": "Ti"}], "abc": [0.0, 0.0, 0.0]},
            {"species": [{"element": "O"}], "abc": [0.9, 0.1, 1e-07]},
        ],
    }
    import numpy as np

    pdf = parse_poscar_text(format_poscar("test", structure))
    # grouped order: O (site 0), O (site 2), Ti (site 1)
    assert list(pdf["element"]) == ["O", "O", "Ti"]
    assert pdf["frac_a"][0] == 0.123456789012345  # repr round-trip, no loss
    assert pdf["frac_c"][1] == 1e-07
    lat = np.array(structure["lattice"]["matrix"])
    exp_cart = np.array([0.123456789012345, 0.5, 0.25]) @ lat
    assert np.allclose([pdf["cart_x"][0], pdf["cart_y"][0], pdf["cart_z"][0]], exp_cart, atol=0)
