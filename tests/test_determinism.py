"""Plan-independence: a hash-gated query's VALUES must not depend on
the physical plan. Re-running representative queries with AQE disabled
and with a deliberately odd shuffle-partition count must reproduce the
exact value hash — the cross-engine gate only means something if the
Spark side is stable against its own planner first."""

from __future__ import annotations

import pytest

from oxi_diel_db_spark.queries import load_registry
from tools.check_oracle import table_hash

SF = "/root/testdata/sf0.001"

# one per execution family: hash-agg, banded LSH join, session merge,
# sharded applyInPandas, mapInPandas site kernel
REPRESENTATIVE = [
    "q01_pricing_summary",
    "d3_minhash_lsh",
    "q85_session_window",
    "p5_greedy_packing",
    "m16_site_energy",
]


def _value_hash(df) -> str:
    return table_hash(df.columns, df.collect())


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_value_hash_plan_independent(spark, name):
    reg = load_registry()
    baseline = _value_hash(reg[name].build(spark, SF))
    # IMPORTANT: the registered builder calls configure(), which pins
    # AQE back on — so the confs must change AFTER build() and BEFORE
    # the collect (physical planning is lazy, so the altered planner
    # settings really govern the re-run).
    df = reg[name].build(spark, SF)
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        altered = _value_hash(df)
        if name == "q01_pricing_summary":
            # prove the knob really bit (only for the pure-lazy query:
            # operators that eagerly materialize during build — d3's
            # persisted signatures — planned their inner stages before
            # the conf change, which is fine; their VALUES still match)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "AdaptiveSparkPlan" not in plan
        assert altered == baseline
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", "32")


from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    events=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100_000)),  # (user, seconds)
        min_size=1,
        max_size=60,
    ),
    gap_s=st.sampled_from([600, 3600, 14400]),
)
@settings(max_examples=15, deadline=None)
def test_session_window_equals_gaps_and_islands(spark, events, gap_s):
    """q85's two formulations must agree on ANY stream: Spark's
    session_window merge and the LAG-based island construction yield
    identical (user, start, end, count) sets — including duplicate
    timestamps and single-event sessions."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(u, s) for u, s in events], "u long, s long"
    ).select("u", F.timestamp_seconds(F.col("s") + 1_700_000_000).alias("ts"))

    sw = {
        (r["u"], str(r["st"]), str(r["en"]), r["n"])
        for r in df.groupBy(F.session_window("ts", f"{gap_s} seconds"), "u")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "u",
            F.col("session_window.start").alias("st"),
            F.col("session_window.end").alias("en"),
            "n",
        )
        .collect()
    }
    w = W.partitionBy("u").orderBy("ts")
    gi = {
        (r["u"], str(r["st"]), str(r["en"]), r["n"])
        for r in df.withColumn(
            "new_s",
            F.when(
                F.lag("ts").over(w).isNull()
                | (
                    F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
                    > gap_s
                ),
                1,
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("u", "sid")
        .agg(
            F.min("ts").alias("st"),
            (F.max("ts") + F.expr(f"INTERVAL {gap_s} SECONDS")).alias("en"),
            F.count(F.lit(1)).alias("n"),
        )
        .drop("sid")
        .collect()
    }
    assert sw == gi


def test_float_specials_cross_engine_parity(spark):
    """NaN/±Inf/−0.0/denormal behavior agrees between Spark and DuckDB
    on the operations the gates rely on: NaN sorts LAST in both, NaN
    poisons SUM/MAX/AVG identically, and the r6 (+0.0) canonicalization
    maps −0.0 to +0.0 in both — so float-special rows in production
    data cannot open a cross-engine gap the friendly corpus hides."""
    import duckdb

    from pyspark.sql import functions as F

    vals = [1.0, float("nan"), float("inf"), float("-inf"), -0.0, 5e-324]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v double")
    s_agg = list(df.agg(F.sum("v"), F.max("v"), F.min("v")).collect()[0])
    s_sort = [r["v"] for r in df.orderBy("v").collect()]
    s_neg0 = df.filter("i=4").select(F.round("v", 6) + F.lit(0.0)).collect()[0][0]

    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, v DOUBLE)")
    for i, v in enumerate(vals):
        con.execute("INSERT INTO t VALUES (?, ?)", [i, v])
    d_agg = list(con.execute("SELECT SUM(v), MAX(v), MIN(v) FROM t").fetchone())
    d_sort = [r[0] for r in con.execute("SELECT v FROM t ORDER BY v").fetchall()]
    d_neg0 = con.execute("SELECT ROUND(v, 6) + 0 FROM t WHERE i = 4").fetchone()[0]

    import math

    def same(a, b):
        return (math.isnan(a) and math.isnan(b)) or a == b

    assert all(same(a, b) for a, b in zip(s_agg, d_agg))
    assert all(same(a, b) for a, b in zip(s_sort, d_sort))
    assert str(s_neg0) == str(d_neg0) == "0.0"


@pytest.mark.parametrize(
    "name",
    [
        "q01_pricing_summary",
        "q88_ohlc_resample",
        "t3_token_count",
        "dq1_constraint_audit",
        "p1_hash_sample",
    ],
)
def test_value_hash_ansi_independent(spark, name):
    """The engine pins spark.sql.ansi.enabled=false (DuckDB-compatible
    NULL/size semantics) — but its values must not DEPEND on that: the
    same queries produce identical hashes with ANSI on (no hidden
    reliance on silent overflow, lax casts, or legacy size(NULL))."""
    reg = load_registry()
    baseline = _value_hash(reg[name].build(spark, SF))
    df = reg[name].build(spark, SF)  # configure() ran; now flip ANSI
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        assert _value_hash(df) == baseline
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")
