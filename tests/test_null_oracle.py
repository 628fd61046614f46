"""NULL-adversarial cross-engine parity: the null-input matrix proves
operators COMPLETE under induced NULLs; this module proves the
registered oracle still MATCHES — the stronger claim, because the two
engines disagree about NULLs in subtle ways (legacy size(NULL) = -1
vs DuckDB len(NULL) = NULL skipped by AVG — exactly the latent BM25
avgdl divergence this harness was built after; see the r6 notes)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from oxi_diel_db_spark.queries import load_registry
from tools.check_oracle import norm_val

# documents-only oracles over text payloads (NULL text every 7th doc)
GATES = [
    "t1_lang_id",
    "t2_quality_score",
    "t3_token_count",
    "t4_fingerprint",
    "d1_exact_dedup",
    "t12_gopher_rules",
    "t13_vocab_stats",
    "t14_bm25_search",
    "p13_curriculum_interleave",
    "p14_length_matching",
    # round-7 tokenizing queries
    "t15_keyword_extraction",
    "p17_preference_pairs",
    "t16_pii_scrub",
    "p15_mixture_allocation",
    "t17_perplexity_filter",
    "t19_vocab_growth",
    "t20_readability",
    "q118_explode_outer",
    "q120_regexp_family",
    "t21_script_profile",
    "c5_corpus_health",
]


def _hash_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm_val(r[i]) for i in order) for r in rows)


@pytest.fixture(scope="module")
def null_sf_dir(spark, tmp_path_factory):
    """sf0.001 documents with NULL text induced on every 7th doc —
    payload nulls only; keys and dims stay intact (a NULL key is a
    schema violation dq1 exists to catch, not operator input)."""
    out = str(tmp_path_factory.mktemp("nulldoc_sf"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(F.col("text")),
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


@pytest.fixture(scope="module")
def null_source_dir(spark, tmp_path_factory):
    """sf0.001 documents with NULL source induced on every 13th doc —
    the adversary for p13's sentinel-bucket contract (ADVICE r6: inner
    join on a NULL key drops rows on Spark; DENSE_RANK keeps them on
    DuckDB)."""
    out = str(tmp_path_factory.mktemp("nullsrc_sf"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.withColumn(
        "source",
        F.when(F.col("doc_id") % 13 == 0, F.lit(None)).otherwise(
            F.col("source")
        ),
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


def test_p13_matches_under_null_source(spark, null_source_dir):
    import duckdb

    qdef = load_registry()["p13_curriculum_interleave"]
    sdf = qdef.build(spark, null_source_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{null_source_dir}/documents.parquet/*.parquet')"
    )
    res = con.execute(qdef.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols)
    assert _hash_rows(spark_cols, spark_rows) == _hash_rows(duck_cols, duck_rows)
    # NULL-source docs must be KEPT (sentinel bucket), not dropped by
    # the source join — every input doc appears exactly once
    n_docs = spark.read.parquet(
        os.path.join(null_source_dir, "documents.parquet")
    ).count()
    assert len(spark_rows) == n_docs
    i_src = spark_cols.index("source")
    assert any(r[i_src] == "__null_source__" for r in spark_rows)


#: events-based oracles over JSON payloads (NULL props every 17th
#: event, the test_null_inputs convention)
EVENT_GATES = [
    "q95_malformed_json",
]


@pytest.fixture(scope="module")
def null_events_dir(spark, tmp_path_factory):
    """sf0.001 events with NULL props induced on every 17th event —
    the exact adversary for q95's NULL-vs-corrupt accounting split
    (ADVICE r6: from_json(NULL) vs json_valid(NULL) disagree unless
    NULL is an explicit case on both sides)."""
    from oxi_diel_db_spark import tables

    out = str(tmp_path_factory.mktemp("nullev_sf"))
    ev = tables.load(spark, "events", "/root/testdata/sf0.001")
    ev.withColumn(
        "props",
        F.when(F.col("event_id") % 17 == 0, F.lit(None)).otherwise(
            F.col("props")
        ),
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    return out


@pytest.mark.parametrize("name", EVENT_GATES)
def test_gate_matches_under_null_props(spark, null_events_dir, name):
    import duckdb

    reg = load_registry()
    qdef = reg[name]
    sdf = qdef.build(spark, null_events_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{null_events_dir}/events.parquet/*.parquet')"
    )
    res = con.execute(qdef.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols)
    assert _hash_rows(spark_cols, spark_rows) == _hash_rows(duck_cols, duck_rows)
    # the adversary must actually bite: some rows carry NULL props, and
    # they must land in n_corrupt (not silently count as parsed)
    i_ok = spark_cols.index("n_parsed")
    i_n = spark_cols.index("n_rows")
    assert sum(r[i_n] for r in spark_rows) > sum(r[i_ok] for r in spark_rows)


@pytest.mark.parametrize("name", GATES)
def test_gate_matches_under_null_text(spark, null_sf_dir, name):
    import duckdb

    reg = load_registry()
    qdef = reg[name]
    sdf = qdef.build(spark, null_sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{null_sf_dir}/documents.parquet/*.parquet')"
    )
    res = con.execute(qdef.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols)
    assert _hash_rows(spark_cols, spark_rows) == _hash_rows(duck_cols, duck_rows)


@pytest.fixture(scope="module")
def null_userid_dir(spark, tmp_path_factory):
    """sf0.001 events with NULL user_id induced on every 19th event —
    the adversary for q99's point-in-time join key semantics:
    NULL-key observations must keep their row with NULL features on
    BOTH engines (SQL ASOF equality never matches NULL), and NULL-key
    feature rows must never be carried onto anyone."""
    from oxi_diel_db_spark import tables

    out = str(tmp_path_factory.mktemp("nulluid_sf"))
    ev = tables.load(spark, "events", "/root/testdata/sf0.001")
    ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 19 == 0, F.lit(None)).otherwise(
            F.col("user_id")
        ),
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    return out


def test_q99_matches_under_null_user_id(spark, null_userid_dir):
    import duckdb

    qdef = load_registry()["q99_observation_join"]
    sdf = qdef.build(spark, null_userid_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{null_userid_dir}/events.parquet/*.parquet')"
    )
    res = con.execute(qdef.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols)
    assert _hash_rows(spark_cols, spark_rows) == _hash_rows(duck_cols, duck_rows)
    # the adversary must bite: NULL-key purchases exist and carry NULL
    # features
    i_uid = spark_cols.index("user_id")
    i_view = spark_cols.index("prior_view_value")
    nulls = [r for r in spark_rows if r[i_uid] is None]
    assert nulls and all(r[i_view] is None for r in nulls)


@pytest.fixture(scope="module")
def null_value_dir(spark, tmp_path_factory):
    """sf0.001 events with NULL value induced on every 11th event —
    the adversary for dq10's NULL-exclusion contract (a NULL group
    enters the CDF at a DIFFERENT end per engine: Spark windows order
    NULLS FIRST, DuckDB NULLS LAST — every cumulative count after it
    would shift)."""
    from oxi_diel_db_spark import tables

    out = str(tmp_path_factory.mktemp("nullval_sf"))
    ev = tables.load(spark, "events", "/root/testdata/sf0.001")
    ev.withColumn(
        "value",
        F.when(F.col("event_id") % 11 == 0, F.lit(None)).otherwise(
            F.col("value")
        ),
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    return out


def test_dq10_matches_under_null_value(spark, null_value_dir):
    import duckdb

    qdef = load_registry()["dq10_ks_drift"]
    sdf = qdef.build(spark, null_value_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{null_value_dir}/events.parquet/*.parquet')"
    )
    res = con.execute(qdef.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols)
    assert _hash_rows(spark_cols, spark_rows) == _hash_rows(duck_cols, duck_rows)
    # and the NULLs were excluded, not counted into either sample
    n_nonnull = (
        spark.read.parquet(os.path.join(null_value_dir, "events.parquet"))
        .filter(F.col("value").isNotNull())
        .count()
    )
    assert spark_rows[0][spark_cols.index("n_ref")] + spark_rows[0][
        spark_cols.index("n_cur")
    ] == n_nonnull


def test_dq11_matches_under_null_value(spark, null_value_dir):
    """NULL value rows must be QUARANTINED as null_value on both
    engines (never silently dropped by three-valued logic in the
    range rule), with full hash parity on the reason strings."""
    import duckdb

    qdef = load_registry()["dq11_row_quarantine"]
    sdf = qdef.build(spark, null_value_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{null_value_dir}/events.parquet/*.parquet')"
    )
    res = con.execute(qdef.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols)
    assert _hash_rows(spark_cols, spark_rows) == _hash_rows(duck_cols, duck_rows)
    i_r = spark_cols.index("reasons")
    assert any("null_value" in (r[i_r] or "") for r in spark_rows)


@pytest.fixture(scope="module")
def null_event_type_dir(spark, tmp_path_factory):
    """sf0.001 events with NULL event_type induced on every 11th event —
    the adversary for q114's sketch contract (approx_top_k ignores NULL
    inputs; the oracle must filter them explicitly or the counts since
    COUNT(*) vs the sketch diverge by the NULL group)."""
    from oxi_diel_db_spark import tables

    out = str(tmp_path_factory.mktemp("nullet_sf"))
    ev = tables.load(spark, "events", "/root/testdata/sf0.001")
    ev.withColumn(
        "event_type",
        F.when(F.col("event_id") % 11 == 0, F.lit(None)).otherwise(
            F.col("event_type")
        ),
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    return out


def test_q114_matches_under_null_event_type(spark, null_event_type_dir):
    import duckdb

    qdef = load_registry()["q114_approx_top_k"]
    sdf = qdef.build(spark, null_event_type_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{null_event_type_dir}/events.parquet/*.parquet')"
    )
    res = con.execute(qdef.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols)
    assert _hash_rows(spark_cols, spark_rows) == _hash_rows(duck_cols, duck_rows)
    # the NULL group is EXCLUDED, not counted under a sentinel: total
    # sketched count = non-null events only
    n_nonnull = (
        spark.read.parquet(os.path.join(null_event_type_dir, "events.parquet"))
        .filter(F.col("event_type").isNotNull())
        .count()
    )
    assert sum(r[spark_cols.index("cnt")] for r in spark_rows) == n_nonnull


@pytest.mark.parametrize(
    "name",
    [
        "q115_count_min_sketch",   # CMS ignores NULL inputs; twin filters
        "q116_bitmap_distinct",    # bitmap bit position of NULL is undefined
        "ml18_frequent_itemsets",  # NULL event_type never matches 'purchase'
        "g5_connected_components", # NULL-typed events fall out of the graph
        "g6_kcore",                # same exclusion, peeling twin
        "q119_dynamic_session",    # NULL type takes the ELSE gap on both engines
        "q121_array_set_ops",      # NULL type lands in neither item set
        "dq15_cusum_shift",        # day spine unaffected by type nulls
    ],
)
def test_new_event_gates_match_under_null_event_type(
    spark, null_event_type_dir, name
):
    """The r7-tail event-reading gates under the q114 NULL-event_type
    adversary: every one must make NULL exclusion an explicit,
    engine-agreeing case (filter on Spark, predicate in the twin) —
    never an accident of three-valued logic on one side only."""
    import duckdb

    qdef = load_registry()[name]
    sdf = qdef.build(spark, null_event_type_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{null_event_type_dir}/events.parquet/*.parquet')"
    )
    res = con.execute(qdef.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols)
    assert _hash_rows(spark_cols, spark_rows) == _hash_rows(duck_cols, duck_rows)
