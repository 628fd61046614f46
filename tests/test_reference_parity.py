"""Descriptor-level reference parity (VERDICT r6 "What's missing" #2).

ml6 assembles the reference's EXACT el_comp 34-dim descriptor
(ml_prediction.py:82-117); ml7 trains/scores an RF on it. The gate here
is corr(engine pred, reference golden pred) >= 0.98 over the 1,266-row
golden file prediction_result_el_comp.json — tighter than the analog
models' 0.92 floor because the descriptors now match slot-for-slot
(the reference's own corr to stored actuals is 0.986, BASELINE.md).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oxi_diel_db_spark.queries import reference_parity as RP
from oxi_diel_db_spark.sources import materials as M


@pytest.fixture(scope="module")
def descriptors(spark):
    return RP.materialized(spark, "el_comp")


def test_descriptor_shape_and_nulls(spark, descriptors):
    """Every corpus material gets all 34 slots; no slot is all-NULL and
    the ElementProperty/valence slots are fully dense (parse failures
    would surface as NULLs here before they could skew training)."""
    n_corpus = M.materials(spark).count()
    assert descriptors.count() == n_corpus
    assert set(RP.EL_COMP_COLUMNS) <= set(descriptors.columns)
    null_counts = descriptors.select(
        [
            F.sum(F.col(c).isNull().cast("int")).alias(c)
            for c in RP.EL_COMP_COLUMNS
        ]
    ).collect()[0]
    for c in RP.EL_COMP_COLUMNS:
        assert null_counts[c] < n_corpus, f"{c} is all-NULL"
    for c in ("min_x", "mean_mass", "frac_s", "tm_frac", "band_center"):
        assert null_counts[c] == 0, f"{c} has {null_counts[c]} NULLs"


def test_descriptor_reference_ranges(descriptors):
    """Spot physical-sanity floors on reference-defined slots: Pauling
    EN in [0.7, 4.0], valence fractions in [0,1] summing to ~1 with the
    f-block remainder, AO gap non-negative."""
    row = descriptors.agg(
        F.min("min_x").alias("lo_x"),
        F.max("min_x").alias("hi_x"),
        F.min("frac_s").alias("lo_fs"),
        F.max(F.col("frac_s") + F.col("frac_p") + F.col("frac_d")).alias(
            "hi_fsum"
        ),
        F.min("gap_ao").alias("lo_gap"),
    ).collect()[0]
    assert 0.7 <= row["lo_x"] <= row["hi_x"] <= 4.0
    assert row["lo_fs"] >= 0.0
    # each fraction is independently rounded to 6 dp (with the 1e-9
    # cross-engine nudge), so the sum can overshoot 1 by ~1.5e-6
    assert row["hi_fsum"] <= 1.0 + 2e-6
    assert row["lo_gap"] >= 0.0


def test_ml7_golden_parity_el_comp(spark):
    """THE parity gate: RF over the exact 34-slot descriptor must track
    the reference's own golden predictions at corr >= 0.98 on all 1,266
    golden rows (measured 0.995 at 60 trees / depth 12 / seed 42)."""
    model, feats = RP.train_reference(spark, "el_comp")
    scored = model.transform(feats).select("mp_id", "pred_log10")
    golden = M.predictions(spark).filter(F.col("model") == "el_comp")
    row = (
        scored.join(golden, "mp_id")
        .agg(
            F.corr("pred_log10", "log10_eps").alias("c"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    assert row["n"] == 1266
    assert row["c"] > 0.98, row["c"]


def test_ml7_beats_analog_descriptor_parity(spark):
    """The point of the exact descriptors: golden-file parity must beat
    the 11-feature analog model's measured 0.947 (test_ml floors 0.92).
    A regression below that means the exact assembly stopped adding
    information over the analog set."""
    model, feats = RP.train_reference(spark, "el_comp")
    scored = model.transform(feats).select("mp_id", "pred_log10")
    golden = M.predictions(spark).filter(F.col("model") == "el_comp")
    c = (
        scored.join(golden, "mp_id")
        .agg(F.corr("pred_log10", "log10_eps").alias("c"))
        .collect()[0]["c"]
    )
    assert c > 0.947


# ---------------------------------------------------------------------------
# ion_comp (ml8/ml9)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ion_descriptors(spark):
    return RP.materialized(spark, "ion_comp")


def test_ion_descriptor_shape_and_ranges(spark, ion_descriptors):
    """42 slots for every corpus material; p-norm ordering (3-norm >=
    5-norm >= max fraction), APE positivity, distance monotonicity
    (nearest-1 mean <= nearest-3 mean <= nearest-5 mean — sorted
    prefixes)."""
    n_corpus = M.materials(spark).count()
    assert ion_descriptors.count() == n_corpus
    assert set(RP.ION_COMP_COLUMNS) <= set(ion_descriptors.columns)
    row = ion_descriptors.agg(
        F.count(F.when(F.col("norm3") < F.col("norm5"), 1)).alias("bad_norm"),
        F.count(F.when(F.col("ape_mean") <= 0, 1)).alias("bad_ape"),
        F.count(
            F.when(
                (F.col("ape_dist_1") > F.col("ape_dist_3") + 2e-6)
                | (F.col("ape_dist_3") > F.col("ape_dist_5") + 2e-6),
                1,
            )
        ).alias("bad_mono"),
    ).collect()[0]
    assert row["bad_norm"] == 0
    assert row["bad_ape"] == 0
    assert row["bad_mono"] == 0


def test_ml9_golden_parity_ion_comp(spark):
    """Parity gate, ion tier: RF over the exact 42-slot descriptor must
    track the reference's golden ion_comp predictions at corr >= 0.96
    on all 1,266 golden rows (measured 0.985 at 60 trees; the analog
    11-feature model measured 0.928 — the exact descriptors must beat
    it)."""
    model, feats = RP.train_reference(spark, "ion_comp")
    scored = model.transform(feats).select("mp_id", "pred_log10")
    golden = M.predictions(spark).filter(F.col("model") == "ion_comp")
    row = (
        scored.join(golden, "mp_id")
        .agg(
            F.corr("pred_log10", "log10_eps").alias("c"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    assert row["n"] == 1266
    assert row["c"] > 0.96, row["c"]
    assert row["c"] > 0.928  # beats the analog descriptor set


# ---------------------------------------------------------------------------
# el_comp_st (ml10/ml11)
# ---------------------------------------------------------------------------


def test_el_st_descriptor_shape(spark):
    d = RP.materialized(spark, "el_st")
    n_corpus = M.materials(spark).count()
    assert d.count() == n_corpus
    assert set(RP.EL_COMP_ST_COLUMNS) <= set(d.columns)
    # structural sanity: density positive, min-dist positive, OPS q_tet
    # bounded above by 1 (its analytic maximum)
    row = d.agg(
        F.count(F.when(F.col("density") <= 0, 1)).alias("bad_dens"),
        F.count(F.when(F.col("mean_min_dist") <= 0, 1)).alias("bad_dist"),
        F.count(F.when(F.col("tet_max") > 1.0 + 1e-6, 1)).alias("bad_tet"),
    ).collect()[0]
    assert row["bad_dens"] == 0
    assert row["bad_dist"] == 0
    assert row["bad_tet"] == 0


def test_ml11_golden_parity_el_comp_st(spark):
    """Parity gate, el structural tier: corr >= 0.98 vs the reference's
    golden el_comp_st predictions (measured 0.994 at 60 trees; the
    analog model measured 0.980 — the exact-slot assembly must beat
    it). A few corpus rows drop for NULL structural slots (sparse
    cells outside the OPS cutoff) — coverage floor asserts the drop
    stays small."""
    model, feats = RP.train_reference(spark, "el_st")
    scored = model.transform(feats).select("mp_id", "pred_log10")
    golden = M.predictions(spark).filter(F.col("model") == "el_comp_st")
    row = (
        scored.join(golden, "mp_id")
        .agg(
            F.corr("pred_log10", "log10_eps").alias("c"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    assert row["n"] >= 1240
    assert row["c"] > 0.98, row["c"]


# ---------------------------------------------------------------------------
# ion_comp_st (ml12/ml13)
# ---------------------------------------------------------------------------


def test_ion_st_descriptor_shape(spark):
    d = RP.materialized(spark, "ion_st")
    n_corpus = M.materials(spark).count()
    assert d.count() == n_corpus
    assert set(RP.ION_COMP_ST_COLUMNS) <= set(d.columns)
    row = d.agg(
        F.count(F.when(F.col("packing_fraction") <= 0, 1)).alias("bad_pf"),
        # linear/bent OPs are bounded means of [0,1] quantities
        F.count(F.when((F.col("linear_mean") < 0) | (F.col("linear_mean") > 1 + 1e-6), 1)).alias("bad_lin"),
        F.count(F.when((F.col("trig_planar_mean") < 0) | (F.col("trig_planar_mean") > 1 + 1e-6), 1)).alias("bad_tp"),
        # CN-affinity stats bounded by construction
        F.count(F.when(F.col("oct_cn6_max") > 1 + 1e-6, 1)).alias("bad_oct"),
    ).collect()[0]
    assert row["bad_pf"] == 0
    assert row["bad_lin"] == 0
    assert row["bad_tp"] == 0
    assert row["bad_oct"] == 0


def test_ml13_golden_parity_ion_comp_st(spark):
    """Parity gate, ion structural tier: corr >= 0.96 vs the golden
    ion_comp_st predictions (measured 0.979 at 60 trees; the analog
    model measured 0.970)."""
    model, feats = RP.train_reference(spark, "ion_st")
    scored = model.transform(feats).select("mp_id", "pred_log10")
    golden = M.predictions(spark).filter(F.col("model") == "ion_comp_st")
    row = (
        scored.join(golden, "mp_id")
        .agg(
            F.corr("pred_log10", "log10_eps").alias("c"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    assert row["n"] >= 1235
    assert row["c"] > 0.96, row["c"]
