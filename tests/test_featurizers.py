"""Composition/site featurizers: spot-values vs hand math + numpy."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from oxi_diel_db_spark.functions import composition as C


def _one(spark, formula, col):
    df = spark.createDataFrame([(formula,)], "formula string")
    return df.select(col.alias("v")).collect()[0]["v"]


def test_stoichiometry_pnorms(spark):
    # SiO2: fractions (1/3, 2/3)
    p0 = _one(spark, "SiO2", C.stoichiometry_pnorm("formula", 0))
    p2 = _one(spark, "SiO2", C.stoichiometry_pnorm("formula", 2))
    assert p0 == 2.0
    assert abs(p2 - np.sqrt((1 / 3) ** 2 + (2 / 3) ** 2)) < 1e-12


def test_tmetal_fraction(spark):
    assert _one(spark, "SiO2", C.tmetal_fraction("formula")) == 0.0
    # Fe2O3: 2 of 5 atoms are transition metals
    assert abs(_one(spark, "Fe2O3", C.tmetal_fraction("formula")) - 0.4) < 1e-12


def test_en_stats(spark):
    stats = C.electronegativity_stats("formula")
    # Ca1 O1: mean = (1.00 + 3.44)/2
    assert abs(_one(spark, "CaO", stats["en_mean"]) - 2.22) < 1e-9
    assert _one(spark, "CaO", stats["en_min"]) == 1.00
    assert _one(spark, "CaO", stats["en_max"]) == 3.44


def test_total_atoms_weighting(spark):
    stats = C.electronegativity_stats("formula")
    # Ca2SnO4: weighted mean = (2*1.00 + 1*1.96 + 4*3.44)/7
    exp = (2 * 1.00 + 1 * 1.96 + 4 * 3.44) / 7
    assert abs(_one(spark, "Ca2SnO4", stats["en_mean"]) - exp) < 1e-9


def test_site_energy_matches_numpy(spark):
    from oxi_diel_db_spark.operators.site_features import (
        site_inverse_distance_energy,
    )
    from oxi_diel_db_spark.sources import materials as M

    mats = M.materials(spark).filter(F.col("mp_id") == "mp-4747")
    got = {
        r["site_idx"]: r["inv_dist_energy"]
        for r in site_inverse_distance_energy(mats).collect()
    }
    xyz = mats.select(F.col("structure.sites.xyz").alias("x")).collect()[0]["x"]
    pts = np.array(xyz)
    d = np.linalg.norm(pts[:, None, :] - pts[None, :, :], axis=-1)
    np.fill_diagonal(d, np.inf)
    exp = (1.0 / d).sum(axis=1)
    assert len(got) == len(pts)
    for i, e in enumerate(exp):
        assert abs(got[i] - e) < 1e-9


def test_min_distances_match_numpy(spark):
    from oxi_diel_db_spark.operators.site_features import site_min_distances
    from oxi_diel_db_spark.sources import materials as M

    mats = M.materials(spark).filter(F.col("mp_id") == "mp-4747")
    got = {r["site_idx"]: r["min_dist"] for r in site_min_distances(mats).collect()}
    xyz = mats.select(F.col("structure.sites.xyz").alias("x")).collect()[0]["x"]
    pts = np.array(xyz)
    d = np.linalg.norm(pts[:, None, :] - pts[None, :, :], axis=-1)
    np.fill_diagonal(d, np.inf)
    exp = d.min(axis=1)
    for i, e in enumerate(exp):
        assert abs(got[i] - e) < 1e-9


def test_band_center_spot(spark):
    # CaO: exp((ln 1.00 + ln 3.44)/2) = sqrt(1.00*3.44)
    got = _one(spark, "CaO", C.band_center("formula"))
    assert abs(got - np.sqrt(1.00 * 3.44)) < 1e-9


def test_formula_udtf(spark):
    from oxi_diel_db_spark.functions.udtfs import FormulaExplode, register_udtfs

    register_udtfs(spark)
    rows = spark.sql(
        "SELECT * FROM formula_explode('Ca2SnO4')"
    ).collect()
    assert [(r["element"], r["cnt"]) for r in rows] == [
        ("Ca", 2.0), ("Sn", 1.0), ("O", 4.0),
    ]


def test_gaussian_symm_matches_numpy(spark):
    from oxi_diel_db_spark.operators.site_features import gaussian_symm_func
    from oxi_diel_db_spark.sources import materials as M

    mats = M.materials(spark).filter(F.col("mp_id") == "mp-4747")
    got = {r["site_idx"]: (r["g_eta_05"], r["g_eta_4"])
           for r in gaussian_symm_func(mats).collect()}
    xyz = mats.select(F.col("structure.sites.xyz").alias("x")).collect()[0]["x"]
    pts = np.array(xyz)
    d = np.linalg.norm(pts[:, None, :] - pts[None, :, :], axis=-1)
    np.fill_diagonal(d, np.inf)
    within = d <= 6.0
    for eta, slot in ((0.5, 0), (4.0, 1)):
        exp = (np.exp(-eta * (d / 6.0) ** 2) * within).sum(axis=1)
        for i, e in enumerate(exp):
            assert abs(got[i][slot] - e) < 1e-9


def test_density_spot_value(spark):
    """mp-4747 (Ca2SnO4-family cell): density from per-site masses must
    match a hand numpy computation."""
    from oxi_diel_db_spark.queries import load_registry
    from oxi_diel_db_spark.sources import materials as M
    from oxi_diel_db_spark.functions.composition import ATOMIC_MASS, AMU_PER_A3_TO_G_CM3

    reg = load_registry()
    row = [r for r in reg["m21_density"].build(spark, "unused").collect()
           if r["mp_id"] == "mp-4747"][0]
    rec = M.materials(spark).filter(F.col("mp_id") == "mp-4747").collect()[0]
    els = [s["species"][0]["element"] for s in rec["structure"]["sites"]]
    vol = rec["structure"]["lattice"]["volume"]
    exp = sum(ATOMIC_MASS[e] for e in els) / vol * AMU_PER_A3_TO_G_CM3
    assert abs(row["density_g_cm3"] - exp) < 1e-5


def test_parse_formula_map(spark):
    from oxi_diel_db_spark.functions.formula import parse_formula

    df = spark.createDataFrame([("Ca2SnO4",)], "formula string")
    row = df.select(
        parse_formula("formula").alias("m"),
        F.map_keys(parse_formula("formula")).alias("ks"),
    ).collect()[0]
    assert row["m"] == {"Ca": 2.0, "Sn": 1.0, "O": 4.0}
    assert row["ks"] == ["Ca", "Sn", "O"]


def test_input_file_name_id_extraction(spark, mp4747_json):
    """F5: mp_id from the source filename (one file per record,
    reference data layout README.md:15)."""
    from oxi_diel_db_spark.sources.materials import MATERIALS_SCHEMA

    df = (
        spark.read.schema(MATERIALS_SCHEMA)
        .option("multiLine", True)
        .json(mp4747_json)
        .select(
            "mp_id",
            F.regexp_extract(F.input_file_name(), r"(m[pv][c]?-\d+)\.json$", 1).alias(
                "file_id"
            ),
        )
    )
    row = df.collect()[0]
    assert row["mp_id"] == row["file_id"] == "mp-4747"


def test_valence_table_textbook_values():
    from oxi_diel_db_spark.functions.valence import VALENCE_TABLE

    # (s, p, d, f) beyond the noble-gas core — pymatgen/matminer convention
    assert VALENCE_TABLE["O"] == (2, 4, 0, 0)
    assert VALENCE_TABLE["Fe"] == (2, 0, 6, 0)
    assert VALENCE_TABLE["Cr"] == (1, 0, 5, 0)   # Aufbau exception
    assert VALENCE_TABLE["Cu"] == (1, 0, 10, 0)  # Aufbau exception
    assert VALENCE_TABLE["Pd"] == (0, 0, 10, 0)  # Aufbau exception
    assert VALENCE_TABLE["Ca"] == (2, 0, 0, 0)
    assert VALENCE_TABLE["Sn"] == (2, 2, 10, 0)  # filled 4d beyond Kr core
    assert VALENCE_TABLE["W"] == (2, 0, 4, 14)   # filled 4f beyond Xe core
    assert VALENCE_TABLE["Gd"] == (2, 0, 1, 7)


def test_valence_fractions_spot(spark):
    from oxi_diel_db_spark.functions.valence import valence_fractions

    v = valence_fractions("formula")
    df = spark.createDataFrame([("MgO",)], "formula string")
    row = df.select(
        v["avg_s"].alias("s"), v["avg_p"].alias("p"), v["frac_p"].alias("fp")
    ).collect()[0]
    # Mg (2,0,0,0) + O (2,4,0,0) → avg_s = 2, avg_p = 2, frac_p = 2/4
    assert row["s"] == 2.0 and row["p"] == 2.0 and row["fp"] == 0.5


def test_en_diff_and_ionic_character_spot(spark):
    import math

    # SiO2: ΔEN(O−Si) = 3.44 − 1.90 = 1.54
    got = _one(spark, "SiO2", C.en_diff_to_oxygen("formula"))
    assert abs(got - 1.54) < 1e-9
    # avg ionic character: all cross pairs share the same ΔEN → the
    # weighted average equals 1 − exp(−1.54²/4)
    ic = _one(spark, "SiO2", C.avg_ionic_character("formula"))
    assert abs(ic - (1 - math.exp(-(1.54**2) / 4))) < 1e-9
    # single-element formula → zero ionic character (no pairs)
    assert _one(spark, "O2", C.avg_ionic_character("formula")) == 0.0


def test_local_property_difference_numpy(spark):
    from oxi_diel_db_spark.operators.site_features import local_property_difference
    from oxi_diel_db_spark.functions.formula import PAULING_EN
    from oxi_diel_db_spark.sources import materials as M

    mats = M.materials(spark).filter(F.col("mp_id") == "mp-4747")
    got = {r["site_idx"]: r["local_en_diff"]
           for r in local_property_difference(mats).collect()}
    rec = mats.select(
        F.col("structure.sites.xyz").alias("x"),
        F.expr("transform(structure.sites, s -> s.species[0].element)").alias("e"),
    ).collect()[0]
    pts = np.array(rec["x"])
    chi = np.array([PAULING_EN[e] for e in rec["e"]])
    d = np.linalg.norm(pts[:, None, :] - pts[None, :, :], axis=-1)
    np.fill_diagonal(d, np.inf)
    w = np.where(d <= 5.0, 1.0 / (d * d), 0.0)
    dchi = np.abs(chi[:, None] - chi[None, :])
    exp = (w * dchi).sum(axis=1) / w.sum(axis=1)
    for i, e in enumerate(exp):
        assert abs(got[i] - e) < 1e-9


def test_paren_group_expansion(spark):
    """ADVICE r1 (high): paren groups must multiply inner counts —
    'Ba(AuO2)2' is {Ba:1, Au:2, O:4}, not {Ba:1, Au:1, O:2}."""
    from oxi_diel_db_spark.functions import formula as FM

    df = spark.createDataFrame([("Ba(AuO2)2",)], "formula string")
    m = df.select(FM.parse_formula("formula").alias("m")).collect()[0]["m"]
    assert m == {"Ba": 1.0, "Au": 2.0, "O": 4.0}
    assert _one(spark, "Ba(AuO2)2", C.total_atoms("formula")) == 7.0
    # tmetal: Au is 2 of 7 atoms
    assert abs(_one(spark, "Ba(AuO2)2", C.tmetal_fraction("formula")) - 2 / 7) < 1e-12


def test_paren_corpus_atom_totals(spark):
    """All 1,278 corpus formulas (189 with paren groups): the parsed
    atom total must divide nsites exactly (formula is the reduced cell;
    nsites = total × Z for integer Z ≥ 1). The round-1 tokenizer failed
    this for the paren subset."""
    from oxi_diel_db_spark.functions import composition as C2
    from oxi_diel_db_spark.sources import materials as M

    mats = M.materials(spark).select(
        "formula", "nsites", C2.total_atoms("formula").alias("tot")
    )
    bad = mats.filter(
        (F.col("tot") <= 0)
        | (F.col("tot") != F.floor("tot"))
        | (F.col("nsites") % F.col("tot").cast("bigint") != 0)
    )
    assert bad.count() == 0, bad.limit(5).collect()
    n_paren = mats.filter(F.col("formula").contains("(")).count()
    assert n_paren == 189


def test_packing_fraction_matches_numpy(spark):
    """m27 vs a direct numpy computation for one material."""
    from oxi_diel_db_spark.queries.extras import m27_packing_fraction
    from oxi_diel_db_spark.sources import materials as M

    got = {
        r["mp_id"]: r
        for r in m27_packing_fraction(spark, None)
        .filter(F.col("mp_id") == "mp-4747")
        .collect()
    }["mp-4747"]
    rec = (
        M.materials(spark)
        .filter(F.col("mp_id") == "mp-4747")
        .select(
            F.col("structure.lattice.volume").alias("vol"),
            F.expr("transform(structure.sites, s -> s.species[0].element)").alias("els"),
        )
        .collect()[0]
    )
    sphere = sum(
        4 / 3 * np.pi * C.COVALENT_RADIUS[e] ** 3 for e in rec["els"]
    )
    assert abs(got["packing_fraction"] - round(sphere / rec["vol"], 6)) < 2e-6
    assert abs(got["mean_atom_vol"] - round(sphere / len(rec["els"]), 6)) < 2e-6
    # sanity: covalent spheres overlap, but the fraction must be a
    # plausible compactness number for an oxide, not garbage
    assert 0.05 < got["packing_fraction"] < 1.5


def test_site_order_parameters_analytic(spark):
    """Closed-form checks: a perfect tetrahedral cage gives the center
    q_tet = 1; a perfect octahedral cage gives q4 = sqrt(7/12),
    q6 = sqrt(1/8) (Legendre sums: P4(0)=3/8, P6(0)=-5/16), and
    q_tet = 1/2 over its first four neighbors."""
    import math

    from oxi_diel_db_spark.operators.site_features import site_order_parameters

    s3 = 2.0 / math.sqrt(3.0)
    tet = [[0.0, 0.0, 0.0]] + [
        [s3, s3, s3], [s3, -s3, -s3], [-s3, s3, -s3], [-s3, -s3, s3]
    ]
    octa = [[0.0, 0.0, 0.0]] + [
        [2.0, 0.0, 0.0], [-2.0, 0.0, 0.0], [0.0, 2.0, 0.0],
        [0.0, -2.0, 0.0], [0.0, 0.0, 2.0], [0.0, 0.0, -2.0],
    ]
    df = spark.createDataFrame(
        [("tet", {"sites": [{"xyz": p} for p in tet]}),
         ("oct", {"sites": [{"xyz": p} for p in octa]})],
        "mp_id string, structure struct<sites: array<struct<xyz: array<double>>>>",
    )
    rows = {
        (r["mp_id"], r["site_idx"]): r
        for r in site_order_parameters(df, cutoff=3.0).collect()
    }
    assert abs(rows[("tet", 0)]["q_tet"] - 1.0) < 1e-9
    assert abs(rows[("oct", 0)]["q4"] - math.sqrt(7.0 / 12.0)) < 1e-9
    assert abs(rows[("oct", 0)]["q6"] - math.sqrt(1.0 / 8.0)) < 1e-9
    assert abs(rows[("oct", 0)]["q_tet"] - 0.5) < 1e-9


def test_m32_element_property_hand_case(spark):
    """SrTiO3: period mean = (5 + 4 + 3·2)/5 = 3.0; group mean =
    (2 + 4 + 3·16)/5 = 10.8; block mean = (0 + 2 + 3·1)/5 = 1.0."""
    from oxi_diel_db_spark.functions import composition as C

    m = spark.createDataFrame([("x", "SrTiO3")], "mp_id string, formula string")
    row = m.select(
        *[
            C.elemental_stats("formula", tbl)["mean"].alias(n)
            for n, tbl in (("row", C.PERIOD), ("grp", C.GROUP), ("blk", C.BLOCK))
        ]
    ).collect()[0]
    assert abs(row["row"] - 3.0) < 1e-9
    assert abs(row["grp"] - 10.8) < 1e-9
    assert abs(row["blk"] - 1.0) < 1e-9


def test_m32_ranges_sane_on_corpus(spark):
    from oxi_diel_db_spark.queries import load_registry

    rows = (
        load_registry()["m32_element_property_full"]
        .build(spark, "/root/testdata/sf0.01")
        .collect()
    )
    assert len(rows) == 1278
    for r in rows:
        assert 2.0 <= r["row_mean"] <= 7.0
        assert 0.0 <= r["blk_mean"] <= 3.0
        assert 1.0 <= r["grp_mean"] <= 18.0
        assert r["mass_std"] >= 0.0 and r["rad_range"] >= 0.0
