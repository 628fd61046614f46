#!/usr/bin/env python
"""Quantify the two declared featurizer analogs (r7 verdict ask #5).

HISTORICAL as of r10: the OPSF/Voronoi slots the two analogs filled
are now the EXACT kernels (operators/voronoi_exact.py,
operators/op_fingerprint.py; m37/m38 hash gates). This tool remains
runnable as the measurement that justified the interim analogs
(corr delta ≤ 0.002) and as the ablation harness pattern.

OPSiteFingerprint and VoronoiFingerprint ship as documented public
analogs (Steinhardt q4/q6 + q_tet; bounded-radius Voronoi proxies)
rather than matminer-0.6.0-exact numerics (reference
ml_prediction.py:186-187, 226-227 — the pinned package is absent here
and the reference's trained models are absent from its own copy, so
bit-parity is unverifiable either way). This tool measures how much
those slots can possibly matter: retrain the ml11/ml13 reference-
configuration RFs with the analog slots ABLATED (dropped from the
descriptor) and compare golden-file corr against the full descriptor.

If corr(full) − corr(ablated) is small, the analog slots carry little
of the model's signal and any analog-vs-exact numeric difference is
bounded by that delta — the analog choice becomes a measured, not
asserted, approximation.

Usage: python tools/ablate_analogs.py   (prints one JSON line per tier)
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

#: The exact OPSiteFingerprint / VoronoiFingerprint reference slots
#: (reference_parity EL_COMP_ST_COLUMNS / ION_COMP_ST_COLUMNS comments).
ANALOG_SLOTS = {
    "el_comp_st": {
        "op": ["tet_max", "seesaw_max"],
        "voronoi": [
            "vor_area_std_max", "vor_area_std_mean",
            "vor_dist_min_min", "vor_dist_min_std",
        ],
    },
    "ion_comp_st": {
        "op": [
            "sgl_bd_mean", "bent150_mean", "linear_mean",
            "trig_planar_mean", "pent_cn5_std",
            "oct_cn6_max", "oct_cn6_std", "q6_cn12_mean",
        ],
        "voronoi": [
            "sym_w4_std", "vol_max_mean", "area_std_mean",
            "area_min_std", "area_max_min", "dist_std_mean",
        ],
    },
}


def _train_score_corr(spark, desc_df, cols, label_col, golden_model):
    """Reference-configuration RF (60 trees, depth 12, seed 42) on the
    given descriptor columns; returns corr(pred, golden log10_eps)."""
    from oxi_diel_db_spark.ml import comp_model as CM
    from oxi_diel_db_spark.ml import pipeline as P
    from oxi_diel_db_spark.sources import materials as M

    labels = CM._labels(M.materials(spark)).select("mp_id", label_col)
    feats = P.training_frame(desc_df.join(labels, "mp_id"), cols, label_col)
    pipe = P.rf_pipeline(cols, label_col, 60, 42)
    scored = pipe.fit(feats).transform(feats).select("mp_id", "pred_log10")
    golden = M.predictions(spark).filter(F.col("model") == golden_model)
    row = (
        scored.join(golden, "mp_id")
        .agg(F.corr("pred_log10", "log10_eps").alias("c"), F.count("*").alias("n"))
        .collect()[0]
    )
    return float(row["c"]), int(row["n"])


def main() -> None:
    from oxi_diel_db_spark.queries import reference_parity as RP
    from oxi_diel_db_spark.session import get_spark

    spark = get_spark("ablate_analogs")
    tiers = {
        "el_comp_st": (
            RP.materialized(spark, "el_st"),
            list(RP.EL_COMP_ST_COLUMNS),
            "label_el",
        ),
        "ion_comp_st": (
            RP.materialized(spark, "ion_st"),
            list(RP.ION_COMP_ST_COLUMNS),
            "label_ion",
        ),
    }
    for tier, (desc, cols, label) in tiers.items():
        slots = ANALOG_SLOTS[tier]
        full_c, n = _train_score_corr(spark, desc, cols, label, tier)
        out = {
            "metric": "analog_ablation", "tier": tier,
            "golden_rows": n, "corr_full": round(full_c, 4),
        }
        for name, drop in [
            ("op", slots["op"]),
            ("voronoi", slots["voronoi"]),
            ("both", slots["op"] + slots["voronoi"]),
        ]:
            kept = [c for c in cols if c not in drop]
            c, _ = _train_score_corr(spark, desc, kept, label, tier)
            out[f"corr_without_{name}"] = round(c, 4)
            out[f"delta_{name}"] = round(full_c - c, 4)
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
