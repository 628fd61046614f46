"""CLI + composition-model parity tests (SURVEY.md §3.1):
the reference's prediction lifecycle end-to-end, including the
spelling fix (accepts electronic/ionic AND el/ion) and the
exactly-one-source validation the reference lacks."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from oxi_diel_db_spark import cli
from oxi_diel_db_spark.ml import comp_model as CM
from oxi_diel_db_spark.ml.pipeline import scale_features_pop
from oxi_diel_db_spark.sources import materials as M


@pytest.fixture(scope="module")
def mats(spark):
    return M.materials(spark)


def test_predict_accepts_both_spellings(spark, mats):
    a = CM.predict_log10_eps(
        spark, mats, {"formula": "SiO2"}, "el", "comp", num_trees=10
    )
    b = CM.predict_log10_eps(
        spark, mats, {"formula": "SiO2"}, "electronic", "comp", num_trees=10
    )
    assert a == b  # one memoized scorer serves both spellings


def test_predict_rejects_bad_types(spark, mats):
    with pytest.raises(ValueError, match="dielectric_type"):
        CM.predict_log10_eps(spark, mats, {"formula": "SiO2"}, "sideways", "comp")
    with pytest.raises(ValueError, match="model_type"):
        CM.predict_log10_eps(spark, mats, {"formula": "SiO2"}, "el", "nope")


def test_comp_model_in_corpus_quality(spark, mats):
    """Composition-only RF must capture real signal on its training
    corpus (reference comp models hit 0.986/0.967 with richer matminer
    features; floor here is lower but non-trivial)."""
    model = CM.train_model(mats, "el", "comp", num_trees=40)
    feats = scale_features_pop(
        CM.comp_features(CM._labels(mats)), CM.COMP_FEATURES
    ).dropna(subset=CM.COMP_FEATURES + ["label_el"])
    scored = model.transform(feats)
    c = scored.select(F.corr("pred_log10", "label_el").alias("c")).collect()[0]["c"]
    assert c > 0.8, c


def test_cli_requires_exactly_one_source(capsys):
    with pytest.raises(SystemExit):
        cli.main(["predict", "-diel", "el", "-des", "comp"])
    with pytest.raises(SystemExit):
        cli.main(
            ["predict", "-c", "SiO2", "-s", "POSCAR", "-diel", "el", "-des", "comp"]
        )


def test_cli_predict_composition(spark, capsys):
    cli.main(["predict", "-diel", "el", "-des", "comp", "-c", "MgO", "--trees", "10"])
    out = capsys.readouterr().out
    assert "Predicted log10(epsilon):" in out
    assert "Predicted epsilon:" in out


def test_cli_structure_features_poscar(tmp_path):
    p = tmp_path / "POSCAR"
    p.write_text(
        "t\n1.0\n4 0 0\n0 4 0\n0 0 4\nMg O\n1 1\nDirect\n0 0 0\n0.5 0.5 0.5\n"
    )

    class A:
        structure = str(p)

    feats = cli._structure_features(A())
    assert feats["formula"] == "MgO"
    assert abs(feats["vol_per_site"] - 32.0) < 1e-9  # 64 Å³ / 2 sites (LU det)
    import math

    assert abs(feats["mean_min_dist"] - math.sqrt(12)) < 1e-9  # (2,2,2) diag


def test_cli_structure_features_json(mp4747_json):
    class A:
        structure = mp4747_json

    feats = cli._structure_features(A())
    assert set("".join(c for c in feats["formula"] if c.isalpha())) <= set("CaSnO")
    assert feats["vol_per_site"] > 0


def test_cli_query_and_list(capsys):
    """`query <name> --json` prints one JSON object per row through the
    stdout sink; `list` enumerates the registry with its gate kind."""
    import json as _json

    from oxi_diel_db_spark.cli import main

    main(["query", "dq3_freshness_lag", "--json", "--sf-dir", "/root/testdata/sf0.001"])
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    rows = [_json.loads(l) for l in lines]
    assert len(rows) == 5 and all("hours_behind" in r for r in rows)

    main(["list"])
    out = capsys.readouterr().out
    assert "q01_pricing_summary" in out and "[oracle]" in out and "[rows-only]" in out


def test_cli_query_unknown_name_exits():
    import pytest

    from oxi_diel_db_spark.cli import main

    with pytest.raises(SystemExit, match="unknown query"):
        main(["query", "nope_not_a_query"])


def test_cli_stdout_sink_prints_reference_format(capsys):
    """S6 stdout sink, full contract: the CLI prints the reference's
    two prediction lines (main.py:36-37 format) verbatim through the
    stdout path — format string AND value both come from the
    hash-gated q93 pipeline."""
    import json as _json

    from oxi_diel_db_spark.cli import main

    main([
        "query", "q93_prediction_stdout", "--json",
        "--sf-dir", "/root/testdata/sf0.001",
    ])
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    rows = sorted((_json.loads(l) for l in lines), key=lambda r: r["line_no"])
    assert len(rows) == 2
    assert rows[0]["line"].startswith("Prediction result (log10): ")
    assert rows[1]["line"].startswith("Prediction result (not log value): ")
    # the two lines agree: 10**log10_value == plain value (to print precision)
    log_v = float(rows[0]["line"].rsplit(" ", 1)[1])
    lin_v = float(rows[1]["line"].rsplit(" ", 1)[1])
    assert abs(10 ** log_v - lin_v) < 1e-4
