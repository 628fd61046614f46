"""The one model-artifact policy: ``ml/pipeline.load_or_fit`` loads a
saved model and otherwise fits, saves and returns one; the persisted
reference descriptors (``reference_parity.materialized``) are read only
when Spark's ``_SUCCESS`` marker says the write completed."""

from __future__ import annotations

import pytest
from pyspark.ml import PipelineModel
from pyspark.sql import functions as F

from oxi_diel_db_spark.ml import pipeline as P
from oxi_diel_db_spark.queries import reference_parity as RP
from oxi_diel_db_spark.sources import materials as M


@pytest.fixture(scope="module")
def tiny(spark):
    return spark.createDataFrame(
        [(float(i), float(i % 3), float(2 * i + i % 3)) for i in range(40)],
        "x double, z double, y double",
    )


def _counting_fit(df, calls):
    def fit():
        calls.append(1)
        return P.rf_pipeline(["x", "z"], "y", 3, 42).fit(df)

    return fit


def _preds(model, df):
    return sorted(map(tuple, model.transform(df).select("x", "pred_log10").collect()))


def _preds_by_id(model, feats):
    return sorted(map(tuple, P.score(model, feats).collect()))


@pytest.mark.parametrize("state", ["missing", "empty", "garbage"])
def test_load_or_fit_refits_saves_then_loads(tiny, tmp_path, state):
    path = tmp_path / "models" / "rf"
    if state != "missing":
        path.mkdir(parents=True)
    if state == "garbage":  # a half-written artifact
        (path / "metadata").write_text("not a model\n")
    calls = []
    fit = _counting_fit(tiny, calls)
    first = P.load_or_fit(str(path), fit)
    assert calls == [1]
    second = P.load_or_fit(str(path), fit)
    assert calls == [1]  # loaded from the saved artifact, not refit
    assert isinstance(second, PipelineModel)
    assert _preds(second, tiny) == _preds(first, tiny)


def test_descriptor_dir_without_success_is_rebuilt(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(P, "SCRATCH_DIR", str(tmp_path))
    builds = []

    def descriptors(spark):
        builds.append(1)
        return spark.createDataFrame([("mp-1", "SiO2", 1.0)], "mp_id string, formula string, v double")

    monkeypatch.setitem(RP.REFERENCE_CONFIGS, "el_comp", RP.RefConfig(descriptors, ["v"], "label_el"))
    path = tmp_path / "ref_el_comp_descriptors.parquet"
    # an interrupted write: a part file but no _SUCCESS marker
    spark.createDataFrame([("stale", "X", 9.0)], "mp_id string, formula string, v double").write.parquet(
        str(path)
    )
    (path / "_SUCCESS").unlink()

    rows = [tuple(r) for r in RP.materialized(spark, "el_comp").collect()]
    assert builds == [1]
    assert rows == [("mp-1", "SiO2", 1.0)]
    assert (path / "_SUCCESS").exists()
    assert [tuple(r) for r in RP.materialized(spark, "el_comp").collect()] == rows
    assert builds == [1]  # a complete write is read back, not rebuilt


def test_half_written_reference_model_is_refit(spark, tmp_path, monkeypatch):
    """A reference model directory left empty by an interrupted save is
    refit and saved once, then loaded."""
    monkeypatch.setattr(P, "SCRATCH_DIR", str(tmp_path))

    def descriptors(spark):
        return M.materials(spark).select(
            "mp_id", "formula", F.col("nsites").cast("double").alias("v")
        )

    monkeypatch.setitem(RP.REFERENCE_CONFIGS, "el_comp", RP.RefConfig(descriptors, ["v"], "label_el"))
    model_dir = tmp_path / "models" / "ref_el_comp_rf60"
    model_dir.mkdir(parents=True)
    fits = []
    real = P.rf_pipeline

    def counted(*args):
        fits.append(args)
        return real(*args)

    monkeypatch.setattr(P, "rf_pipeline", counted)

    model, feats = RP.train_reference(spark, "el_comp")
    assert [a[2:] for a in fits] == [(60, 42)]
    assert (model_dir / "metadata").is_dir()
    again, _ = RP.train_reference(spark, "el_comp")
    assert len(fits) == 1  # loaded, not refit
    assert _preds_by_id(again, feats) == _preds_by_id(model, feats)
