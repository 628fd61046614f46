"""Single-target serving of ``predict_log10_eps``: the driver-side
scorer must give the batch ``model.transform`` answer bit for bit in
both ANSI modes, walk the saved trees exactly as Spark's forest does
(splits on their thresholds included), start no Spark job when cold
with the artifacts present and plan no query once warm, refit an
artifact it cannot read, serve concurrent callers, refuse formulas it
cannot featurize, and reload when its session, artifacts or ANSI mode
change."""

from __future__ import annotations

import glob
import json
import math
import os
import re
import shutil
import subprocess
import sys
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.ml import PipelineModel
from pyspark.ml.linalg import Vectors
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from oxi_diel_db_spark.ml import comp_model as CM
from oxi_diel_db_spark.session import conf_scope
from oxi_diel_db_spark.sources import materials as M

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONFIGS = [(diel, des) for diel in ("el", "ion") for des in ("comp", "comp_st")]
TREES = 10


@pytest.fixture(scope="module")
def mats(spark):
    return M.materials(spark)


@pytest.fixture(scope="module")
def targets(mats):
    """20 corpus records with the structure features comp_st needs."""
    rows = (
        CM.struct_features_from_corpus(mats)
        .select("mp_id", "formula", *CM.STRUCT_FEATURES)
        .dropna()
        .orderBy("mp_id")
        .limit(20)
        .collect()
    )
    return [r.asDict() for r in rows]


@pytest.fixture(params=["false", "true"], ids=["ansi_off", "ansi_on"])
def ansi(spark, request):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", request.param)
    yield request.param
    spark.conf.set("spark.sql.ansi.enabled", prev)


def _batch(spark, mats, targets, des, model):
    """The answer before single-target serving: ``comp_features`` plus
    the persisted scaler, scored by ``model.transform`` in one job."""
    features = CM.COMP_FEATURES + (CM.STRUCT_FEATURES if des == "comp_st" else [])
    stats = CM._load_or_compute_scaler(spark, mats, des)
    df = CM.comp_features(
        spark.createDataFrame([{**t, "i": i} for i, t in enumerate(targets)])
    )
    for c in features:
        mu, sd = stats[f"{c}__mu"], stats[f"{c}__sd"]
        sd = sd if sd and sd > 0 else 1.0
        df = df.withColumn(c, (F.col(c) - F.lit(mu)) / F.lit(sd))
    return [p for _, p in sorted(model.transform(df).select("i", "pred_log10").collect())]


@pytest.mark.parametrize("diel,des", CONFIGS)
def test_served_value_bit_identical_to_batch_transform(spark, mats, targets, ansi, diel, des):
    model = CM.load_or_train(spark, mats, diel, des, TREES)
    expected = _batch(spark, mats, targets, des, model)
    served = [CM.predict_log10_eps(spark, mats, t, diel, des, TREES) for t in targets]
    assert served == expected


def _threshold_vectors(forest, n):
    """Vectors that meet split thresholds exactly: for each tree, start
    from the scaled mean (all zeros) and walk from the root, setting
    each split's feature, the first time the walk meets it, to the
    split's threshold (and, in the second vector, one ulp above it)."""
    out = []
    for left, right, feature, threshold, _ in forest:
        for bump in (False, True):
            x, fixed, i = [0.0] * n, set(), 0
            while left[i] != -1:
                f, t = feature[i], threshold[i]
                if f not in fixed:
                    x[f] = math.nextafter(t, math.inf) if bump else t
                    fixed.add(f)
                i = left[i] if x[f] <= t else right[i]
            out.append(x)
    return out


@pytest.mark.parametrize("diel,des", CONFIGS)
def test_tree_walk_matches_spark_on_split_thresholds(spark, mats, diel, des):
    CM.load_or_train(spark, mats, diel, des, TREES)
    path = CM._model_path(diel, des, TREES)
    rf = PipelineModel.load(path).stages[-1]
    n = len(CM._features(des))
    forest = CM._read_forest(path, n)
    vectors = _threshold_vectors(forest, n)
    walked = [CM._predict(forest, x) for x in vectors]
    assert walked == [rf.predict(Vectors.dense(x)) for x in vectors]


@pytest.mark.parametrize(
    "edit",
    [
        {"numTrees": TREES + 1},
        {"numFeatures": len(CM.COMP_FEATURES) + 1},
        {"class": "org.apache.spark.ml.classification.RandomForestClassificationModel"},
    ],
    ids=["tree_count", "feature_count", "class"],
)
def test_forest_reader_refuses_metadata_it_does_not_match(spark, mats, tmp_path, edit):
    CM.load_or_train(spark, mats, "el", "comp", TREES)
    path = str(tmp_path / "model")
    shutil.copytree(CM._model_path("el", "comp", TREES), path)
    (meta,) = glob.glob(os.path.join(path, "stages", "1_*", "metadata", "part-*"))
    with open(meta) as fr:
        doc = json.loads(fr.readline())
    with open(meta, "w") as fw:
        fw.write(json.dumps({**doc, **edit}) + "\n")
    with pytest.raises(ValueError, match="not a"):
        CM._read_forest(path, len(CM.COMP_FEATURES))


def _jobs_in_group(spark, action):
    """Spark job ids ``action`` starts, with a control job run after it
    in the same group so an empty answer means none, not a lost group."""
    sc = spark.sparkContext
    group = f"serving-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "predict_log10_eps")
    try:
        action()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        spark.range(3).collect()  # control: the group does see jobs
        control = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert control
    return jobs


def test_warm_call_starts_no_spark_job(spark, mats):
    target = {"formula": "BaTiO3"}
    CM.predict_log10_eps(spark, mats, target, "el", "comp", TREES)  # warm
    jobs = _jobs_in_group(
        spark, lambda: CM.predict_log10_eps(spark, mats, target, "el", "comp", TREES)
    )
    assert jobs == []


def test_cold_scorer_build_starts_no_spark_job(spark, mats, monkeypatch):
    """With the artifacts on disk, a scorer built from nothing reads the
    forest's node table without Spark: no ``PipelineModel.load``."""
    target = {"formula": "BaTiO3"}
    expected = CM.predict_log10_eps(spark, mats, target, "el", "comp", TREES)
    monkeypatch.setattr(CM, "_SCORERS", {})
    served = []
    jobs = _jobs_in_group(
        spark,
        lambda: served.append(CM.predict_log10_eps(spark, mats, target, "el", "comp", TREES)),
    )
    assert jobs == []
    assert served == [expected]


def _truncate_part_file(model_dir):
    (part,) = glob.glob(os.path.join(model_dir, "stages", "1_*", "data", "part-*"))
    with open(part, "r+b") as fh:
        fh.truncate(os.path.getsize(part) // 2)


def _drop_data_dir(model_dir):
    (data,) = glob.glob(os.path.join(model_dir, "stages", "1_*", "data"))
    shutil.rmtree(data)


@pytest.mark.parametrize("damage", [_truncate_part_file, _drop_data_dir], ids=["truncated", "no_data"])
def test_unreadable_forest_is_refit_once_and_served(spark, mats, monkeypatch, tmp_path, damage):
    monkeypatch.setattr(CM, "MODELS_DIR", str(tmp_path))
    key = ("el", "comp", 3)
    target = {"formula": "SrTiO3"}
    CM.load_or_train(spark, mats, *key)
    path = CM._model_path(*key)
    damage(path)
    monkeypatch.setattr(CM, "_SCORERS", {})  # a fresh process
    fits = []
    train = CM.train_model

    def counting_train(*a, **k):
        fits.append(1)
        return train(*a, **k)

    monkeypatch.setattr(CM, "train_model", counting_train)
    served = [CM.predict_log10_eps(spark, mats, target, *key) for _ in range(2)]
    assert fits == [1]
    assert CM._read_forest(path, len(CM.COMP_FEATURES))  # saved whole
    expected = _batch(spark, mats, [target], "comp", PipelineModel.load(path))[0]
    assert served == [expected, expected]


@pytest.mark.parametrize("formula", ["Xx2O3", "", "sio2"])
def test_unscorable_formula_raises_value_error(spark, mats, ansi, formula):
    with pytest.raises(ValueError, match=f"formula {re.escape(repr(formula))}"):
        CM.predict_log10_eps(spark, mats, {"formula": formula}, "el", "comp", TREES)


def test_unscorable_formula_names_its_null_features(spark, mats):
    with pytest.raises(ValueError, match="null/NaN features en_mean, band_center"):
        CM.predict_log10_eps(spark, mats, {"formula": "Xx2O3"}, "el", "comp", TREES)


def test_memo_reloads_rewritten_artifacts(spark, mats, monkeypatch, tmp_path):
    monkeypatch.setattr(CM, "MODELS_DIR", str(tmp_path))
    monkeypatch.setattr(CM, "_SCORERS", {})
    key = ("el", "comp", 3)
    target = {"formula": "SrTiO3"}

    def served():
        return CM.predict_log10_eps(spark, mats, target, *key)

    v1 = served()  # trains and writes both artifacts
    first = CM._SCORERS[key]
    assert served() == v1 and CM._SCORERS[key] is first

    # deleted and re-created by load_or_train: reloaded, same forest
    shutil.rmtree(CM._model_path(*key))
    CM.load_or_train(spark, mats, *key)
    assert served() == v1
    second = CM._SCORERS[key]
    assert second is not first

    # overwritten with another forest: the served answer follows it
    other = CM.train_model(mats, "el", "comp", 3, seed=7)
    other.write().overwrite().save(CM._model_path(*key))
    v3 = served()
    assert CM._SCORERS[key] is not second
    assert v3 == _batch(spark, mats, [target], "comp", other)[0] != v1

    # a rewritten scaler is picked up as well
    path = CM._scaler_path("comp")
    with open(path) as fr:
        stats = json.load(fr)
    stats["en_mean__mu"] += 0.5
    with open(path, "w") as fw:
        json.dump(stats, fw)
    v4 = served()
    assert v4 == _batch(spark, mats, [target], "comp", other)[0]
    assert v4 != v3


def test_unusable_scaler_is_recomputed_and_saved(spark, mats, monkeypatch, tmp_path):
    """The scaler follows the model-artifact policy: a file that is
    truncated, not text, or missing a feature's stat is recomputed,
    saved over and served, and later calls read the rewritten file."""
    monkeypatch.setattr(CM, "MODELS_DIR", str(tmp_path))
    monkeypatch.setattr(CM, "_SCORERS", {})
    key = ("el", "comp", 3)
    target = {"formula": "SiO2"}
    clean = CM.predict_log10_eps(spark, mats, target, *key)
    path = CM._scaler_path("comp")
    with open(path) as fr:
        stats = json.load(fr)
    text = json.dumps(stats)
    missing_key = json.dumps({k: v for k, v in stats.items() if k != "en_mean__sd"})
    for broken in (text[: len(text) // 2].encode(), b"\xff\xfe\x00", missing_key.encode()):
        with open(path, "wb") as fw:
            fw.write(broken)
        served = [CM.predict_log10_eps(spark, mats, target, *key) for _ in range(2)]
        assert served == [clean, clean]
        with open(path) as fr:
            assert json.load(fr) == stats


_RESTART = """
import json
from oxi_diel_db_spark.ml import comp_model as CM
from oxi_diel_db_spark.session import conf_scope
from oxi_diel_db_spark.session import get_spark
from oxi_diel_db_spark.sources.materials import materials

def predict():
    spark = get_spark("serving-restart")
    v = CM.predict_log10_eps(spark, materials(spark), {"formula": "BaTiO3"}, "el", "comp", 10)
    return spark, v, CM._SCORERS[("el", "comp", 10)]

spark, v1, s1 = predict()
spark.stop()
spark, v2, s2 = predict()
spark.stop()
print(json.dumps({"v1": v1, "v2": v2, "reloaded": s2 is not s1}))
"""


def test_restarted_session_reloads_and_predicts_the_same(spark, mats):
    """Stop the session and start another in the same process (a child
    process, so the suite's session stays up): the scorer is rebuilt
    for the new SparkContext and answers exactly as before."""
    expected = CM.predict_log10_eps(spark, mats, {"formula": "BaTiO3"}, "el", "comp", TREES)
    env = {
        **os.environ,
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    out = subprocess.run(
        [sys.executable, "-c", _RESTART],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result == {"v1": expected, "v2": expected, "reloaded": True}


def test_scorer_follows_a_flipped_ansi_mode(spark, mats):
    """A scorer warmed with ANSI off is rebuilt when ANSI is turned on:
    the resolved casts carry their eval mode, so a malformed count
    raises instead of scoring nulls."""
    with conf_scope(spark, {"spark.sql.ansi.enabled": "false"}):
        CM.predict_log10_eps(spark, mats, {"formula": "BaTiO3"}, "el", "comp", TREES)
        with pytest.raises(ValueError, match="null/NaN features"):
            CM.predict_log10_eps(spark, mats, {"formula": "Si1.5.O2"}, "el", "comp", TREES)
    with conf_scope(spark, {"spark.sql.ansi.enabled": "true"}):
        with pytest.raises(ValueError, match="CAST_INVALID_INPUT"):
            CM.predict_log10_eps(spark, mats, {"formula": "Si1.5.O2"}, "el", "comp", TREES)


def test_concurrent_calls_return_the_serial_values(spark, mats):
    """The scorer's projection reuses one output row; four threads
    scoring 25 corpus formulas each get exactly the serial answers."""
    formulas = [
        r.formula
        for r in mats.select("formula").distinct().orderBy("formula").limit(25).collect()
    ]

    def score_all():
        return [
            CM.predict_log10_eps(spark, mats, {"formula": f}, "el", "comp", TREES)
            for f in formulas
        ]

    serial = score_all()
    start = threading.Barrier(4)

    def worker():
        start.wait()
        return score_all()

    with ThreadPoolExecutor(4) as pool:
        results = [f.result() for f in [pool.submit(worker) for _ in range(4)]]
    assert results == [serial] * 4


def test_warm_call_runs_no_sql_and_builds_no_dataframe(spark, mats, monkeypatch):
    target = {"formula": "BaTiO3"}
    expected = CM.predict_log10_eps(spark, mats, target, "el", "comp", TREES)  # warm

    def refuse(*_a, **_k):
        raise AssertionError("a warm predict_log10_eps must not plan a query")

    monkeypatch.setattr(SparkSession, "sql", refuse)
    monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
    assert CM.predict_log10_eps(spark, mats, target, "el", "comp", TREES) == expected
