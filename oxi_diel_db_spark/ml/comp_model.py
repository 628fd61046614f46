"""Composition/structure prediction models — the engine twin of the
reference's four model configs (el/ion × comp/comp_st,
ml_prediction.py:69-276).

Unlike ml/pipeline.py (which uses database fields and exists for
in-corpus analytics), these models use only features computable from
the PREDICTION TARGET itself:

* ``comp``    — formula-string features (Stoichiometry p-norms, EN
  stats, BandCenter, TMetalFraction, atom count) — works for any
  composition, like the reference's comp models.
* ``comp_st`` — adds structure-derived features (volume/site, density,
  NN-distance stats) — requires a structure (JSON record or POSCAR),
  like the reference's comp_st models.

Training data: the ingested corpus; labels log10(epsilon_*_avg) — the
reference's training target (its trained artifacts are missing from
the repo copy, .MISSING_LARGE_BLOBS:1-4, so retraining is the only
executable path; parity is statistical, SURVEY §5.2).
"""

from __future__ import annotations

import glob
import json
import math
import os
import threading
from typing import Callable, NamedTuple

from pyspark.errors import ArithmeticException, NumberFormatException
from pyspark.ml import PipelineModel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from oxi_diel_db_spark.functions import composition as C
from oxi_diel_db_spark.ml.pipeline import SCRATCH_DIR, load_or_fit, rf_pipeline, training_frame

COMP_FEATURES = [
    "p0", "p2", "p3", "p7",
    "tm_frac", "en_mean", "en_min", "en_max", "en_range",
    "band_center", "total_atoms",
]
STRUCT_FEATURES = ["vol_per_site", "density_proxy", "mean_min_dist", "std_min_dist"]

MODELS_DIR = os.path.join(SCRATCH_DIR, "models")


def feature_columns(formula_col: str = "formula") -> dict[str, Column]:
    """name → Column for every formula-only descriptor — the one place
    the COMP_FEATURES are defined, shared by batch featurization and the
    single-target scorer."""
    en = C.electronegativity_stats(formula_col)
    return {
        "p0": C.stoichiometry_pnorm(formula_col, 0),
        "p2": C.stoichiometry_pnorm(formula_col, 2),
        "p3": C.stoichiometry_pnorm(formula_col, 3),
        "p7": C.stoichiometry_pnorm(formula_col, 7),
        "tm_frac": C.tmetal_fraction(formula_col),
        "en_mean": en["en_mean"],
        "en_min": en["en_min"],
        "en_max": en["en_max"],
        "en_range": en["en_range"],
        "band_center": C.band_center(formula_col),
        "total_atoms": C.total_atoms(formula_col),
    }


def comp_features(df: DataFrame, formula_col: str = "formula") -> DataFrame:
    """Formula-only descriptor columns (P3 'wide derived projection')."""
    return df.withColumns(feature_columns(formula_col))


def struct_features_from_corpus(materials: DataFrame) -> DataFrame:
    """Structure descriptors for every corpus record (used at training
    time for comp_st)."""
    from oxi_diel_db_spark.operators.site_features import min_distance_stats

    base = materials.select(
        "mp_id",
        "formula",
        (F.col("structure.lattice.volume") / F.col("nsites")).alias("vol_per_site"),
        (F.col("nsites") / F.col("structure.lattice.volume")).alias("density_proxy"),
        F.log10("dielectric.epsilon_electronic_avg").alias("label_el"),
        F.log10("dielectric.epsilon_ionic_avg").alias("label_ion"),
    )
    dist = min_distance_stats(materials).select(
        "mp_id", "mean_min_dist", "std_min_dist"
    )
    return base.join(dist, "mp_id")


def _labels(materials: DataFrame) -> DataFrame:
    return materials.select(
        "mp_id",
        "formula",
        F.log10("dielectric.epsilon_electronic_avg").alias("label_el"),
        F.log10("dielectric.epsilon_ionic_avg").alias("label_ion"),
    )


def _features(des: str) -> list[str]:
    if des not in ("comp", "comp_st"):
        raise ValueError(f"des must be 'comp' or 'comp_st', got {des!r}")
    return COMP_FEATURES + (STRUCT_FEATURES if des == "comp_st" else [])


def _featurized(materials: DataFrame, des: str) -> DataFrame:
    """Unscaled training features plus both labels."""
    base = _labels(materials) if des == "comp" else struct_features_from_corpus(materials)
    return comp_features(base)


def _training_frame(materials: DataFrame, diel: str, des: str) -> DataFrame:
    return training_frame(_featurized(materials, des), _features(des), f"label_{diel}")


def train_model(
    materials: DataFrame,
    diel: str = "el",
    des: str = "comp",
    num_trees: int = 100,
    seed: int = 42,
) -> PipelineModel:
    """Train one of the four reference model configs."""
    feats = _training_frame(materials, diel, des)
    return rf_pipeline(_features(des), f"label_{diel}", num_trees, seed).fit(feats)


def _scaling_stats(materials: DataFrame, des: str) -> DataFrame:
    """The population-std scaler is fit on the TRAINING corpus; single
    predictions must reuse those stats (the reference persists its
    fitted StandardScalers, prediction_model/*_scaler.joblib)."""
    features = _features(des)
    return _featurized(materials, des).agg(
        *[F.avg(c).alias(f"{c}__mu") for c in features],
        *[F.stddev_pop(c).alias(f"{c}__sd") for c in features],
    )


#: One tree as five node-indexed lists: left child (-1 at a leaf), right
#: child, split feature, split threshold and prediction.
_Tree = tuple[list[int], list[int], list[int], list[float], list[float]]

_FOREST_CLASS = "org.apache.spark.ml.regression.RandomForestRegressionModel"
_NODE_COLUMNS = [
    "treeID",
    "nodeData.id",
    "nodeData.prediction",
    "nodeData.leftChild",
    "nodeData.rightChild",
    "nodeData.split.featureIndex",
    "nodeData.split.leftCategoriesOrThreshold",
    "nodeData.split.numCategories",
]


def _read_forest(model_dir: str, num_features: int) -> list[_Tree]:
    """The forest of a saved ``rf_pipeline`` model, read from its node
    table (``stages/1_*/data``, one row per node) without Spark.

    The layout is the one Spark's tree-ensemble writer uses: node ids
    are dense per tree in pre-order (root 0, children after their
    parent), a leaf has ``leftChild == -1`` and a continuous split has
    ``numCategories == -1`` and one threshold. Anything else — another
    model class, a feature count other than ``num_features``, a tree
    count other than the metadata's ``numTrees``, a categorical split,
    a child out of range, a missing or unreadable file — raises."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    (stage,) = glob.glob(os.path.join(model_dir, "stages", "1_*"))
    (meta_file,) = glob.glob(os.path.join(stage, "metadata", "part-*"))
    with open(meta_file) as fr:
        meta = json.loads(fr.readline())
    if meta["class"] != _FOREST_CLASS or meta["numFeatures"] != num_features:
        raise ValueError(f"{stage}: not a {num_features}-feature regression forest")
    num_trees = meta["numTrees"]

    table = pq.read_table(os.path.join(stage, "data"), columns=_NODE_COLUMNS)
    if any(col.null_count for col in table.columns):
        raise ValueError(f"{stage}: null in the node table")
    col = dict(zip(table.column_names, table.columns))
    lists = col.pop("leftCategoriesOrThreshold")
    col = {c: v.to_numpy() for c, v in col.items()}
    col["n_thresholds"] = pc.list_value_length(lists).to_numpy()
    col["threshold"] = np.full(table.num_rows, math.nan)
    col["threshold"][pc.list_parent_indices(lists).to_numpy()] = pc.list_flatten(lists).to_numpy()
    order = np.lexsort((col["id"], col["treeID"]))
    col = {c: v[order] for c, v in col.items()}

    tree_id = col["treeID"]
    starts = np.flatnonzero(np.r_[True, tree_id[1:] != tree_id[:-1]])
    ends = np.r_[starts[1:], len(tree_id)]
    node = np.arange(len(tree_id)) - np.repeat(starts, ends - starts)
    size = np.repeat(ends - starts, ends - starts)
    left, right, feature = col["leftChild"], col["rightChild"], col["featureIndex"]
    inner = left != -1
    ok = (
        len(tree_id) > 0
        and len(starts) == num_trees
        and np.array_equal(col["id"], node)
        and (right[~inner] == -1).all()
        and (col["numCategories"][inner] == -1).all()
        and (col["n_thresholds"][inner] == 1).all()
        and ((feature[inner] >= 0) & (feature[inner] < num_features)).all()
        and all(
            ((child[inner] > node[inner]) & (child[inner] < size[inner])).all()
            for child in (left, right)
        )
    )
    if not ok:
        raise ValueError(f"{stage}: not a forest of dense continuous-split trees")
    parts = [left, right, feature, col["threshold"], col["prediction"]]
    return [tuple(p[a:b].tolist() for p in parts) for a, b in zip(starts, ends)]


def _predict(forest: list[_Tree], x: list[float]) -> float:
    """``RandomForestRegressionModel.predict``: each tree sends ``x``
    left when ``x[feature] <= threshold`` (``ContinuousSplit``), and the
    leaf predictions are summed in tree order from 0.0 and divided by
    the tree count."""
    total = 0.0
    for left, right, feature, threshold, prediction in forest:
        i = 0
        while (j := left[i]) != -1:
            i = j if x[feature[i]] <= threshold[i] else right[i]
        total += prediction[i]
    return total / len(forest)


class _Scorer(NamedTuple):
    """One config's single-target scorer: the forest's node lists and
    the scaled feature expressions, compiled once into ``featurize``
    over the target's inputs (``formula``, then for comp_st the four
    structure doubles). Holds no prediction."""

    stamp: tuple
    forest: list[_Tree]
    features: list[str]
    inputs: list[str]
    featurize: Callable[[list], list]


#: (diel, des, num_trees) → scorer. An entry is rebuilt when its stamp —
#: the SparkContext, the model directory's and scaler file's mtimes and
#: the ANSI mode (the resolved casts and divisions carry their eval
#: mode) — no longer matches, so a restarted session, a rewritten
#: artifact or a flipped mode is never served from a stale projection.
_SCORERS: dict[tuple[str, str, int], _Scorer] = {}


def _stamp(spark: SparkSession, diel: str, des: str, num_trees: int) -> tuple:
    def mtime(path: str) -> int | None:
        try:
            return os.stat(path).st_mtime_ns
        except OSError:
            return None

    return (
        spark.sparkContext,
        mtime(_model_path(diel, des, num_trees)),
        mtime(_scaler_path(des)),
        spark.conf.get("spark.sql.ansi.enabled"),
    )


def _featurizer(
    spark: SparkSession, inputs: list[str], columns: list[Column]
) -> Callable[[list], list]:
    """``columns`` as one interpreted ``UnsafeProjection`` over a row of
    ``inputs``, returned as ``values → [feature or None]``.

    The plan is analyzed and optimized once, over an empty RDD relation
    the optimizer cannot fold. The optimized projectList is the one
    taken: the optimizer has replaced its ``RuntimeReplaceable`` nodes
    (the tokenizer's ``nullif``), which cannot be evaluated. Interpreted,
    not generated: py4j caches a method by its class's name, and every
    generated projection class has the same name, so a second generated
    projection in one JVM would be called through the first one's method.
    """
    sc = spark.sparkContext
    jvm = sc._jvm
    X = jvm.org.apache.spark.sql.catalyst.expressions
    schema = StructType(
        [StructField(c, StringType() if c == "formula" else DoubleType()) for c in inputs]
    )
    plan = spark.createDataFrame(sc.emptyRDD(), schema).select(*columns)
    plan = plan._jdf.queryExecution().optimizedPlan()
    attrs = getattr(X, "package$AttributeSeq")(plan.child().output())
    projection = X.InterpretedUnsafeProjection.createProjection(
        X.BindReferences.bindReferences(plan.projectList(), attrs)
    )
    new_array, obj = sc._gateway.new_array, jvm.java.lang.Object
    utf8, row_of = jvm.org.apache.spark.unsafe.types.UTF8String, X.GenericInternalRow
    n = len(columns)
    lock = threading.Lock()  # the projection reuses one output row

    def featurize(values: list) -> list:
        arr = new_array(obj, len(values))
        arr[0] = utf8.fromString(values[0])
        for i, v in enumerate(values[1:], 1):
            arr[i] = v
        row_in = row_of(arr)
        with lock:
            row = projection.apply(row_in)
            return [None if row.isNullAt(i) else row.getDouble(i) for i in range(n)]

    return featurize


def _scorer(
    spark: SparkSession, materials: DataFrame, diel: str, des: str, num_trees: int
) -> _Scorer:
    key = (diel, des, num_trees)
    stamp = _stamp(spark, *key)
    hit = _SCORERS.get(key)
    if hit is not None and hit.stamp == stamp:
        return hit
    features = _features(des)
    path = _model_path(*key)
    try:
        forest = _read_forest(path, len(features))
    except (OSError, ValueError, LookupError, TypeError):
        # missing, truncated or garbled (pyarrow raises OSError or
        # ValueError subclasses): the load_or_fit policy loads it with
        # Spark or else refits and saves it
        load_or_train(spark, materials, *key)
        forest = _read_forest(path, len(features))
    stats = _load_or_compute_scaler(spark, materials, des)
    # a missing or unusable artifact has just been (re)written
    stamp = _stamp(spark, *key)
    exprs = {**feature_columns(), **{c: F.col(c) for c in STRUCT_FEATURES}}
    columns = []
    for c in features:
        mu, sd = stats[f"{c}__mu"], stats[f"{c}__sd"]
        sd = sd if sd and sd > 0 else 1.0
        columns.append(((exprs[c] - F.lit(mu)) / F.lit(sd)).alias(c))
    inputs = ["formula"] + (STRUCT_FEATURES if des == "comp_st" else [])
    featurize = _featurizer(spark, inputs, columns)
    scorer = _Scorer(stamp, forest, features, inputs, featurize)
    _SCORERS[key] = scorer
    return scorer


def predict_log10_eps(
    spark: SparkSession,
    materials: DataFrame,
    target: dict,
    dielectric_type: str = "el",
    model_type: str = "comp",
    num_trees: int = 100,
) -> float:
    """Engine twin of the reference's library API
    (``predict_log10_eps(target, dielectric_type, model_type) -> float``,
    ml_prediction.py:54-57).

    ``target``: {"formula": str} for comp; add {"vol_per_site":,
    "density_proxy":, "mean_min_dist":, "std_min_dist":} for comp_st
    (computed by the CLI from a structure JSON/POSCAR).

    Accepts both the documented and the implemented spelling of the
    dielectric type — the reference's CLI advertises "electronic"/
    "ionic" but its library only accepts "el"/"ion" (main.py:11-12 vs
    ml_prediction.py:64-65); the engine accepts all four.

    Served on the driver, like the reference's in-process joblib model:
    the memoized scorer's projection evaluates the target's row in the
    JVM (no plan is analyzed and no Spark job runs per call) and the
    trees read from the saved node table are walked in Python with
    Spark's own arithmetic. A cold scorer reads the artifact with
    pyarrow and starts no Spark job; ``materials`` is read only when an
    artifact has to be trained or the scaler computed. Batch scoring
    stays ``model.transform``.
    """
    diel = {"electronic": "el", "ionic": "ion", "el": "el", "ion": "ion"}.get(
        dielectric_type
    )
    if diel is None:
        raise ValueError(
            f"dielectric_type must be one of el/electronic/ion/ionic, got {dielectric_type!r}"
        )
    if model_type not in ("comp", "comp_st"):
        raise ValueError(f"model_type must be 'comp' or 'comp_st', got {model_type!r}")

    scorer = _scorer(spark, materials, diel, model_type, num_trees)
    formula = target["formula"]
    values = [formula] + [float(target[c]) for c in scorer.inputs[1:]]
    try:
        feats = scorer.featurize(values)
    except (ArithmeticException, NumberFormatException) as e:
        # ANSI mode raises where legacy mode yields null: 0/0 for an
        # empty formula, a malformed count such as 'Si1.5.O2'
        raise ValueError(f"cannot featurize formula {formula!r}: {e.getCondition()}") from e
    bad = [c for c, v in zip(scorer.features, feats) if v is None or math.isnan(v)]
    if bad:
        raise ValueError(
            f"cannot score formula {formula!r}: null/NaN features {', '.join(bad)}"
        )
    return _predict(scorer.forest, feats)


def _model_path(diel: str, des: str, num_trees: int) -> str:
    return os.path.join(MODELS_DIR, f"{diel}_{des}_{num_trees}")


def _scaler_path(des: str) -> str:
    return os.path.join(MODELS_DIR, f"scaler_{des}.json")


def _load_or_compute_scaler(spark: SparkSession, materials: DataFrame, des: str) -> dict:
    """Persisted scaling stats — the engine twin of the reference's
    fitted StandardScaler artifacts (prediction_model/*_scaler.joblib):
    fit once on the training corpus, reuse for every prediction (a
    comp_st stats pass re-runs the pairwise site kernel otherwise).
    The load_or_fit policy: a file that is missing, does not parse or
    lacks a feature's stat is recomputed, saved over and returned."""
    path = _scaler_path(des)
    keys = {f"{c}__{stat}" for c in _features(des) for stat in ("mu", "sd")}
    try:
        with open(path) as fr:
            stats = json.load(fr)
        if isinstance(stats, dict) and keys <= stats.keys():
            return stats
    except (OSError, ValueError):
        pass  # missing, unreadable or truncated: recompute
    stats = _scaling_stats(materials, des).collect()[0].asDict()
    os.makedirs(MODELS_DIR, exist_ok=True)
    with open(path, "w") as fw:
        json.dump(stats, fw)
    return stats


def load_or_train(
    spark: SparkSession,
    materials: DataFrame,
    diel: str,
    des: str,
    num_trees: int = 100,
) -> PipelineModel:
    """The config's model artifact under .scratch/models (load_or_fit:
    load, else train, save and return)."""
    return load_or_fit(
        _model_path(diel, des, num_trees),
        lambda: train_model(materials, diel, des, num_trees),
    )


def train_test_split(df: DataFrame, key: str = "mp_id", test_rate: float = 0.2, seed: int = 42):
    """Deterministic content-hash split (operators/sampling.hash_sample
    mechanism): reproducible across runs/partitionings, and rows keep
    their side when the corpus grows — unlike randomSplit."""
    from oxi_diel_db_spark.operators.sampling import hash_hex8, rate_threshold

    gate = hash_hex8(key, seed) < F.lit(rate_threshold(test_rate))
    return df.filter(~gate), df.filter(gate)


def evaluate(materials: DataFrame, diel: str = "el", des: str = "comp",
             num_trees: int = 100, seed: int = 42) -> dict:
    """Held-out evaluation of one model config: train on ~80%, report
    corr/RMSE on the unseen 20% — the generalization check the
    reference never ran (its golden files are in-corpus predictions)."""
    label = f"label_{diel}"
    train_df, test_df = train_test_split(
        _training_frame(materials, diel, des), "mp_id", 0.2, seed
    )
    model = rf_pipeline(_features(des), label, num_trees, seed).fit(train_df)
    scored = model.transform(test_df)
    row = scored.agg(
        F.corr("pred_log10", label).alias("corr"),
        F.sqrt(F.avg(F.pow(F.col("pred_log10") - F.col(label), 2))).alias("rmse"),
        F.count(F.lit(1)).alias("n_test"),
    ).collect()[0]
    return {"corr": row["corr"], "rmse": row["rmse"], "n_test": row["n_test"]}
