"""Dielectric-constant prediction on Spark MLlib.

Reference lifecycle (ml_prediction.py:54-282): featurize →
StandardScaler → RandomForestRegressor → log10(ε) prediction, four
model configs (el/ion × comp/comp_st). The trained RF artifacts are
absent from the reference copy (.MISSING_LARGE_BLOBS:1-4), so parity is
statistical: corr(pred, log10 ε_avg) vs the golden files' 0.986/0.967
(SURVEY §5.2, BASELINE.md).

Engine mapping:
* descriptor vector  → VectorAssembler over expression-derived columns
  (featurize() — pure Catalyst, no pandas crossing for these features)
* sklearn StandardScaler (ddof=0) → MLlib StandardScaler fits SAMPLE
  std (SURVEY §2.11 warning); we scale explicitly with SQL
  stddev_pop aggregates to reproduce the reference's semantics.
* RandomForestRegressor (sklearn) → pyspark.ml RandomForestRegressor;
  batch scoring = model.transform (one pass, executor-parallel).

Every model config — this module's in-corpus model, ml/comp_model's
four and queries/reference_parity's four — runs the same lifecycle:
training_frame → rf_pipeline → load_or_fit → score.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.regression import RandomForestRegressor
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oxi_diel_db_spark.functions import arrays as A

FEATURES = [
    "band_gap",
    "nsites",
    "nelements",
    "vol_per_site",
    "mean_abs_born_trace",
    "lowest_freq",
    "sg_number",
    "mean_site_z",
    "density_proxy",
]


_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: Local artifact root (git-ignored): model caches, persisted descriptors.
SCRATCH_DIR = os.path.join(_ROOT, ".scratch")

# Committed pre-trained artifacts (S5 surface): the reference ships its
# fitted models as .joblib blobs; the engine ships MLlib PipelineModel
# directories under data/models so a fresh checkout scores without
# paying RF training (regenerate with scripts/train_models.py after any
# featurize()/hyperparameter change — the artifact pins FEATURES order).
REPO_MODELS_DIR = os.path.join(_ROOT, "data", "models")


def featurize(materials: DataFrame) -> DataFrame:
    """Descriptor columns from the document itself — the engine twin of
    the reference's composition/structure featurizers (§2.9), kept in
    Catalyst expressions (P3 'wide derived projection')."""
    m = materials
    return m.select(
        "mp_id",
        F.col("band_gap").alias("band_gap"),
        F.col("nsites").cast("double").alias("nsites"),
        F.col("nelements").cast("double").alias("nelements"),
        (F.col("structure.lattice.volume") / F.col("nsites")).alias("vol_per_site"),
        F.col("born_effective_charge.avg_abs_trace").alias("mean_abs_born_trace"),
        F.col("phonon.lowest_freq").alias("lowest_freq"),
        F.col("spacegroup.number").cast("double").alias("sg_number"),
        A.array_mean(
            F.transform(F.col("structure.sites"), lambda s: F.element_at(s["xyz"], 3))
        ).alias("mean_site_z"),
        (F.col("nsites") / F.col("structure.lattice.volume")).alias("density_proxy"),
        F.log10("dielectric.epsilon_electronic_avg").alias("label_el"),
        F.log10("dielectric.epsilon_ionic_avg").alias("label_ion"),
    )


def scale_features_pop(df: DataFrame, cols: list[str]) -> DataFrame:
    """(x - mean) / stddev_pop per feature — reproduces sklearn
    StandardScaler (ddof=0) exactly, unlike MLlib's sample-std scaler.
    One aggregate pass; the tiny stats row broadcasts back as literals
    via a cross join (no second shuffle)."""
    stats = df.agg(
        *[F.avg(c).alias(f"{c}__mu") for c in cols],
        *[F.stddev_pop(c).alias(f"{c}__sd") for c in cols],
    )
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        sd = F.when(F.col(f"{c}__sd") > 0, F.col(f"{c}__sd")).otherwise(F.lit(1.0))
        out = out.withColumn(c, (F.col(c) - F.col(f"{c}__mu")) / sd)
    return out.drop(*[f"{c}__mu" for c in cols], *[f"{c}__sd" for c in cols])


def training_frame(df: DataFrame, features: list[str], label: str) -> DataFrame:
    """The one training frame of every model config: features scaled
    with population std, rows missing a feature or the label dropped."""
    return scale_features_pop(df, features).dropna(subset=[*features, label])


def rf_pipeline(features: list[str], label: str, num_trees: int, seed: int) -> Pipeline:
    """VectorAssembler → seeded depth-12 RandomForestRegressor writing
    ``pred_log10`` — the estimator of every model config."""
    return Pipeline(
        stages=[
            VectorAssembler(inputCols=features, outputCol="features"),
            RandomForestRegressor(
                featuresCol="features",
                labelCol=label,
                predictionCol="pred_log10",
                numTrees=num_trees,
                maxDepth=12,
                seed=seed,
            ),
        ]
    )


def load_or_fit(path: str, fit: Callable[[], PipelineModel]) -> PipelineModel:
    """The one model-artifact policy (S5: the reference ships fitted
    .joblib artifacts): load ``path``; when it is missing or does not
    load (half-written, stale), call ``fit``, save the model over it and
    return it. Delete the directory to retrain."""
    if os.path.exists(path):
        try:
            return PipelineModel.load(path)
        except Exception:
            pass  # fall through to a fresh fit
    model = fit()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    model.write().overwrite().save(path)
    return model


def train(materials: DataFrame, which: str = "el", seed: int = 42) -> tuple[PipelineModel, DataFrame]:
    """Train one model config; returns (model, featurized df)."""
    label = f"label_{which}"
    feats = training_frame(featurize(materials), FEATURES, label)
    return rf_pipeline(FEATURES, label, 100, seed).fit(feats), feats


def load_or_train(materials: DataFrame, which: str = "el", seed: int = 42) -> tuple[PipelineModel, DataFrame]:
    """train(), except the committed artifact short-circuits the RF fit
    (load_or_fit). Loading is not a metadata read: ``PipelineModel.load``
    of a forest pipeline runs nine Spark jobs (the stages' metadata,
    the node table and the per-tree metadata, rebuilt through a grouped
    shuffle), seconds in a fresh JVM against minutes for the fit."""
    label = f"label_{which}"
    feats = training_frame(featurize(materials), FEATURES, label)
    path = os.path.join(REPO_MODELS_DIR, f"rf_{which}_seed{seed}")
    model = load_or_fit(path, lambda: rf_pipeline(FEATURES, label, 100, seed).fit(feats))
    return model, feats


def score(model: PipelineModel, feats: DataFrame) -> DataFrame:
    """Batch scoring — the engine twin of the reference's full-corpus
    golden run (4 × 1,266 predictions, §3.3): one distributed transform."""
    return model.transform(feats).select(
        "mp_id", F.round("pred_log10", 6).alias("pred_log10")
    )


def cross_validate(
    materials: DataFrame,
    which: str = "el",
    max_depths: tuple[int, ...] = (4, 8),
    n_folds: int = 2,
    num_trees: int = 20,
    seed: int = 42,
) -> DataFrame:
    """Hyperparameter search via CrossValidator (§2.11 ML surface):
    k-fold CV over the RF depth grid, RMSE objective. Seeded splits +
    seeded forests → avgMetrics are reproducible run-to-run (asserted
    in tests). The grid here is deliberately small — the point is the
    distributed evaluation harness (each fold's fit/score is a Spark
    job; folds × grid parallelize across the cluster via
    CrossValidator's parallelism), not squeezing the last RMSE digit.
    Returns one row per grid point with its cross-validated RMSE.
    """
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    label = f"label_{which}"
    feats = training_frame(featurize(materials), FEATURES, label)
    pipe = rf_pipeline(FEATURES, label, num_trees, seed)
    rf = pipe.getStages()[-1]  # the grid overrides its maxDepth
    grid = ParamGridBuilder().addGrid(rf.maxDepth, list(max_depths)).build()
    cv = CrossValidator(
        estimator=pipe,
        estimatorParamMaps=grid,
        evaluator=RegressionEvaluator(
            labelCol=label, predictionCol="pred_log10", metricName="rmse"
        ),
        numFolds=n_folds,
        parallelism=4,
        seed=seed,
    )
    fitted = cv.fit(feats)
    spark = materials.sparkSession
    rows = [
        (int(pm[rf.maxDepth]), float(m))
        for pm, m in zip(grid, fitted.avgMetrics)
    ]
    out = spark.createDataFrame(rows, "max_depth int, cv_rmse double")
    w = Window.orderBy(F.col("cv_rmse").asc(), F.col("max_depth"))
    return out.select(
        "max_depth", F.round("cv_rmse", 6).alias("cv_rmse")
    ).withColumn("rank", F.row_number().over(w))
