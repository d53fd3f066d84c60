"""Learners, evaluation, clustering: quality thresholds + exact semantics."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from orange3_spark.ml import cluster as C
from orange3_spark.ml import evaluation as E
from orange3_spark.ml import learners as L


@pytest.fixture(scope="module")
def emb(spark):
    """Seeded gaussian blobs: 10 well-separated clusters in 16-d (the
    driver's embeddings fixture has label-independent vectors, so quality
    thresholds need real structure)."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(0, 5, (10, 16))
    rows = []
    for i in range(600):
        k = i % 10
        v = centers[k] + rng.normal(0, 1, 16)
        rows.append((i, [float(x) for x in v], k))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int").cache()


def test_ols_exact(spark):
    # y = 3 + 2a - b exactly
    rows = [(float(a), float(b), 3.0 + 2 * a - b)
            for a in range(6) for b in range(4)]
    df = spark.createDataFrame(rows, "a double, b double, y double")
    m = L.ols_learner(df, ["a", "b"], "y")
    assert abs(m.intercept - 3.0) < 1e-9
    assert abs(m.coefficients[0] - 2.0) < 1e-9
    assert abs(m.coefficients[1] + 1.0) < 1e-9
    assert E.rmse(m.predict(df), label="y") < 1e-9


def test_majority_and_mean(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0)], "c string, y double")
    assert L.majority_learner(df, "c").predict(df).first().prediction == "a"
    assert L.mean_learner(df, "y").predict(df).first().prediction == 2.0


def test_logreg_separable(emb):
    train, test = E.train_test_split(emb, "vec_id", 0.3)
    model = L.logistic_regression(train, array_col="embedding",
                                  class_col="label")
    acc = E.ca(model.predict(test), label="label")
    assert acc > 0.9   # separable blobs


def test_knn_classifier(emb):
    train, test = E.train_test_split(emb, "vec_id", 0.3)
    model = L.knn_classifier(train, array_col="embedding",
                             class_col="label", k=5)
    pred = model.predict(test).withColumn(
        "prediction", F.col("prediction").cast("int"))
    assert E.ca(pred, label="label") > 0.9


def test_cross_validate_deterministic(emb):
    def run():
        return E.cross_validate(
            emb, "vec_id", 3,
            fit=lambda tr: L.majority_learner(tr, "label"),
            score=lambda p: E.ca(p, label="label"))
    assert run() == run()
    assert len(run()) == 3


def test_cv_ols_matches_naive_loop(spark):
    import math

    df = spark.createDataFrame(
        [(i, float(i % 17), float(i % 23), 3.0 + 2.0 * (i % 17)
          - 0.5 * (i % 23) + (i * 37 % 11) / 7.0) for i in range(400)],
        "id long, x1 double, x2 double, y double")
    fused = E.cv_ols(df, "id", 4, ["x1", "x2"], "y")
    assert [r["fold"] for r in fused] == [0, 1, 2, 3]
    folded = E.with_fold(df, "id", 4)
    for r in fused:
        i = r["fold"]
        train = folded.filter(F.col("fold") != i).drop("fold")
        test = folded.filter(F.col("fold") == i).drop("fold")
        m = L.ols_learner(train, ["x1", "x2"], "y")
        assert math.isclose(r["intercept"], m.intercept, rel_tol=1e-9)
        for a, b in zip(r["coefficients"], m.coefficients):
            assert math.isclose(a, b, rel_tol=1e-9)
        assert math.isclose(r["rmse"], E.rmse(m.predict(test), label="y"),
                            rel_tol=1e-9)


def test_scoring_formulas(spark):
    # labels/preds chosen so tp=2 fp=1 fn=1 tn=2
    df = spark.createDataFrame(
        [(1, 1), (1, 1), (1, 0), (0, 1), (0, 0), (0, 0)],
        "label int, prediction int")
    assert abs(E.ca(df) - 4 / 6) < 1e-12
    p, r, f1 = E.precision_recall_f1(df, positive=1)
    assert (p, r) == (2 / 3, 2 / 3) and abs(f1 - 2 / 3) < 1e-12
    m = E.mcc(df, positive=1)
    assert abs(m - 1 / 3) < 1e-12


def test_auc_known_value(spark):
    df = spark.createDataFrame(
        [(1, 0.9), (1, 0.7), (0, 0.8), (0, 0.2)], "label int, score double")
    # pairs: (0.9 vs 0.8, 0.2) + (0.7 vs 0.8, 0.2) = wins 3 of 4
    assert abs(E.auc(df) - 0.75) < 1e-12


def test_regression_scores(spark):
    df = spark.createDataFrame(
        [(2.0, 1.0), (4.0, 5.0)], "label double, prediction double")
    assert abs(E.mse(df) - 1.0) < 1e-12
    assert abs(E.rmse(df) - 1.0) < 1e-12
    assert abs(E.mae(df) - 1.0) < 1e-12
    assert abs(E.mape(df) - (0.5 + 0.25) / 2 * 100) < 1e-9
    # smape: 2*mean(1/3, 1/9)*100
    assert abs(E.smape(df) - 2 * ((1/3 + 1/9) / 2) * 100) < 1e-9
    # cvrmse: rmse=1, mean(label)=3
    assert abs(E.cvrmse(df) - 1.0 / 3.0 * 100) < 1e-9


def test_mape_inf_on_zero_actual(spark):
    df = spark.createDataFrame(
        [(0.0, 1.0), (2.0, 2.0)], "label double, prediction double")
    assert E.mape(df) == float("inf")


def test_log_loss_and_specificity(spark):
    import math
    df = spark.createDataFrame(
        [(1, 0.8), (0, 0.3), (1, 0.6), (0, 0.1)], "label int, prob double")
    expect = -(math.log(0.8) + math.log(0.7) + math.log(0.6) + math.log(0.9)) / 4
    assert abs(E.log_loss(df) - expect) < 1e-12
    # clipping: p=0 would be -inf without eps
    dfc = spark.createDataFrame([(1, 0.0)], "label int, prob double")
    assert E.log_loss(dfc) < 40  # -ln(1e-15) ≈ 34.5

    # tn=2 fp=1 for positive=1 (from test_classification_scores fixture shape)
    dfp = spark.createDataFrame(
        [(1, 1), (1, 1), (1, 0), (0, 1), (0, 0), (0, 0)],
        "label int, prediction int")
    assert abs(E.specificity(dfp, positive=1) - 2 / 3) < 1e-12
    w = E.specificity(dfp, average="weighted")
    # per-class spec: class1: tn/(tn+fp)=2/3; class0: tn=2,fp=1 -> 2/3
    assert abs(w - 2 / 3) < 1e-12


def test_log_loss_multiclass(spark):
    import math
    df = spark.createDataFrame(
        [("a", [0.7, 0.2, 0.1]), ("b", [0.1, 0.8, 0.1]), ("c", [0.2, 0.3, 0.5])],
        "label string, probs array<double>")
    expect = -(math.log(0.7) + math.log(0.8) + math.log(0.5)) / 3
    got = E.log_loss_multiclass(df, probs="probs", classes=["a", "b", "c"])
    assert abs(got - expect) < 1e-12


def test_validation_schemes(spark, monkeypatch):
    class MeanModel:
        def __init__(self, mu):
            self.mu = mu

        def predict(self, df):
            return df.withColumn("prediction", F.lit(self.mu))

    def fit(train):
        return MeanModel(float(train.agg(F.avg("y")).first()[0]))

    df = spark.createDataFrame(
        [(i, float(i % 5)) for i in range(40)], "id int, y double")
    scores = E.shuffle_split(df, "id", fit, lambda d: E.mse(d, label="y"),
                             n_resamples=3, test_size=0.25)
    assert len(scores) == 3 and all(s >= 0 for s in scores)
    # deterministic: same salt -> same scores
    again = E.shuffle_split(df, "id", fit, lambda d: E.mse(d, label="y"),
                            n_resamples=3, test_size=0.25)
    assert scores == again

    small = df.limit(6)
    loo = E.leave_one_out(small, "id", fit, lambda d: E.mse(d, label="y"))
    assert len(loo) == 6
    import pytest as _pytest
    monkeypatch.setattr(E, "LOO_MAX_ROWS", 10)
    with _pytest.raises(ValueError):
        E.leave_one_out(df, "id", fit, lambda d: E.mse(d, label="y"))

    tt = E.test_on_training_data(df, fit, lambda d: E.mse(d, label="y"))
    assert tt >= 0


def test_kmeans_recovers_clusters(emb):
    clustered = C.kmeans(emb, array_col="embedding", k=10, seed=42)
    purity = (clustered.groupBy("cluster", "label").count()
              .groupBy("cluster")
              .agg((F.max("count") / F.sum("count")).alias("p"))
              .agg(F.avg("p")).first()[0])
    assert purity > 0.9   # blobs: clusters ≈ labels
    assert C.silhouette(clustered, array_col="embedding") > 0.1


def test_kmeans_lloyd_survives_empty_partitions(spark):
    # r9 regression: an empty partition in the suff-stats mapInPandas
    # yielded pd.DataFrame({"s": []}) whose list column types float64 —
    # Arrow refuses the array<long> cast (NumPyConverter has no list
    # path).  Latent until a coalesced fit left zero-row tasks.
    from orange3_spark.ml.cluster import kmeans_lloyd_fit

    df = (spark.range(6)
          .select(F.col("id").alias("vec_id"),
                  F.array(*[F.col("id") * 0.1 + F.lit(i)
                            for i in range(4)]).alias("embedding"))
          .repartition(32))            # most partitions empty
    fitted, cents = kmeans_lloyd_fit(df, "vec_id", array_col="embedding",
                                     k=2, n_iter=2)
    assert fitted.count() == 6
    assert len(cents) == 2
    fitted.lloyd_cache.unpersist()


def test_pca_variance_ordered(emb):
    out, ratios = C.pca(emb, array_col="embedding", n_components=4)
    assert ratios == sorted(ratios, reverse=True)
    assert 0 < sum(ratios) <= 1.0 + 1e-9
    assert {"PC1", "PC2", "PC3", "PC4"} <= set(out.columns)
    # projection is computed row-wise, count preserved
    assert out.count() == emb.count()


def test_random_forest_and_tree(emb):
    train, test = E.train_test_split(emb, "vec_id", 0.3)
    rf = L.random_forest_classifier(train, array_col="embedding",
                                    class_col="label", num_trees=20)
    assert E.ca(rf.predict(test), label="label") > 0.8


def test_dbscan_blobs_and_noise(spark):
    import numpy as np

    rng = np.random.default_rng(9)
    rows = []
    # two dense blobs + far-away isolated noise points
    for i in range(60):
        rows.append((i, float(rng.normal(0, 0.3)), float(rng.normal(0, 0.3))))
    for i in range(60, 120):
        rows.append((i, float(10 + rng.normal(0, 0.3)),
                     float(10 + rng.normal(0, 0.3))))
    rows += [(200, 50.0, 50.0), (201, -60.0, 40.0)]
    df = spark.createDataFrame(rows, "id long, x double, y double")

    out = {r.id: r.cluster
           for r in C.dbscan(df, "id", ["x", "y"], eps=1.5, min_pts=4).collect()}
    blob1 = {out[i] for i in range(60)}
    blob2 = {out[i] for i in range(60, 120)}
    assert len(blob1) == 1 and len(blob2) == 1 and blob1 != blob2
    assert out[200] == -1 and out[201] == -1   # noise

    # grid blocking and all-pairs agree exactly
    brute = {r.id: r.cluster
             for r in C.dbscan(df, "id", ["x", "y"], eps=1.5, min_pts=4,
                               grid_blocking=False).collect()}
    assert out == brute


def test_dbscan_border_points(spark):
    # a 5-point dense core + one border point within eps of a core point
    rows = [(i, float(i) * 0.1, 0.0) for i in range(5)]    # tight line
    rows.append((10, 0.9, 0.0))                            # border of core 4
    rows.append((99, 100.0, 0.0))                          # noise
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = {r.id: r.cluster
           for r in C.dbscan(df, "id", ["x", "y"], eps=0.5, min_pts=3).collect()}
    assert len({out[i] for i in range(5)}) == 1
    assert out[10] == out[0]    # border joins the cluster
    assert out[99] == -1


def test_radviz_known_geometry(spark):
    from orange3_spark.ml.projection import radviz

    # 2 features -> anchors at (1,0) and (-1,0); normalized row (1, 0)
    # projects to (1,0); (0,1) to (-1,0); (1,1) to (0,0)
    df = spark.createDataFrame(
        [(0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0)], "a double, b double")
    out = {(r.a, r.b): (round(r.radviz_x, 9), round(r.radviz_y, 9))
           for r in radviz(df, ["a", "b"]).collect()}
    assert out[(1.0, 0.0)] == (1.0, 0.0)
    assert out[(0.0, 1.0)] == (-1.0, 0.0)
    assert out[(1.0, 1.0)] == (0.0, 0.0)
    assert out[(0.0, 0.0)] == (0.0, 0.0)   # zero-sum row -> origin


def test_freeviz_separates_classes(spark, monkeypatch):
    import numpy as np
    from orange3_spark.ml.projection import freeviz

    rng = np.random.default_rng(5)
    rows = []
    for i in range(60):
        cls = i % 2
        rows.append((float(cls * 3 + rng.normal(0, .3)),
                     float(-cls * 2 + rng.normal(0, .3)),
                     float(rng.normal(0, 1)), f"c{cls}"))
    df = spark.createDataFrame(rows, "f1 double, f2 double, noise double, y string")
    out = freeviz(df, ["f1", "f2", "noise"], "y", maxiter=60)
    pts = [(r.freeviz_x, r.freeviz_y, r.y) for r in out.collect()]
    c0 = np.array([(x, y) for x, y, c in pts if c == "c0"])
    c1 = np.array([(x, y) for x, y, c in pts if c == "c1"])
    between = np.linalg.norm(c0.mean(axis=0) - c1.mean(axis=0))
    within = (c0.std() + c1.std())
    assert between > within     # classes pulled apart

    import pytest as _p
    from orange3_spark.ml import projection
    monkeypatch.setattr(projection, "MAX_FREEVIZ_POINTS", 10)
    with _p.raises(ValueError):
        projection.freeviz_fit(df, ["f1"], "y")


def test_tsne_preserves_clusters(spark):
    import numpy as np
    from orange3_spark.ml.projection import tsne

    rng = np.random.default_rng(3)
    rows = []
    for i in range(60):
        c = i % 3
        base = np.zeros(8)
        base[c] = 6.0
        v = base + rng.normal(0, 0.3, 8)
        rows.append((i, [float(x) for x in v], c))
    df = spark.createDataFrame(rows, "id int, v array<double>, c int")
    emb = tsne(df, "id", array_col="v", perplexity=10, n_iter=250)
    pts = {r.id: (r.tsne_x, r.tsne_y) for r in emb.collect()}
    P = np.array([pts[i] for i in range(60)])
    cls = np.array([i % 3 for i in range(60)])
    # mean same-cluster distance far below mean cross-cluster distance
    dists = np.linalg.norm(P[:, None] - P[None, :], axis=2)
    same = dists[cls[:, None] == cls[None, :]].mean()
    cross = dists[cls[:, None] != cls[None, :]].mean()
    assert cross > 2 * same
    # deterministic
    emb2 = tsne(df, "id", array_col="v", perplexity=10, n_iter=250)
    pts2 = {r.id: (r.tsne_x, r.tsne_y) for r in emb2.collect()}
    assert pts == pts2


def test_cross_validate_feature(spark):
    class MeanModel:
        def __init__(self, mu):
            self.mu = mu

        def predict(self, df):
            return df.withColumn("prediction", F.lit(self.mu))

    def fit(train):
        return MeanModel(float(train.agg(F.avg("y")).first()[0]))

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0), ("b", 11.0), (None, 99.0)],
        "f string, y double")
    folds = E.cross_validate_feature(
        df, "f", fit, lambda d: E.mae(d, label="y"))
    got = dict(folds)
    # test on a (mean 1.5) with model trained on b (mean 10.5): MAE = 9
    assert abs(got["a"] - 9.0) < 1e-12
    assert abs(got["b"] - 9.0) < 1e-12
    # NULL feature rows excluded from both sides
    assert set(got) == {"a", "b"}

    import pytest as _p
    single = spark.createDataFrame([("a", 1.0)], "f string, y double")
    with _p.raises(ValueError):
        E.cross_validate_feature(single, "f", fit,
                                 lambda d: E.mae(d, label="y"))


def test_som_separates_blobs(spark):
    import numpy as np
    from orange3_spark.ml.projection import som

    rng = np.random.default_rng(2)
    rows = []
    for i in range(120):
        c = i % 2
        rows.append((i, float(c * 8 + rng.normal(0, .4)),
                     float(-c * 8 + rng.normal(0, .4)), c))
    df = spark.createDataFrame(rows, "id int, a double, b double, c int")
    out = som(df, ["a", "b"], dim_x=4, dim_y=4, n_iterations=10)
    pts = [(r.som_x, r.som_y, r.c) for r in out.collect()]
    u0 = {(x, y) for x, y, c in pts if c == 0}
    u1 = {(x, y) for x, y, c in pts if c == 1}
    # the two blobs land on disjoint grid regions
    assert not (u0 & u1)
    # deterministic
    out2 = som(df, ["a", "b"], dim_x=4, dim_y=4, n_iterations=10)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))


def test_pls_matches_literal_nipals(spark):
    """pls_fit's moment-space recursion equals a literal NIPALS (explicit
    score/deflation loop on the realized matrix) for 1 and 2 components."""
    import numpy as np
    from orange3_spark.ml.pls import pls_fit, pls_regression

    rng = np.random.default_rng(7)
    X = rng.normal(size=(200, 3))
    y = 2.0 * X[:, 0] - 1.5 * X[:, 1] + 0.5 * X[:, 2] + rng.normal(0, .3, 200)
    rows = [(float(a), float(b), float(c), float(t))
            for (a, b, c), t in zip(X, y)]
    df = spark.createDataFrame(rows, "x1 double, x2 double, x3 double, y double")

    def literal_nipals(X, y, ncomp):
        Xc = (X - X.mean(0)) / X.std(0)
        yc = (y - y.mean()) / y.std()
        W, P, q = [], [], []
        for _ in range(ncomp):
            w = Xc.T @ yc
            w /= np.linalg.norm(w)
            t = Xc @ w
            tt = t @ t
            p = Xc.T @ t / tt
            qa = yc @ t / tt
            Xc = Xc - np.outer(t, p)
            yc = yc - t * qa
            W.append(w); P.append(p); q.append(qa)
        W, P, q = np.array(W).T, np.array(P).T, np.array(q)
        beta = W @ np.linalg.solve(P.T @ W, q)
        return beta * y.std() / X.std(0)

    for ncomp in (1, 2, 3):
        coef, intercept, meta = pls_fit(df, ["x1", "x2", "x3"], "y", ncomp)
        expect = literal_nipals(X, y, ncomp)
        assert np.allclose(coef, expect, atol=1e-8), (ncomp, coef, expect)
    # full-rank PLS == OLS
    ols = L.ols_learner(df, ["x1", "x2", "x3"], "y")
    assert np.allclose(coef, ols.coefficients, atol=1e-8)
    assert math.isclose(intercept, ols.intercept, abs_tol=1e-8)
    # prediction column is a plain expression
    m = pls_regression(df, ["x1", "x2", "x3"], "y", 2)
    assert "prediction" in m.predict(df).columns


def test_curve_fit_nonlinear_and_linear(spark):
    """Exponential-decay parameters are recovered by LM; a linear-in-params
    polynomial converges to the exact normal-equation optimum in one step."""
    import numpy as np
    from orange3_spark.ml.curvefit import curve_fit, curve_fit_learner

    rng = np.random.default_rng(3)
    x = rng.uniform(0, 4, 300)
    y = 2.5 * np.exp(-1.3 * x) + 0.7 + rng.normal(0, 0.01, 300)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double")
    params, info = curve_fit(df, "a * exp(b * x) + c", "y",
                             [1.0, -1.0, 0.0], param_names=["a", "b", "c"])
    assert info["converged"]
    assert np.allclose(params, [2.5, -1.3, 0.7], atol=0.05), params

    # linear-in-params: equals OLS on (x, x^2) exactly
    y2 = 1.0 + 2.0 * x - 0.5 * x * x + rng.normal(0, 0.1, 300)
    df2 = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y2)], "x double, y double")
    m = curve_fit_learner(df2, "a + b*x + c*x*x", "y", [0.0, 0.0, 0.0],
                          param_names=["a", "b", "c"])
    ols = L.ols_learner(df2.withColumn("x2", F.col("x") * F.col("x")),
                        ["x", "x2"], "y")
    assert np.allclose(m.parameters, [ols.intercept, *ols.coefficients],
                       atol=1e-9), (m.parameters, ols.coefficients)
    assert m.info["n_iter"] <= 2
    pred = m.predict(df2)
    assert "prediction" in pred.columns and pred.count() == 300


def test_threshold_search_hand_case(spark):
    """scores 1..4, labels 0,0,1,1: threshold 3 gives perfect CA and F1."""
    from orange3_spark.ml.calibration import best_threshold, threshold_search

    df = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)], "s double, y int")
    t, f1 = best_threshold(df, "s", "y", "f1")
    assert (t, f1) == (3.0, 1.0)
    t, ca = best_threshold(df, "s", "y", "ca")
    assert (t, ca) == (3.0, 1.0)
    rows = {r.threshold: (r.tp, r.fp, r.ca, r.f1)
            for r in threshold_search(df, "s", "y").collect()}
    assert rows[1.0] == (2, 2, 0.5, 2 * 2 / (2 + 2 + 2))
    assert rows[4.0] == (1, 0, 0.75, 2 * 1 / (1 + 0 + 2))


def test_isotonic_matches_literal_pav(spark):
    import numpy as np
    from orange3_spark.ml.calibration import isotonic_calibration

    rng = np.random.default_rng(5)
    s = rng.uniform(0, 1, 80)
    y = (rng.uniform(0, 1, 80) < s).astype(float)  # monotone-ish
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(s, y)], "s double, y double")
    m = isotonic_calibration(df, "s", "y")

    def literal_pav(x, y):
        order = np.argsort(x, kind="stable")
        vals = list(y[order].astype(float))
        wts = [1.0] * len(vals)
        blocks = [[v, w] for v, w in zip(vals, wts)]
        i = 0
        merged = []
        for v, w in blocks:
            merged.append([v, w])
            while len(merged) > 1 and merged[-2][0] > merged[-1][0] - 1e-15:
                v2, w2 = merged.pop()
                v1, w1 = merged.pop()
                merged.append([(v1 * w1 + v2 * w2) / (w1 + w2), w1 + w2])
        out = []
        for v, w in merged:
            out.extend([v] * int(round(w)))
        return np.array(out)

    fitted = np.array(m.predict(df.orderBy("s")).orderBy("s")
                      .select("calibrated").toPandas()["calibrated"])
    expect = literal_pav(s, y)
    # PAV solution is the unique monotone least-squares fit
    assert np.allclose(np.sort(fitted), np.sort(expect), atol=1e-8)
    assert (np.diff(fitted) >= -1e-12).all()


def test_platt_and_reliability(spark):
    import numpy as np
    from orange3_spark.ml.calibration import platt_scaling, reliability_curve
    from orange3_spark.ml.evaluation import log_loss

    rng = np.random.default_rng(11)
    s = rng.normal(0, 2, 400)
    y = (rng.uniform(0, 1, 400) < 1 / (1 + np.exp(-(1.5 * s - 0.5)))).astype(int)
    df = spark.createDataFrame(
        [(float(a), int(b)) for a, b in zip(s, y)], "s double, y int")
    m = platt_scaling(df, "s", "y")
    assert m.a > 0  # recovers positive slope
    cal = m.predict(df)
    assert cal.agg(F.min("calibrated")).first()[0] >= 0.0
    assert cal.agg(F.max("calibrated")).first()[0] <= 1.0
    rel = reliability_curve(cal, "calibrated", "y", bins=5).collect()
    assert [r.bin for r in rel] == sorted(r.bin for r in rel)
    assert sum(r.n for r in rel) == 400
    # calibrated probabilities should beat the base rate on log-loss
    base = df.agg(F.avg(F.col("y").cast("double"))).first()[0]
    ll_base = df.select(
        (-(F.col("y") * F.lit(float(np.log(base)))
           + (1 - F.col("y")) * F.lit(float(np.log(1 - base)))))
        .alias("ll")).agg(F.avg("ll")).first()[0]
    eps = 1e-12
    ll_cal = cal.select(
        (-(F.col("y") * F.log(F.col("calibrated") + eps)
           + (1 - F.col("y")) * F.log(1 - F.col("calibrated") + eps)))
        .alias("ll")).agg(F.avg("ll")).first()[0]
    assert ll_cal < ll_base


def test_cn2_hand_case(spark):
    """Crafted table: color=red (8 pure a) and color=blue (8 pure b) tie at
    laplace (8+1)/(8+3); the deterministic tie-break (selector repr) picks
    blue first, then red, and the default rule covers the rest."""
    from orange3_spark.ml.rules import cn2_induce, cn2_predict, rules_to_dataframe

    rows = ([("red", "circle", "a")] * 8
            + [("blue", "square", "b")] * 6
            + [("blue", "circle", "b")] * 2
            + [("green", "circle", "c")] * 3
            + [("green", "square", "b")] * 1)
    df = spark.createDataFrame(rows, "color string, shape string, cls string")
    rules = cn2_induce(df, ["color", "shape"], "cls",
                       max_rules=3, max_selectors=2)
    assert rules[0].selectors == [("color", "blue")]
    assert rules[0].prediction == "b"
    assert rules[0].covered == 8 and rules[0].correct == 8
    assert abs(rules[0].quality - 9 / 11) < 1e-12
    assert rules[1].selectors == [("color", "red")]
    assert rules[1].prediction == "a"
    # prediction CASE chain classifies training rows consistently
    pred = cn2_predict(df, rules)
    agree = pred.where(F.col("prediction") == F.col("cls")).count()
    assert agree >= 16  # red(8) + blue(8) at minimum
    rdf = rules_to_dataframe(spark, rules)
    assert rdf.columns == ["rule_idx", "conditions", "prediction",
                           "laplace", "covered", "correct"]
    # default rule is last and unconditioned
    last = rdf.orderBy(F.col("rule_idx").desc()).first()
    assert last.conditions == "TRUE"


def test_cn2_conjunction_depth(spark):
    """XOR labels: every single selector is 50/50 (laplace 11/22), so only
    a 2-selector conjunction (pure, laplace 11/12) can win the beam."""
    from orange3_spark.ml.rules import cn2_induce

    rows = ([("x", "p", "pos")] * 10
            + [("x", "q", "neg")] * 10
            + [("y", "p", "neg")] * 10
            + [("y", "q", "pos")] * 10)
    df = spark.createDataFrame(rows, "a string, b string, cls string")
    rules = cn2_induce(df, ["a", "b"], "cls", max_rules=2, max_selectors=2)
    assert len(rules[0].selectors) == 2
    assert rules[0].quality == 11 / 12
    assert rules[0].covered == 10 and rules[0].correct == 10


def test_learner_variants(emb):
    """Softmax/GBT/ridge/lasso/SGD wrappers fit and predict."""
    from orange3_spark.ml import learners as L2

    m = L2.softmax_regression(emb, array_col="embedding", class_col="label")
    assert E.ca(m.predict(emb), label="label") > 0.5
    tr = emb.withColumn("y", (F.col("label") % 2).cast("double"))
    g = L2.gbt_classifier(tr, array_col="embedding", class_col="y",
                          max_iter=5)
    assert "prediction" in g.predict(tr).columns
    reg = tr.withColumn("t", F.col("vec_id").cast("double"))
    for fn in (L2.ridge_regression, L2.lasso_regression,
               L2.elastic_net_regression):
        m = fn(reg, ["y"], "t", max_iter=10)
        assert "prediction" in m.predict(reg).columns
    s = L2.sgd_learner(reg, ["y"], "t", loss="squared", max_iter=10)
    assert "prediction" in s.predict(reg).columns


def test_scoring_sheet(spark):
    """Integer points bounded, sparse, and predictive on a signal where
    two of four features matter."""
    import numpy as np
    from orange3_spark.ml.scoringsheet import scoring_sheet_learner

    rng = np.random.default_rng(17)
    n = 400
    x = rng.normal(0, 1, (n, 4))
    logit = 2.0 * (x[:, 0] > 0) - 1.5 * (x[:, 1] > 0) + 0.2
    y = (rng.uniform(0, 1, n) < 1 / (1 + np.exp(-logit))).astype(int)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c), float(d), int(t))
         for (a, b, c, d), t in zip(x, y)],
        "f1 double, f2 double, f3 double, f4 double, y int")
    m = scoring_sheet_learner(df, ["f1", "f2", "f3", "f4"], "y",
                              num_decision_params=2, max_points=5)
    assert len(m.sheet) <= 2
    names = {s[0] for s in m.sheet}
    assert names <= {"f1", "f2", "f3", "f4"}
    assert {"f1", "f2"} >= names  # informative features selected
    for _feat, _thr, pts in m.sheet:
        assert isinstance(pts, int) and -5 <= pts <= 5 and pts != 0
    pred = m.predict(df)
    assert {"score", "probability", "prediction"} <= set(pred.columns)
    acc = pred.where(F.col("prediction") == F.col("y").cast("double")) \
              .count() / n
    assert acc > 0.6
    # probability strictly monotone in the integer score
    rows = (pred.select("score", "probability").distinct()
                .orderBy("score").collect())
    probs = [r.probability for r in rows]
    assert probs == sorted(probs)


def test_cn2_target_class_mode(spark):
    """Target-class CN2 (reference k=2 Laplace): rules optimize coverage of
    ONE class; the pure-pos conjunction wins even though a pure-neg single
    selector has more coverage."""
    from orange3_spark.ml.rules import cn2_induce

    rows = ([("x", "p", "pos")] * 10
            + [("x", "q", "neg")] * 10
            + [("y", "p", "neg")] * 30
            + [("y", "q", "neg")] * 10)
    df = spark.createDataFrame(rows, "a string, b string, cls string")
    rules = cn2_induce(df, ["a", "b"], "cls", max_rules=1, max_selectors=2,
                       target_class="pos")
    r = rules[0]
    assert r.prediction == "pos"
    assert set(r.selectors) == {("a", "x"), ("b", "p")}
    assert r.quality == 11 / 12 and r.correct == 10


def test_cv_logreg_matches_driver_irls(spark):
    """The one-scan-per-iteration k-fold Newton CV (evaluation.cv_logreg)
    must reproduce, per fold, the β a plain driver-side IRLS finds on the
    collected complement rows — proving the distributed complement-moment
    assembly (Σ_g partial − own fold) is exact."""
    import numpy as np

    from orange3_spark.ml import evaluation as E

    rng_rows = []
    for i in range(400):
        x1 = (i % 37) / 37.0
        x2 = ((i * 7) % 23) / 23.0
        y = 1.0 if (1.5 * x1 - 2.0 * x2 + 0.25) > 0 else 0.0
        # flip a deterministic subset so the data isn't separable
        if i % 11 == 0:
            y = 1.0 - y
        rng_rows.append((i, x1, x2, y))
    df = spark.createDataFrame(rng_rows, "id long, x1 double, x2 double, label double")
    res = E.cv_logreg(df, "id", 3, ["x1", "x2"], "label", max_iter=25)
    assert sorted(r["fold"] for r in res) == [0, 1, 2]
    assert sum(r["n_test"] for r in res) == 400

    folded = E.with_fold(df, "id", 3)
    for r in res:
        train = folded.filter(F.col("fold") != r["fold"]) \
                      .select("x1", "x2", "label").collect()
        X = np.array([[1.0, t["x1"], t["x2"]] for t in train])
        y = np.array([t["label"] for t in train])
        beta = np.zeros(3)
        for _ in range(25):
            mu = 1.0 / (1.0 + np.exp(-(X @ beta)))
            W = mu * (1 - mu)
            H = X.T @ (X * W[:, None]) + 1e-10 * np.eye(3)
            step = np.linalg.solve(H, X.T @ (y - mu))
            beta += step
            if np.abs(step).max() < 1e-9:
                break
        got = np.array([r["intercept"], *r["coefficients"]])
        assert np.allclose(got, beta, atol=1e-6), (r["fold"], got, beta)
        assert r["ca"] > r["majority_share"] - 0.05


def test_right_size_for_fit(spark):
    """Small assembled training sets coalesce to one partition (no
    iterations×parallelism empty-task scheduling); the partition count
    never exceeds the session's default parallelism."""
    from orange3_spark.ml.learners import right_size_for_fit

    small = spark.range(1000).repartition(16)
    sized = right_size_for_fit(small)
    assert sized.rdd.getNumPartitions() == 1
    assert sized.count() == 1000
    sized.unpersist()

    mid = spark.range(100_000).repartition(16)
    sized = right_size_for_fit(mid, rows_per_task=10_000)
    got = sized.rdd.getNumPartitions()
    assert 1 < got <= spark.sparkContext.defaultParallelism
    sized.unpersist()


def test_regression_scores_one_pass_matches_per_metric(spark):
    """The one-scan bundle returns the same values as the per-metric
    functions (which each run their own action)."""
    from orange3_spark.ml import evaluation as E

    df = spark.createDataFrame(
        [(10.0, 12.0), (20.0, 18.0), (30.0, 33.0), (5.0, 4.0)],
        "label double, prediction double")
    got = E.regression_scores(df)
    assert abs(got["rmse"] - E.rmse(df)) < 1e-12
    assert abs(got["mae"] - E.mae(df)) < 1e-12
    assert abs(got["mape"] - E.mape(df)) < 1e-12
    assert abs(got["smape"] - E.smape(df)) < 1e-12
    assert abs(got["cvrmse"] - E.cvrmse(df)) < 1e-12
    assert abs(got["r2"] - E.r2(df)) < 1e-12


def test_classification_scores_one_pass_matches_per_metric(spark):
    from orange3_spark.ml import evaluation as E

    df = spark.createDataFrame(
        [(1, 1, 0.9), (1, 0, 0.2), (0, 0, 0.3), (0, 1, 0.7), (0, 0, 0.1)],
        "label int, prediction int, prob double")
    got = E.classification_scores(df, positive=1, prob="prob")
    assert abs(got["ca"] - E.ca(df)) < 1e-12
    assert abs(got["specificity"] - E.specificity(df, positive=1)) < 1e-12
    assert abs(got["logloss"] - E.log_loss(df, prob="prob")) < 1e-12
    p, r, f1 = E.precision_recall_f1(df, 1)
    assert (got["precision"], got["recall"], got["f1"]) == (p, r, f1)
    assert abs(got["mcc"] - E.mcc(df, 1)) < 1e-12


def test_shuffle_split_ols_matches_generic_loop(spark, sf_dir):
    """The single-scan moment formulation reproduces the generic
    fit-per-resample loop's RMSEs."""
    from orange3_spark.ml import evaluation as E
    from orange3_spark.ml import learners as L
    from orange3_spark.session import load_tables

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]

    class _OLS:
        def __init__(self, train):
            self.m = L.ols_learner(train, ["o_custkey"], "o_totalprice")

        def predict(self, d):
            return self.m.predict(d)

    want = E.shuffle_split(orders, "o_orderkey", _OLS,
                           lambda d: E.rmse(d, label="o_totalprice"),
                           n_resamples=2, test_size=0.25)
    got = E.shuffle_split_ols(orders, "o_orderkey", ["o_custkey"],
                              "o_totalprice", n_resamples=2, test_size=0.25)
    for a, b in zip(got, want):
        assert abs(a - b) / b < 1e-9


def test_knn_classifier_lsh_fallback_matches_broadcast(spark):
    """Past the broadcast bound the learner must switch to the LSH-bucket
    join instead of raising; with 0 planes (single bucket) the fallback
    is exact, so predictions must equal the broadcast path's."""
    from orange3_spark.ml.learners import knn_classifier

    rows = [(i, float(i % 23) + (i % 7) * 0.013, float((i * 5) % 19),
             float(i % 3)) for i in range(150)]
    df = spark.createDataFrame(rows, "id long, a double, b double, label double")
    small = knn_classifier(df, ["a", "b"], "label", k=3)
    big = knn_classifier(df, ["a", "b"], "label", k=3,
                         max_broadcast_cells=1, lsh_planes=0)
    got_small = {r["id"]: r["prediction"]
                 for r in small.predict(df).collect()}
    got_big = {r["id"]: r["prediction"] for r in big.predict(df).collect()}
    agree = sum(got_small[i] == got_big[i] for i in got_small)
    # identical candidate sets; only k-th-place distance ties can differ
    assert agree >= 0.95 * len(got_small), agree


def test_knn_distance_score_lsh_fallback(spark):
    """Over-bound knn_distance_score must fall back to LSH, not raise,
    and with a single bucket must reproduce the broadcast scores."""
    from orange3_spark.stats.outliers import knn_distance_score

    rows = [(i, float(i % 13) * 1.7, float((i * 3) % 11) * 0.9)
            for i in range(80)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    exact = {r["id"]: r["knn_dist"] for r in
             knn_distance_score(df, "id", ["x", "y"], k=3).collect()}
    fb = {r["id"]: r["knn_dist"] for r in
          knn_distance_score(df, "id", ["x", "y"], k=3,
                             max_broadcast_cells=1,
                             lsh_planes=0).collect()}
    assert set(exact) == set(fb)
    close = sum(abs(exact[i] - fb[i]) < 1e-9 for i in exact)
    assert close >= 0.95 * len(exact), close


def test_logistic_irls_partition_independent(spark):
    """Distributed quantized-IRLS logistic regression: β must be
    bit-identical under any partitioning and equal to the local twin."""
    import numpy as np

    from orange3_spark.ml.learners import (fit_logistic_irls_matrix,
                                           logistic_irls)

    rows = [(float(i % 17) / 10.0, float((i * 7) % 23) / 10.0,
             1.0 if (i % 17) + (i * 7) % 23 > 18 else 0.0)
            for i in range(400)]
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double")
    b1 = logistic_irls(df, ["x1", "x2"], "y", iters=6)
    b2 = logistic_irls(df.repartition(11), ["x1", "x2"], "y", iters=6)
    assert b1 == b2
    X = np.array([[r[0], r[1]] for r in rows])
    y = np.array([r[2] for r in rows])
    assert b1 == fit_logistic_irls_matrix(X, y, iters=6)
    # sanity: the fit actually separates (better than majority)
    t = b1[0] + X[:, 0] * b1[1] + X[:, 1] * b1[2]
    acc = ((t > 0) == (y > 0)).mean()
    assert acc >= max(y.mean(), 1 - y.mean())


def test_correspondence_analysis_math_and_guard(spark):
    import numpy as np

    from orange3_spark.ml.projection import (correspondence_analysis,
                                             fit_ca_matrix)

    # perfect association: first axis separates the two levels, total
    # inertia equals chi2/n = 1
    Fm, Gm, inertia = fit_ca_matrix(np.array([[10, 0], [0, 10]]))
    assert abs(inertia[0] - 1.0) < 1e-12
    assert Fm[0, 0] * Fm[1, 0] < 0          # opposite sides
    assert Fm[0, 0] * Gm[0, 0] > 0          # row level pairs its column
    # total inertia == chi2/n on a generic table
    N = np.array([[20, 5, 8], [3, 30, 7], [6, 2, 19]], dtype=float)
    _, _, inertia = fit_ca_matrix(N, n_components=3)
    n = N.sum()
    E = N.sum(1)[:, None] * N.sum(0)[None, :] / n
    chi2 = ((N - E) ** 2 / E).sum()
    assert abs(inertia.sum() - chi2 / n) < 1e-9
    # DataFrame path: deterministic under repartition
    df = spark.createDataFrame(
        [("a", "x")] * 7 + [("a", "y")] * 2 + [("b", "y")] * 9
        + [("b", "x")] * 1, "u string, v string")
    r1 = sorted(map(tuple, correspondence_analysis(df, "u", "v").collect()))
    r2 = sorted(map(tuple, correspondence_analysis(
        df.repartition(8), "u", "v").collect()))
    assert r1 == r2
    import pytest as _pytest
    with _pytest.raises(ValueError, match="levels"):
        big = spark.range(0, 2000).select(
            F.col("id").cast("string").alias("u"),
            F.lit("x").alias("v"))
        correspondence_analysis(big, "u", "v", max_levels=100)


def test_nomogram_points_reference_semantics(spark):
    import math

    from orange3_spark.ml.nomogram import (nb_nomogram,
                                           nomogram_points_from_counts)

    # hand case: attr 'a' value 'x' seen 8/10 in class pos, 2/10 in neg
    rows = nomogram_points_from_counts(
        [("a", "x", "pos", 8), ("a", "x", "neg", 2)],
        {"pos": 10, "neg": 10})
    got = {(r[2]): r[3] for r in rows}
    k, tot, n_val = 2, 20, 10
    p_pos = (10 + 1) / (tot + k)
    ca_pos = (8 + 1) / (n_val + k)
    want = math.log((ca_pos / (1 - ca_pos)) / (p_pos / (1 - p_pos)))
    assert got["pos"] == int(math.floor(want * 1e9 + 0.5))
    assert got["pos"] > 0 > got["neg"]   # value x argues for pos
    df = spark.createDataFrame(
        [("x", "pos")] * 8 + [("x", "neg")] * 2
        + [("y", "pos")] * 2 + [("y", "neg")] * 8, "a string, c string")
    out = nb_nomogram(df, ["a"], "c").collect()
    byv = {(r["value"], r["cls"]): r["lor_q"] for r in out}
    assert byv[("x", "pos")] == got["pos"]          # same math end-to-end
    out2 = nb_nomogram(df.repartition(6), ["a"], "c").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_permutation_importance_signal_and_determinism(spark):
    from orange3_spark.ml.permutation import permutation_importance_ols

    # y strongly depends on x: true R2 must dwarf permuted R2
    rows = [(i, float(i % 97), 3.0 * (i % 97) + (i % 5) * 0.1)
            for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = dict(permutation_importance_ols(df, "id", ["x"], "y",
                                          n_perm=2))
    assert out["true"] > 990_000_000          # R2 ~ 1.0 (x1e9)
    assert abs(out["perm1"]) < 50_000_000     # shuffled: R2 ~ 0
    out2 = dict(permutation_importance_ols(df.repartition(7), "id",
                                           ["x"], "y", n_perm=2))
    assert out == out2                        # partition-invariant


def test_isomap_unrolls_swiss_strip(spark):
    import numpy as np

    from orange3_spark.ml.projection import fit_isomap_matrix

    # points on a tight spiral: euclidean distance between ends is small,
    # geodesic (along the curve) is large — isomap's first axis must
    # order points by arc length, which plain MDS on euclidean cannot
    t = np.linspace(0, 3 * np.pi, 60)
    # widely separated loops so the 3-NN graph follows the curve and
    # never shortcuts across turns
    X = np.c_[np.cos(t) * (1 + 0.8 * t), np.sin(t) * (1 + 0.8 * t)]
    Y = fit_isomap_matrix(X, n_neighbors=3)
    first = Y[:, 0]
    # arc-length order: first coordinate is monotone along t up to noise
    assert abs(np.corrcoef(first, t)[0, 1]) > 0.97
    Y2 = fit_isomap_matrix(X, n_neighbors=3)
    assert np.array_equal(Y, Y2)            # deterministic


def test_cn2_unordered_per_class_covering(spark):
    """Unordered induction (rules.py:1317): rules are learned per class
    against ALL data, and covering removes only the covered rows of the
    target class — so class-a induction is unaffected by class-b rules,
    and a cell shared by two classes can anchor a rule for each."""
    from orange3_spark.ml.rules import (cn2_unordered_induce,
                                        induce_unordered_from_cube)

    rows = ([("red", "a")] * 8 + [("red", "b")] * 2
            + [("blue", "b")] * 9 + [("blue", "a")] * 1
            + [("green", "a")] * 5)
    df = spark.createDataFrame(rows, "color string, cls string")
    rules = cn2_unordered_induce(df, ["color"], "cls",
                                 max_rules_per_class=3)
    # per-class rules: class a gets red AND green; class b gets blue
    a_rules = [r for r in rules if r.prediction == "a" and r.selectors]
    b_rules = [r for r in rules if r.prediction == "b" and r.selectors]
    a_sel = {tuple(r.selectors) for r in a_rules}
    assert (("color", "red"),) in a_sel
    assert (("color", "green"),) in a_sel
    # blue is b's first rule; a weaker red->b rule ((2+1)/(10+2)=0.25 vs
    # the post-covering empty rule's (2+1)/(16+2)) legitimately follows,
    # exactly as the reference's per-class covering would induce it
    assert b_rules[0].selectors == [("color", "blue")]
    # target-class Laplace k=2: red->a is (8+1)/(10+2)
    red = next(r for r in a_rules if r.selectors == [("color", "red")])
    assert abs(red.quality - 9 / 12) < 1e-12
    assert red.covered == 10 and red.correct == 8
    # default rule last, majority over FULL data (a: 14 of 25)
    assert rules[-1].selectors == [] and rules[-1].prediction == "a"
    assert rules[-1].covered == 25 and rules[-1].correct == 14
    # pure function == distributed entry
    cells = [({"color": c}, y, n) for (c, y), n in
             __import__("collections").Counter(rows).items()]
    replay = induce_unordered_from_cube(cells, ["color"],
                                        max_rules_per_class=3)
    assert [(r.selectors, r.prediction, r.quality) for r in replay] == \
           [(r.selectors, r.prediction, r.quality) for r in rules]


def test_cn2_sd_weighted_covering(spark):
    """CN2-SD (rules.py:1377): WRAcc picks the dominant subgroup first;
    weighted covering (gamma=0.7) decays it instead of removing it, so
    the next-best OVERLAPPING subgroup can still surface, and exact
    Fraction weights make coverage quantities exact rationals."""
    from fractions import Fraction

    from orange3_spark.ml.rules import cn2_sd_induce, induce_sd_from_cube

    rows = ([("x", "p", "a")] * 40 + [("x", "p", "b")] * 5
            + [("x", "q", "a")] * 10 + [("x", "q", "b")] * 20
            + [("y", "p", "a")] * 5 + [("y", "p", "b")] * 30
            + [("y", "q", "a")] * 2 + [("y", "q", "b")] * 40)
    df = spark.createDataFrame(rows, "a1 string, a2 string, cls string")
    sd = cn2_sd_induce(df, ["a1", "a2"], "cls", max_rules=5)
    sels = [tuple(s) for s, *_ in sd]
    # the pure a1=x,a2=p subgroup wins first; a1=y is the best b-subgroup
    assert sels[0] == (("a1", "x"), ("a2", "p"))
    assert (("a1", "y"),) in sels
    # weighted covering: after rule 0 decays x,p cells by 7/10, the
    # x-only subgroup's weighted coverage is 30 + 45*0.7 = 61.5 exactly
    x_rule = next(t for t in sd if tuple(t[0]) == (("a1", "x"),))
    assert x_rule[3] == Fraction(123, 2)
    # default rule: WRAcc 0 by construction, full initial weight
    assert sd[-1][0] == [] and sd[-1][2] == 0 and sd[-1][3] == 152
    # all qualities are exact rationals, ordered rules strictly positive
    assert all(isinstance(t[2], Fraction) or t[2] == 0 for t in sd)
    assert all(t[2] > 0 for t in sd[:-1])
    # per-class variant never repeats a conjunction within a class and
    # every per-class rule predicts its target class
    cells = [({"a1": v1, "a2": v2}, y, n) for (v1, v2, y), n in
             __import__("collections").Counter(rows).items()]
    sdu = induce_sd_from_cube(cells, ["a1", "a2"], per_class=True,
                              max_rules=3)
    by_cls: dict = {}
    for s, cls, *_ in sdu[:-1]:
        assert frozenset(s) not in by_cls.get(cls, set())
        by_cls.setdefault(cls, set()).add(frozenset(s))


def test_cv_logreg_local_twin_matches_distributed(spark, no_local_twins):
    """The r10 bounded-frame fast path must reproduce the distributed
    complement-moment Newton loop: per-fold exact counts and majority
    share bit-identical, β within float-association drift (1e-6)."""
    import numpy as np

    from orange3_spark.ml import evaluation as E

    rows = []
    for i in range(300):
        x1 = (i % 29) / 29.0
        x2 = ((i * 5) % 17) / 17.0
        y = 1.0 if (2.0 * x1 - x2 - 0.3) > 0 else 0.0
        if i % 13 == 0:
            y = 1.0 - y
        rows.append((i, x1, x2, y))
    df = spark.createDataFrame(
        rows, "id long, x1 double, x2 double, label double")
    local = E.cv_logreg(df, "id", 3, ["x1", "x2"], "label", max_iter=20)
    with no_local_twins():
        dist = E.cv_logreg(df, "id", 3, ["x1", "x2"], "label", max_iter=20)
    assert [r["fold"] for r in local] == [r["fold"] for r in dist]
    for a, b in zip(local, dist):
        assert a["n_test"] == b["n_test"]
        assert a["majority_share"] == b["majority_share"]
        assert abs(a["ca"] - b["ca"]) < 1e-9
        got = np.array([a["intercept"], *a["coefficients"]])
        ref = np.array([b["intercept"], *b["coefficients"]])
        assert np.allclose(got, ref, atol=1e-6), (a["fold"], got, ref)


def test_permutation_importance_local_twin_matches_distributed(
        spark, no_local_twins):
    """The r10 bounded fast path (Spark-side md5 sort keys + numpy
    pairing/moments) must return BIT-identical fixed-point R²s to the
    distributed window+join plan: every moment is an exact int64 sum."""
    from orange3_spark.ml import permutation as P

    rows = [(i, (i % 41) / 41.0, ((i * 11) % 29) / 29.0,
             ((i * 3) % 19) / 19.0 + (i % 41) / 82.0)
            for i in range(2500)]
    df = spark.createDataFrame(
        rows, "id long, f1 double, f2 double, y double")
    fast = P.permutation_importance_ols(df, "id", ["f1", "f2"], "y",
                                        n_perm=3)
    with no_local_twins():
        dist = P.permutation_importance_ols(df, "id", ["f1", "f2"], "y",
                                            n_perm=3)
    assert fast == dist
