"""Learner/Model surface: Orange's base contract mapped onto pyspark.ml.

Reference: ``Orange/base.py`` — a ``Learner`` fits a ``Model``; the model
predicts over a Table.  Here a :class:`Learner` fits over a DataFrame with
named feature columns and returns a :class:`Model` whose ``predict(df)``
appends a ``prediction`` column.  Feature assembly (vector column, label
indexing, array-column unpacking) is handled inside, so callers stay in the
engine's column vocabulary (SURVEY §2.12: classification/regression mostly
wrap sklearn in the reference; MLlib is the distributed equivalent).

Closed-form learners (Mean, Majority, simple OLS) are implemented directly
as aggregations — exactly reproducible, DuckDB-oracle-checkable, and cheaper
than an iterative fit at any scale.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orange3_spark.session import fetch_local


def assemble_features(df: DataFrame, features: Sequence[str],
                      out: str = "features",
                      array_col: Optional[str] = None) -> DataFrame:
    """Build the MLlib vector column from named columns or one array col."""
    if array_col is not None:
        from pyspark.ml.functions import array_to_vector
        return df.withColumn(out, array_to_vector(
            F.transform(F.col(array_col), lambda x: x.cast("double"))))
    from pyspark.ml.feature import VectorAssembler
    return VectorAssembler(inputCols=list(features), outputCol=out,
                           handleInvalid="skip").transform(df)


@dataclass
class Model:
    """Prediction wrapper (reference Model: ``Orange/base.py``)."""
    _predict_fn: object
    name: str = "model"

    def predict(self, df: DataFrame) -> DataFrame:
        return self._predict_fn(df)

    __call__ = predict


# ------------------------------------------------------- closed-form learners

def majority_learner(df: DataFrame, class_col: str) -> Model:
    """Majority classifier (``Orange/classification/majority.py``): predicts
    the modal class.  One tiny aggregate; prediction is a literal column."""
    mode = (df.groupBy(class_col).count()
              .orderBy(F.col("count").desc(), F.col(class_col))
              .first()[0])

    def _predict(d: DataFrame) -> DataFrame:
        return d.withColumn("prediction", F.lit(mode))
    return Model(_predict, "majority")


def mean_learner(df: DataFrame, target_col: str) -> Model:
    """Mean regressor (``Orange/regression/mean.py``)."""
    mu = df.agg(F.avg(target_col)).first()[0]

    def _predict(d: DataFrame) -> DataFrame:
        return d.withColumn("prediction", F.lit(float(mu)))
    return Model(_predict, "mean")


def ols_learner(df: DataFrame, features: Sequence[str],
                target_col: str) -> Model:
    """Ordinary least squares via the normal equations, computed with Spark
    aggregations: X'X and X'y are k×k / k sums (one scan, map-side
    combinable), the k×k solve happens on the driver.  Exact — matches a
    SQL oracle's regr_slope/regr_intercept — and scale-free for the small-k
    regime every tabular regression lives in."""
    import numpy as np

    k = len(features)
    cols = [F.lit(1.0)] + [F.col(c).cast("double") for c in features]
    aggs = []
    for i in range(k + 1):
        for j in range(i, k + 1):
            aggs.append(F.sum(cols[i] * cols[j]).alias(f"xx_{i}_{j}"))
        aggs.append(F.sum(cols[i] * F.col(target_col).cast("double"))
                    .alias(f"xy_{i}"))
    row = df.na.drop(subset=[*features, target_col]).agg(*aggs).first()
    xtx = np.zeros((k + 1, k + 1))
    xty = np.zeros(k + 1)
    for i in range(k + 1):
        for j in range(i, k + 1):
            xtx[i, j] = xtx[j, i] = row[f"xx_{i}_{j}"]
        xty[i] = row[f"xy_{i}"]
    beta = np.linalg.solve(xtx, xty)
    intercept, coefs = float(beta[0]), [float(b) for b in beta[1:]]

    def _predict(d: DataFrame) -> DataFrame:
        expr: Column = F.lit(intercept)
        for c, b in zip(features, coefs):
            expr = expr + F.col(c).cast("double") * F.lit(b)
        return d.withColumn("prediction", expr)

    m = Model(_predict, "ols")
    m.intercept, m.coefficients = intercept, coefs
    m.features = list(features)          # for ml/persist JSON round-trip
    return m


# ----------------------------------------------------------- MLlib estimators

def right_size_for_fit(train: DataFrame, *,
                       rows_per_task: int = 20_000) -> DataFrame:
    """Iterative MLlib fits run one treeAggregate job per iteration over
    EVERY partition, so a small training set on a wide session pays
    iterations×parallelism near-empty task round-trips.  Coalesce to
    ceil(n/rows_per_task) partitions (capped at default parallelism):
    full parallelism at scale, one task at bench SF.  Caller unpersists."""
    sc = train.sparkSession.sparkContext
    n = train.count()
    parts = max(1, min(sc.defaultParallelism, n // rows_per_task + 1))
    if parts < train.rdd.getNumPartitions():
        train = train.coalesce(parts)
    return train.cache()


def _mllib_learner(estimator_cls, task: str, df: DataFrame,
                   features: Sequence[str], target_col: str,
                   array_col: Optional[str] = None, **params) -> Model:
    train = right_size_for_fit(assemble_features(df, features,
                                                 array_col=array_col))
    est = estimator_cls(featuresCol="features", labelCol=target_col,
                        predictionCol="prediction", **params)
    try:
        fitted = est.fit(train)
    finally:
        train.unpersist()

    def _predict(d: DataFrame) -> DataFrame:
        dd = assemble_features(d, features, array_col=array_col)
        out = fitted.transform(dd)
        drop = [c for c in ("features", "rawPrediction", "probability")
                if c in out.columns]
        return out.drop(*drop)

    m = Model(_predict, estimator_cls.__name__)
    m.mllib_model = fitted
    return m


def logistic_regression(df, features=(), class_col="label", *,
                        array_col=None, max_iter=50, reg_param=0.0) -> Model:
    from pyspark.ml.classification import LogisticRegression
    return _mllib_learner(LogisticRegression, "clf", df, features, class_col,
                          array_col, maxIter=max_iter, regParam=reg_param)


#: Fixed-point scale for logistic_irls's cross-partition accumulators.
IRLS_QSCALE = 1_000_000.0


def _irls_row_stats(X, y, beta, qscale: float):
    """Per-row quantized Newton-IRLS contributions — row-local,
    batch-size-independent (fixed-order accumulation over the p feature
    terms, no batch-shape BLAS), shared verbatim by the distributed scan
    and the local replay twin.  Returns int64 (qH upper-triangle, qg)."""
    import numpy as np

    n, p = X.shape
    t = np.full(n, beta[0])
    for j in range(p):
        t += X[:, j] * beta[j + 1]
    mu = 1.0 / (1.0 + np.exp(-t))
    w = mu * (1.0 - mu)
    z = np.concatenate([np.ones((n, 1)), X], axis=1)
    # int64 wrap guard (same posture as _som_guard): the largest quantized
    # Hessian entry is bounded by 0.25·max|z|²·qscale — raise before the
    # astype(int64) below could silently wrap on huge raw features
    zmax = float(np.abs(z).max()) if z.size else 0.0
    if 0.25 * zmax * zmax * qscale >= 2.0 ** 62:
        raise ValueError(
            f"logistic_irls: feature magnitude {zmax:.3g} would overflow "
            f"the quantized int64 accumulators at scale {qscale:.0e}; "
            "standardize/rescale the features first")
    d = p + 1
    qH = np.empty((n, d * (d + 1) // 2))
    c = 0
    for i in range(d):
        for j in range(i, d):
            qH[:, c] = np.floor(w * z[:, i] * z[:, j] * qscale + 0.5)
            c += 1
    qg = np.empty((n, d))
    for i in range(d):
        qg[:, i] = np.floor((y - mu) * z[:, i] * qscale + 0.5)
    return qH.astype(np.int64), qg.astype(np.int64)


def _irls_solve(qH_tot, qg_tot, d: int, qscale: float, ridge: float):
    """Driver-side Newton step from EXACT integer totals — a pure
    function of (qH, qg), identical in both fit paths."""
    import numpy as np

    H = np.zeros((d, d))
    c = 0
    for i in range(d):
        for j in range(i, d):
            H[i, j] = H[j, i] = float(qH_tot[c]) / qscale
            c += 1
    g = np.asarray([float(v) / qscale for v in qg_tot])
    return np.linalg.solve(H + ridge * np.eye(d), g)


def logistic_irls(df: DataFrame, features: Sequence[str],
                  label_col: str = "label", *, iters: int = 8,
                  qscale: float = IRLS_QSCALE,
                  ridge: float = 1e-8) -> list:
    """FULL-data distributed logistic regression via Newton-IRLS with
    partition-independent EXACT arithmetic (``Orange/classification/
    logistic_regression.py`` wraps sklearn, driver-local; MLlib's L-BFGS
    is float-sum order-dependent, so its coefficients change with
    partitioning — this engine variant doesn't).

    Each Newton iteration is ONE Arrow-batched scan: every row emits its
    quantized Hessian/gradient contribution (row-local — floor(w·z_i·z_j
    ·scale + 0.5) as int64), partitions partial-sum in int64 and ship
    arbitrary-precision totals as strings, and the driver combine is
    exact integer addition — so β after every iteration is a pure
    function of the data, independent of partitioning, batching and
    combine order, and the whole fit is replayable from any engine's
    fetch of the same rows (plans/oracle_replay.logreg_irls_oracle).
    Shuffle volume per iteration: (p+1)(p+2)/2 + (p+1) scalars per
    partition.  Returns β = [intercept, coef...].
    """
    import numpy as np

    p = len(features)
    d = p + 1
    n_tri = d * (d + 1) // 2
    # Ship the features as p SEPARATE double columns, not one array
    # column: Arrow delivers plain doubles as contiguous buffers that
    # ``pdf[fcols].to_numpy()`` reassembles at C speed, while a list
    # column forced a per-row ``np.asarray`` Python loop in every batch
    # of every iteration (r10 profile: the loop dominated per-iteration
    # cost at 150k rows; guide §4 — control how columns cross the
    # boundary).  Values are identical either way, so β is unchanged.
    fcols = [f"_x{i}" for i in range(p)]
    sel = (df.na.drop(subset=[*features, label_col])
           .select(*[F.col(c).cast("double").alias(fc)
                     for c, fc in zip(features, fcols)],
                   F.col(label_col).cast("double").alias("_y")))
    # Bounded local twin: ONE fetch folds the size gate and the fetch
    # together — an over-cap corpus stops it after ~cap rows and takes
    # the distributed loop below.  The fetch's row order is arbitrary,
    # and fit_logistic_irls_matrix — the ORACLE'S OWN local twin — sums
    # per-row quantized stats with exact integer addition, so β is
    # bit-identical to the distributed loop in any row order (pinned by
    # test_logistic_irls_partition_independent).
    tbl = fetch_local(sel, width=d)
    if tbl is not None:
        return fit_logistic_irls_matrix(
            tbl.select(fcols).to_pandas().to_numpy(dtype=np.float64),
            tbl.column("_y").to_numpy(),
            iters=iters, qscale=qscale, ridge=ridge)
    sel = sel.persist()
    # Right-size the iteration frame (same coalesce rule as som_fit /
    # right_size_for_fit): a bounded fit frame arriving through a
    # 32-partition shuffle pays iterations×parallelism Python-worker
    # round-trips — measured 6 IRLS iterations over 2,492 cached rows in
    # 32 partitions at ~1 s/iteration while the row stats cost 0.04 s.
    # One task per 50k rows keeps full parallelism at scale; the exact
    # integer combine is partition-independent, so β is unchanged
    # (pinned by test_logistic_irls_partition_independent).
    n_rows = sel.count()
    sc = df.sparkSession.sparkContext
    parts = max(1, min(sc.defaultParallelism, n_rows // 50_000 + 1))
    if parts < sel.rdd.getNumPartitions():
        wide = sel
        sel = wide.coalesce(parts).persist()
        sel.count()
        wide.unpersist()
    try:
        beta = np.zeros(d)

        def scan(beta_now):
            def run(it):
                import pandas as pd

                accH = [0] * n_tri
                accg = [0] * d
                for pdf in it:
                    if not len(pdf):
                        continue
                    X = pdf[fcols].to_numpy(dtype=np.float64)
                    y = pdf["_y"].to_numpy(dtype=np.float64)
                    qH, qg = _irls_row_stats(X, y, beta_now, qscale)
                    sH = qH.sum(axis=0)      # int64: partition-local
                    sg = qg.sum(axis=0)
                    for i in range(n_tri):
                        accH[i] += int(sH[i])
                    for i in range(d):
                        accg[i] += int(sg[i])
                yield pd.DataFrame({"h": [[str(v) for v in accH]],
                                    "g": [[str(v) for v in accg]]})

            parts = sel.mapInPandas(
                run, "h array<string>, g array<string>").collect()
            qH_tot = [0] * n_tri
            qg_tot = [0] * d
            for r in parts:
                for i, v in enumerate(r["h"]):
                    qH_tot[i] += int(v)
                for i, v in enumerate(r["g"]):
                    qg_tot[i] += int(v)
            return qH_tot, qg_tot

        for _ in range(iters):
            qH_tot, qg_tot = scan(beta)
            beta = beta + _irls_solve(qH_tot, qg_tot, d, qscale, ridge)
        return [float(b) for b in beta]
    finally:
        sel.unpersist()


def fit_logistic_irls_matrix(X, y, *, iters: int = 8,
                             qscale: float = IRLS_QSCALE,
                             ridge: float = 1e-8):
    """Local twin of :func:`logistic_irls` on a full matrix — identical
    quantized statistics, identical driver math — used by the oracle
    replay to reproduce the distributed fit bit for bit from a DuckDB
    fetch in any row order."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    d = X.shape[1] + 1
    beta = np.zeros(d)
    for _ in range(iters):
        qH, qg = _irls_row_stats(X, y, beta, qscale)
        # .tolist() bulk-converts int64 → Python ints (C loop), then the
        # built-in sum accumulates with arbitrary precision — the exact
        # same totals as the previous per-element int() generator, which
        # cost ~1.2 s/fit at 150k rows (8M interpreted conversions; the
        # whole numpy stat pass is ~10 ms)
        qH_tot = [sum(qH[:, i].tolist()) for i in range(qH.shape[1])]
        qg_tot = [sum(qg[:, i].tolist()) for i in range(qg.shape[1])]
        beta = beta + _irls_solve(qH_tot, qg_tot, d, qscale, ridge)
    return [float(b) for b in beta]


def random_forest_classifier(df, features=(), class_col="label", *,
                             array_col=None, num_trees=50, seed=42) -> Model:
    from pyspark.ml.classification import RandomForestClassifier
    return _mllib_learner(RandomForestClassifier, "clf", df, features,
                          class_col, array_col, numTrees=num_trees, seed=seed)


def naive_bayes(df, features=(), class_col="label", *, array_col=None) -> Model:
    from pyspark.ml.classification import NaiveBayes
    return _mllib_learner(NaiveBayes, "clf", df, features, class_col, array_col)


def decision_tree(df, features=(), class_col="label", *, array_col=None,
                  max_depth=5, seed=42) -> Model:
    from pyspark.ml.classification import DecisionTreeClassifier
    return _mllib_learner(DecisionTreeClassifier, "clf", df, features,
                          class_col, array_col, maxDepth=max_depth, seed=seed)


def linear_svm(df, features=(), class_col="label", *, array_col=None,
               max_iter=50) -> Model:
    from pyspark.ml.classification import LinearSVC
    return _mllib_learner(LinearSVC, "clf", df, features, class_col,
                          array_col, maxIter=max_iter)


def mlp_classifier(df, features=(), class_col="label", *, array_col=None,
                   layers=None, seed=42, max_iter=100) -> Model:
    from pyspark.ml.classification import MultilayerPerceptronClassifier
    return _mllib_learner(MultilayerPerceptronClassifier, "clf", df, features,
                          class_col, array_col, layers=layers, seed=seed,
                          maxIter=max_iter)


def linear_regression(df, features=(), target_col="y", *, array_col=None,
                      elastic_net=0.0, reg_param=0.0, max_iter=50) -> Model:
    """OLS/Ridge/Lasso/ElasticNet by reg params (reference:
    ``Orange/regression/linear.py``)."""
    from pyspark.ml.regression import LinearRegression
    return _mllib_learner(LinearRegression, "reg", df, features, target_col,
                          array_col, elasticNetParam=elastic_net,
                          regParam=reg_param, maxIter=max_iter)


def random_forest_regressor(df, features=(), target_col="y", *,
                            array_col=None, num_trees=50, seed=42) -> Model:
    from pyspark.ml.regression import RandomForestRegressor
    return _mllib_learner(RandomForestRegressor, "reg", df, features,
                          target_col, array_col, numTrees=num_trees, seed=seed)


def gbt_regressor(df, features=(), target_col="y", *, array_col=None,
                  max_iter=20, seed=42) -> Model:
    from pyspark.ml.regression import GBTRegressor
    return _mllib_learner(GBTRegressor, "reg", df, features, target_col,
                          array_col, maxIter=max_iter, seed=seed)


def _knn_lsh_join(train: DataFrame, feat: Sequence[str],
                  array_col: Optional[str], k: int, n_planes: int,
                  seed: int):
    """Shared LSH-bucket kNN join core for the big-data fallback paths:
    bucket train and test by hyperplane sign signature, equi-join on
    bucket, euclidean distance, top-k window per test row.  Shuffle is on
    bucket ids — never a broadcast of the training matrix, never a cross
    join.  Approximate: neighbors in other buckets are missed (recall
    rises as ``n_planes`` falls; 0 planes = one bucket = exact)."""
    from orange3_spark.similarity.knn import hyperplanes, lsh_signature

    vcol = (F.col(array_col).cast("array<double>") if array_col is not None
            else F.array(*[F.col(c).cast("double") for c in feat]))
    probe = train.select(vcol.alias("_v")).first()
    dim = len(probe["_v"])
    planes = hyperplanes(dim, n_planes, seed)

    def with_bucket(d: DataFrame, prefix: str) -> DataFrame:
        out = d.withColumn(f"{prefix}v", vcol)
        sig = lsh_signature(f"{prefix}v", planes)
        return out.withColumn("bucket", sig)

    def pairs(test_with_id: DataFrame, id_name: str,
              keep_cols: Sequence[str] = ()) -> DataFrame:
        from orange3_spark.similarity.knn import euclidean
        from pyspark.sql.window import Window

        t = with_bucket(test_with_id, "_q").select(id_name, "_qv", "bucket")
        # train side carries only the bucket, vector, and requested
        # columns — full-width train columns would collide with the
        # probe side's names in the join
        tr = with_bucket(train, "_t").select("bucket", "_tv",
                                             *[F.col(c) for c in keep_cols])
        cand = t.join(tr, "bucket")
        cand = cand.withColumn("_dist", euclidean(F.col("_qv"),
                                                  F.col("_tv")))
        # TOTAL order: duplicate train vectors can carry different
        # payloads (keep_cols), so the payload joins the sort key or the
        # k-boundary tie-break would be shuffle-order-dependent
        w = Window.partitionBy(id_name).orderBy(
            "_dist", "_tv", *[F.col(c) for c in keep_cols])
        return (cand.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") <= k))

    return pairs


def knn_classifier(df: DataFrame, features: Sequence[str] = (),
                   class_col: str = "label", *, array_col: Optional[str] = None,
                   k: int = 5, max_broadcast_cells: int = 50_000_000,
                   lsh_planes: int = 12, lsh_seed: int = 42) -> Model:
    """kNN: the training set's feature matrix is broadcast (bounded) and each
    partition classifies its rows with one BLAS distance computation — the
    same broadcast+matmul shape as similarity.neardup_cosine_matmul.  MLlib
    has no kNN; this is the distributed-inference equivalent.

    Past ``max_broadcast_cells`` the learner switches AUTOMATICALLY to the
    LSH-bucket join (``similarity/knn.py`` machinery): train never leaves
    the cluster, the probe shuffles on sign-signature buckets, and votes
    come from a per-test-row top-k window — approximate (documented
    recall < 1, tune ``lsh_planes``), but it scales instead of erroring."""
    import numpy as np
    from pyspark.sql import types as T

    feat = list(features)
    p = (len(feat) if array_col is None
         else len(df.select(array_col).first()[0]))
    n_train = df.count()
    if n_train * p > max_broadcast_cells:
        # big path: never collect the training matrix
        pair_fn = _knn_lsh_join(df, feat, array_col, k, lsh_planes,
                                lsh_seed)

        def _predict_lsh(d: DataFrame) -> DataFrame:
            from pyspark.sql.window import Window

            # PIN the generated ids: _kid is nondeterministic, and the
            # frame sits on BOTH sides of the prediction join — without
            # cutting lineage a recomputation could renumber one side
            # and attach predictions to the wrong rows
            t = (d.withColumn("_kid", F.monotonically_increasing_id())
                 .localCheckpoint())
            knn = pair_fn(t, "_kid", keep_cols=[class_col])
            votes = (knn.groupBy("_kid", F.col(class_col).alias("_vote"))
                     .agg(F.count(F.lit(1)).alias("_c")))
            wv = Window.partitionBy("_kid").orderBy(F.col("_c").desc(),
                                                    F.col("_vote"))
            pred = (votes.withColumn("_r", F.row_number().over(wv))
                    .filter(F.col("_r") == 1)
                    .select("_kid",
                            F.col("_vote").cast("double")
                            .alias("prediction")))
            return t.join(pred, "_kid", "left").drop("_kid")

        return Model(_predict_lsh, "knn_lsh")

    def _matrix(d: DataFrame):
        if array_col is not None:
            rows = d.select(array_col, class_col).collect()
            return (np.array([r[0] for r in rows], dtype=np.float64),
                    np.array([r[1] for r in rows]))
        rows = d.select(*feat, class_col).collect()
        return (np.array([r[:-1] for r in rows], dtype=np.float64),
                np.array([r[-1] for r in rows]))

    train_x, train_y = _matrix(df)
    sc = df.sparkSession.sparkContext
    b_x, b_y = sc.broadcast(train_x), sc.broadcast(train_y)

    def _predict(d: DataFrame) -> DataFrame:
        in_fields = d.schema.fields
        schema = T.StructType(list(in_fields) +
                              [T.StructField("prediction", T.DoubleType())])

        def run(pdf_iter):
            import pandas as pd
            X, y = b_x.value, b_y.value
            for pdf in pdf_iter:
                if array_col is not None:
                    q = np.array(list(pdf[array_col]), dtype=np.float64)
                else:
                    q = pdf[feat].to_numpy(dtype=np.float64)
                d2 = ((q ** 2).sum(1)[:, None] - 2 * q @ X.T
                      + (X ** 2).sum(1)[None, :])
                idx = np.argpartition(d2, min(k, X.shape[0] - 1), axis=1)[:, :k]
                votes = y[idx]
                pred = [np.bincount(v.astype(np.int64)).argmax()
                        for v in votes]
                pdf = pdf.copy()
                pdf["prediction"] = np.array(pred, dtype=np.float64)
                yield pdf

        return d.mapInPandas(run, schema=schema)

    return Model(_predict, "knn")


def knn_regressor(df: DataFrame, features: Sequence[str] = (),
                  target_col: str = "y", *, array_col: Optional[str] = None,
                  k: int = 5, id_col: Optional[str] = None,
                  max_broadcast_cells: int = 50_000_000,
                  lsh_planes: int = 12, lsh_seed: int = 42) -> Model:
    """kNN regression (``Orange/regression/knn.py`` KNNRegressionLearner
    wraps sklearn KNeighborsRegressor; tests ``Orange/tests/test_knn.py``):
    prediction = mean target of the k nearest training rows, same
    broadcast+BLAS inference shape as :func:`knn_classifier`.

    Exactness contract: with INTEGER feature/target columns and an
    ``id_col``, neighbor selection is a total order (squared distance,
    then train id — ``np.lexsort``), distances are exact integer-valued
    float64 (products < 2⁵³), and the prediction is ``Σy/k`` from an
    exact int sum — so the whole inference pass is replayable in SQL
    (``q_ml_knn_reg``).  Float features work too, minus the bit-exact
    guarantee.

    Past ``max_broadcast_cells`` the learner switches AUTOMATICALLY to
    the LSH-bucket join (same big path as :func:`knn_classifier`): train
    never leaves the cluster, the probe shuffles on sign-signature
    buckets, prediction = mean target over the bucketed top-k —
    approximate recall, but it scales instead of erroring."""
    import numpy as np
    from pyspark.sql import types as T

    feat = list(features)
    p = (len(feat) if array_col is None
         else len(df.select(array_col).first()[0]))
    n_train = df.count()
    if n_train * p > max_broadcast_cells:
        # big path: never collect the training matrix
        pair_fn = _knn_lsh_join(df, feat, array_col, k, lsh_planes,
                                lsh_seed)

        def _predict_lsh(d: DataFrame) -> DataFrame:
            # PIN the generated ids: _kid is nondeterministic, and the
            # frame sits on BOTH sides of the prediction join — without
            # cutting lineage a recomputation could renumber one side
            # and attach predictions to the wrong rows
            t = (d.withColumn("_kid", F.monotonically_increasing_id())
                 .localCheckpoint())
            knn = pair_fn(t, "_kid", keep_cols=[target_col])
            # avg == Σ/k whenever the bucket held ≥ k candidates (the
            # top-k window keeps exactly k); with fewer it degrades to
            # the mean of what was found instead of underestimating
            pred = (knn.groupBy("_kid")
                    .agg(F.avg(F.col(target_col).cast("double"))
                         .alias("prediction")))
            return t.join(pred, "_kid", "left").drop("_kid")

        return Model(_predict_lsh, "knn_reg_lsh")

    sel = ([array_col] if array_col is not None else feat) + [target_col]
    if id_col is not None:
        sel = sel + [id_col]
    rows = df.select(*sel).collect()
    if array_col is not None:
        train_x = np.array([r[0] for r in rows], dtype=np.float64)
    else:
        train_x = np.array([r[:len(feat)] for r in rows], dtype=np.float64)
    train_y = np.array([r[target_col] for r in rows], dtype=np.float64)
    # exact-int mode only when EVERY target is integer-valued — a probe
    # of the head would silently truncate later fractional targets
    int_y = bool(np.all(np.floor(train_y) == train_y))
    if int_y:
        train_y = train_y.astype(np.int64)
    train_id = (np.array([r[id_col] for r in rows])
                if id_col is not None else np.arange(len(rows)))
    sc = df.sparkSession.sparkContext
    b = sc.broadcast((train_x, train_y, train_id))

    def _predict(d: DataFrame) -> DataFrame:
        in_fields = d.schema.fields
        schema = T.StructType(list(in_fields) +
                              [T.StructField("prediction", T.DoubleType())])
        # the O(n_test·n_train) distance work happens inside mapInPandas —
        # a filter-derived test set often sits in 1-2 input splits, which
        # would serialize it; spread the probe rows across the executors
        par = d.sparkSession.sparkContext.defaultParallelism
        if d.rdd.getNumPartitions() < par:
            d = d.repartition(par)

        def run(pdf_iter):
            X, y, ids = b.value
            # canonical id order: within equal distances the smallest id
            # wins, so pre-sorting train by id makes "first index" = the
            # tie-break, with no per-row lexsort
            id_order = np.argsort(ids, kind="stable")
            Xs, ys = X[id_order], y[id_order]
            ysf = ys.astype(np.float64)
            x2 = (Xs ** 2).sum(1)
            kk = min(k, len(ys))
            one_d = Xs.shape[1] == 1
            if one_d:
                # 1-d fast path: sort train by (x, id) once; each probe's
                # k nearest live in a bounded POSITION window around its
                # insertion point (≤ (k+2)·max_multiplicity positions per
                # side), so selection is searchsorted + a tiny per-row
                # sort instead of an O(n_train) partition per probe
                ordx = np.argsort(Xs[:, 0], kind="stable")  # id-stable
                xs_s, ys_s = Xs[ordx, 0], ysf[ordx]
                idr_s = ordx                     # position→id-rank (asc=smaller id)
                _, cnts = np.unique(xs_s, return_counts=True)
                W = int(min(len(xs_s), (kk + 2) * cnts.max() + 8))
            for pdf in pdf_iter:
                if array_col is not None:
                    q = np.array(list(pdf[array_col]), dtype=np.float64)
                else:
                    q = pdf[feat].to_numpy(dtype=np.float64)
                preds = np.empty(len(q))
                if one_d:
                    pos = np.searchsorted(xs_s, q[:, 0])
                    n_tr = len(xs_s)
                    for i in range(len(q)):
                        lo = max(0, pos[i] - W)
                        hi = min(n_tr, pos[i] + W)
                        dd = (xs_s[lo:hi] - q[i, 0]) ** 2
                        sel = np.lexsort((idr_s[lo:hi], dd))[:kk]
                        preds[i] = ys_s[lo + sel].sum() / kk
                    pdf = pdf.copy()
                    pdf["prediction"] = preds
                    yield pdf
                    continue
                # chunk so the (chunk × n_train) distance block stays
                # ~100-200 MB; selection is vectorized (partition + one
                # mask-matvec), only boundary TIES get per-row work
                chunk = max(1, int(3e7) // max(len(ys), 1))
                for lo in range(0, len(q), chunk):
                    qc = q[lo:lo + chunk]
                    d2 = ((qc ** 2).sum(1)[:, None] - 2 * qc @ Xs.T
                          + x2[None, :])
                    kth = np.partition(d2, kk - 1, axis=1)[:, kk - 1:kk]
                    lt = d2 < kth
                    n_lt = lt.sum(axis=1)
                    sums = lt @ ysf                        # exact ints
                    eq_rows = np.nonzero(n_lt < kk)[0]
                    for i in eq_rows:                      # boundary ties
                        cand = np.nonzero(d2[i] == kth[i, 0])[0]
                        take = cand[: kk - n_lt[i]]        # smallest ids
                        sums[i] += float(ys[take].sum())
                    preds[lo:lo + chunk] = sums / kk
                pdf = pdf.copy()
                pdf["prediction"] = preds
                yield pdf

        return d.mapInPandas(run, schema=schema)

    return Model(_predict, "knn_reg")


def softmax_regression(df, features=(), class_col="label", *, array_col=None,
                       max_iter=50, reg_param=0.0) -> Model:
    """Softmax/multinomial logistic regression
    (``Orange/classification/softmax_regression.py``): MLlib
    LogisticRegression with the multinomial family."""
    from pyspark.ml.classification import LogisticRegression
    return _mllib_learner(LogisticRegression, "clf", df, features, class_col,
                          array_col, maxIter=max_iter, regParam=reg_param,
                          family="multinomial")


def gbt_classifier(df, features=(), class_col="label", *, array_col=None,
                   max_iter=20, seed=42) -> Model:
    """Gradient-boosted trees classifier
    (``Orange/classification/gb.py``; binary labels in MLlib)."""
    from pyspark.ml.classification import GBTClassifier
    return _mllib_learner(GBTClassifier, "clf", df, features, class_col,
                          array_col, maxIter=max_iter, seed=seed)


def ridge_regression(df, features=(), target_col="y", **kw) -> Model:
    """L2 linear regression (``Orange/regression/linear.py:RidgeRegressionLearner``)."""
    kw.setdefault("reg_param", 1.0)
    return linear_regression(df, features, target_col, elastic_net=0.0, **kw)


def lasso_regression(df, features=(), target_col="y", **kw) -> Model:
    """L1 linear regression (``Orange/regression/linear.py:LassoRegressionLearner``)."""
    kw.setdefault("reg_param", 1.0)
    return linear_regression(df, features, target_col, elastic_net=1.0, **kw)


def elastic_net_regression(df, features=(), target_col="y", *,
                           l1_ratio=0.5, **kw) -> Model:
    """ElasticNet (``Orange/regression/linear.py:ElasticNetLearner``)."""
    kw.setdefault("reg_param", 1.0)
    return linear_regression(df, features, target_col,
                             elastic_net=l1_ratio, **kw)


def sgd_learner(df, features=(), target_col="y", *, loss="squared",
                array_col=None, **kw) -> Model:
    """SGD learner surface (``Orange/modelling/linear.py:SGDLearner``).
    Distributed optimization replaces the sequential epoch loop: the same
    objectives (squared -> linear, log -> logistic, hinge -> linear SVM)
    fit via MLlib's parallel L-BFGS/OWL-QN, which is the scalable
    equivalent of sklearn's SGD on one node."""
    if loss == "squared":
        return linear_regression(df, features, target_col,
                                 array_col=array_col, **kw)
    if loss == "log":
        return logistic_regression(df, features, target_col,
                                   array_col=array_col, **kw)
    if loss == "hinge":
        return linear_svm(df, features, target_col, array_col=array_col, **kw)
    raise ValueError(f"unsupported loss: {loss}")


# Reference's "Simple" accelerated variants are API aliases here: MLlib's
# tree/forest are already the distributed implementations.
simple_tree = decision_tree
simple_random_forest = random_forest_classifier
