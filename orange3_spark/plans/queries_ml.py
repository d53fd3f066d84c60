"""ML-surface queries: deterministic learners oracle-checked in SQL, and
iterative MLlib fits as rows-only entries (the driver records the weaker
check; tests assert quality thresholds)."""

from __future__ import annotations

from pyspark.sql import functions as F

from orange3_spark.ml import cluster as C
from orange3_spark.ml import evaluation as E
from orange3_spark.ml import learners as L
from orange3_spark.plans import oracle_replay as OR
from orange3_spark.plans.registry import query
from orange3_spark.session import load_tables, local_frame


def _t(spark, sf_dir, *names):
    d = load_tables(spark, sf_dir, names)
    return [d[n] for n in names]


_SPLIT = "substring(md5(CAST(o_orderkey AS VARCHAR)),1,8) < '3fffffff'"  # 25% test


def lloyd_cte(k: int, n_iter: int, *, label: bool = False,
              where: str = "") -> str:
    """DuckDB CTE chain replaying ``ml/cluster.kmeans_lloyd_fit`` exactly:
    quantize → first-k init → (assign → integer-mean update) × (n_iter−1)
    → final assignment as ``wf(vec_id[, label], qv, cl)``.

    Every value is exact: quantized coordinates are integers, distances
    are exact integer sums (``list_distance`` sums integral doubles < 2⁵³,
    so accumulation order is irrelevant), and centroid updates are
    ``floor(Σ/n + 0.5)`` — the same correctly-rounded division the engine
    performs.  Shared by q_ml_kmeans / q_dedup_semantic / q_knn_ivf /
    q_ml_silhouette so the fit replay is written once."""
    lbl = ", label" if label else ""
    plbl = ", p.label" if label else ""
    wh = f" WHERE {where}" if where else ""
    parts = [f"""pts AS (SELECT vec_id{lbl},
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> floor(x * 1000000.0 + 0.5)) AS qv
  FROM embeddings{wh}),
c_0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, qv AS cv
  FROM pts ORDER BY vec_id LIMIT {k})"""]
    for r in range(1, n_iter):
        parts.append(f"""w_{r} AS (SELECT vec_id{lbl}, qv, cl FROM (
    SELECT p.vec_id{plbl}, p.qv, c.cl,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY list_distance(p.qv, c.cv), c.cl) AS rn
    FROM pts p CROSS JOIN c_{r - 1} c) s WHERE rn = 1),
cm_{r} AS (SELECT cl, list(m ORDER BY i) AS cv FROM (
    SELECT cl, i, floor(sum(qv[i]) / count(*) + 0.5) AS m
    FROM w_{r}, unnest(generate_series(1, len(qv))) g(i)
    GROUP BY cl, i) s GROUP BY cl),
c_{r} AS (SELECT prev.cl, coalesce(cm.cv, prev.cv) AS cv
  FROM c_{r - 1} prev LEFT JOIN cm_{r} cm ON prev.cl = cm.cl)""")
    parts.append(f"""wf AS (SELECT vec_id{lbl}, qv, cl FROM (
    SELECT p.vec_id{plbl}, p.qv, c.cl,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY list_distance(p.qv, c.cv), c.cl) AS rn
    FROM pts p CROSS JOIN c_{n_iter - 1} c) s WHERE rn = 1)""")
    return ",\n".join(parts)


@query("q_ml_majority_ca", f"""
WITH train AS (SELECT * FROM orders WHERE NOT ({_SPLIT})),
     test  AS (SELECT * FROM orders WHERE {_SPLIT}),
     m AS (SELECT o_orderpriority AS mode FROM train
           GROUP BY 1 ORDER BY count(*) DESC, o_orderpriority LIMIT 1)
SELECT avg(CASE WHEN t.o_orderpriority = m.mode THEN 1.0 ELSE 0.0 END) AS ca
FROM test t, m
""")
def q_ml_majority_ca(spark, sf_dir):
    """Majority classifier + accuracy on a deterministic hash split — the
    whole evaluate loop (train/fit/predict/score) is oracle-checkable."""
    (orders,) = _t(spark, sf_dir, "orders")
    train, test = E.train_test_split(orders, "o_orderkey", 0.25)
    model = L.majority_learner(train, "o_orderpriority")
    acc = E.ca(model.predict(test), label="o_orderpriority")
    return local_frame(spark, [(acc,)], "ca double")


@query("q_ml_ols", f"""
WITH train AS (SELECT * FROM orders WHERE NOT ({_SPLIT})),
     test  AS (SELECT * FROM orders WHERE {_SPLIT}),
     fit AS (SELECT regr_slope(o_totalprice, o_custkey) AS b,
                    regr_intercept(o_totalprice, o_custkey) AS a FROM train)
SELECT fit.a AS intercept, fit.b AS slope,
       sqrt(avg(power(t.o_totalprice - (fit.a + fit.b * t.o_custkey), 2))) AS rmse_test
FROM test t, fit
GROUP BY fit.a, fit.b
""")
def q_ml_ols(spark, sf_dir):
    """OLS via normal-equation aggregates (one scan for X'X/X'y, driver
    solve) — exact, hence oracle-equal to SQL regr_slope/regr_intercept."""
    (orders,) = _t(spark, sf_dir, "orders")
    train, test = E.train_test_split(orders, "o_orderkey", 0.25)
    m = L.ols_learner(train, ["o_custkey"], "o_totalprice")
    r = E.rmse(m.predict(test), label="o_totalprice")
    return local_frame(
        spark, [(m.intercept, m.coefficients[0], r)],
        "intercept double, slope double, rmse_test double")


@query("q_ml_knn_ca", """
WITH split AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label,
         substring(md5(CAST(vec_id AS VARCHAR)),1,8) < '3fffffff' AS is_test
  FROM embeddings),
pairs AS (
  SELECT t.vec_id, t.label AS true_label, tr.label AS train_label,
         row_number() OVER (PARTITION BY t.vec_id
                            ORDER BY list_distance(t.v, tr.v), tr.vec_id) AS rn
  FROM split t JOIN split tr ON tr.is_test = false
  WHERE t.is_test),
votes AS (
  SELECT vec_id, true_label, train_label, count(*) AS c
  FROM pairs WHERE rn <= 5 GROUP BY 1, 2, 3),
pred AS (
  SELECT vec_id, true_label, train_label AS prediction,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY c DESC, train_label) AS rk
  FROM votes)
SELECT avg(CASE WHEN true_label = prediction THEN 1.0 ELSE 0.0 END) AS ca
FROM pred WHERE rk = 1
""")
def q_ml_knn_ca(spark, sf_dir):
    """kNN (k=5, euclidean, broadcast+BLAS inference) on the embeddings
    table — fully deterministic, so even the learner is oracle-checkable
    (the oracle is the literal top-k-join formulation)."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    train, test = E.train_test_split(emb, "vec_id", 0.25)
    model = L.knn_classifier(train, array_col="embedding", class_col="label", k=5)
    pred = model.predict(test).withColumn(
        "prediction", F.col("prediction").cast("int"))
    acc = E.ca(pred, label="label")
    return local_frame(spark, [(acc,)], "ca double")


@query("q_ml_kmeans", f"""
WITH {lloyd_cte(8, 2, label=True)},
per AS (SELECT cl, label, count(*) AS c FROM wf GROUP BY cl, label)
SELECT cl AS cluster, CAST(sum(c) AS BIGINT) AS n,
       CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS purity
FROM per GROUP BY cl
""")
def q_ml_kmeans(spark, sf_dir):
    """Deterministic Lloyd KMeans (first-k init, 2 rounds, lower-index tie
    break) over the embedding column: cluster sizes + majority-label purity
    (labels are metadata, unseen by the fit).  The fit runs on an integer
    grid (``ml/cluster.kmeans_lloyd_fit``) — exact int64 distances and
    centroid sums, so no partition order or engine rounding can flip an
    assignment (the float ``avg``+round version hash-failed driver rounds
    1-3).  The seeded MLlib k-means|| fit stays pytest-covered
    (``ml/cluster.py:kmeans``)."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    clustered = C.kmeans_lloyd(emb, "vec_id", array_col="embedding",
                               k=8, n_iter=2)
    per = (clustered.groupBy("cluster", "label").count())
    top = (per.groupBy("cluster")
              .agg(F.sum("count").alias("n"), F.max("count").alias("top")))
    return top.select("cluster", "n",
                      (F.col("top").cast("double")
                       / F.col("n").cast("double")).alias("purity"))


@query("q_ml_dbscan", """
WITH RECURSIVE
f AS (SELECT n.n_nationkey AS id,
             CAST(count(*) AS DOUBLE) / 100.0 AS x,
             avg(o.o_totalprice) / 10000.0 AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_nationkey),
p AS (SELECT a.id AS ia, b.id AS ib FROM f a JOIN f b
      ON a.id < b.id
      AND 0.0 + (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 0.3*0.3),
nb AS (SELECT ia AS id, ib AS nbr FROM p UNION ALL SELECT ib, ia FROM p),
deg AS (SELECT id, count(*) AS n FROM nb GROUP BY id),
core AS (SELECT id FROM deg WHERE n >= 2),
ce AS (SELECT nb.id AS src, nb.nbr AS dst FROM nb
       WHERE nb.id IN (SELECT id FROM core)
         AND nb.nbr IN (SELECT id FROM core)),
reach AS (SELECT id, id AS r FROM core
          UNION
          SELECT ce.src AS id, reach.r FROM ce JOIN reach ON ce.dst = reach.id),
lab AS (SELECT id, min(r) AS cl FROM reach GROUP BY id),
border AS (SELECT nb.id, min(lab.cl) AS cl FROM nb JOIN lab ON nb.nbr = lab.id
           WHERE nb.id NOT IN (SELECT id FROM core) GROUP BY nb.id),
allp AS (SELECT * FROM lab UNION ALL SELECT * FROM border)
SELECT coalesce(a.cl, -1) AS cluster, count(*) AS n
FROM f LEFT JOIN allp a ON f.id = a.id
GROUP BY 1 ORDER BY 1
""")
def q_ml_dbscan(spark, sf_dir):
    """Distributed DBSCAN over nation-level features (2-d → grid-blocked
    ε-join; components via min-label propagation).  Deterministic — no
    randomness anywhere — so the full algorithm (core points, component
    labels = min core id, border adoption, noise = −1) is reproduced by a
    recursive-CTE oracle."""
    from pyspark.sql import functions as F2

    nation, customer, orders = _t(spark, sf_dir, "nation", "customer", "orders")
    feats = (orders.join(customer, orders.o_custkey == customer.c_custkey)
             .join(nation, customer.c_nationkey == nation.n_nationkey)
             .groupBy("n_nationkey")
             .agg((F2.count(F2.lit(1)) / 100.0).alias("x"),
                  (F2.avg("o_totalprice") / 10000.0).alias("y")))
    out = C.dbscan(feats, "n_nationkey", ["x", "y"], eps=0.3, min_pts=3)
    return (out.groupBy("cluster").agg(F2.count(F2.lit(1)).alias("n"))
               .orderBy("cluster"))


@query("q_ml_pca", """
WITH m AS (SELECT avg(l_quantity) AS mx, avg(l_extendedprice) AS my,
                  avg(l_quantity * l_quantity) AS exx,
                  avg(l_quantity * l_extendedprice) AS exy,
                  avg(l_extendedprice * l_extendedprice) AS eyy
           FROM lineitem),
c AS (SELECT (exy - mx*my) / sqrt((exx - mx*mx) * (eyy - my*my)) AS rho
      FROM m)
SELECT 1 AS component, round((1 + abs(rho)) / 2, 6) AS explained_variance_ratio
FROM c
UNION ALL
SELECT 2, round((1 - abs(rho)) / 2, 6) FROM c
""")
def q_ml_pca(spark, sf_dir):
    """PCA explained-variance ratios over standardized (l_quantity,
    l_extendedprice): distributed moment pass + driver 2×2 eigensolve
    (``ml/cluster.py:pca_cov_eigen``).  On standardized features the
    covariance is the correlation matrix, whose eigenvalues are 1±|ρ| —
    a closed form the oracle reproduces exactly.  The 64-dim MLlib PCA
    path stays pytest-covered (``ml/cluster.py:pca``)."""
    from orange3_spark.stats.distance import _standardize

    (li,) = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice"]
    z = _standardize(li.select(*cols), cols)
    _, _, ratios = C.pca_cov_eigen(z, cols, n_components=2)
    return local_frame(
        spark, [(i + 1, float(round(r, 6))) for i, r in enumerate(ratios)],
        "component int, explained_variance_ratio double")


@query("q_ml_cv_ols", """
WITH f AS (SELECT CAST(o_custkey AS DOUBLE) AS x, o_totalprice AS y,
                  CAST(CAST(concat('0x', substring(md5(CAST(o_orderkey AS VARCHAR)),1,8)) AS BIGINT) % 3 AS INT) AS fold
           FROM orders),
fit AS (SELECT t.fold, regr_intercept(f.y, f.x) AS a, regr_slope(f.y, f.x) AS b
        FROM (VALUES (0),(1),(2)) t(fold) JOIN f ON f.fold <> t.fold
        GROUP BY t.fold)
SELECT fit.fold, fit.a AS intercept, fit.b AS slope,
       sqrt(avg(power(f.y - (fit.a + fit.b * f.x), 2))) AS rmse
FROM f JOIN fit ON f.fold = fit.fold
GROUP BY fit.fold, fit.a, fit.b
""")
def q_ml_cv_ols(spark, sf_dir):
    """The cross-validation MECHANISM verified end-to-end: deterministic
    content-hash folds (``ml/evaluation.py:with_fold``), per-fold OLS fit on
    the complement, RMSE on the held-out fold — all closed-form, so every
    moving part of CV is oracle-checked.  ``cv_ols`` does the whole k-fold
    in ONE groupBy(fold) moment scan (complement normal equations by
    subtraction, held-out RSS from the same moments) vs the naive 2k
    passes.  Iterative learners ride the generic ``cross_validate`` and are
    quality-asserted in pytest (logistic regression: ``tests/test_ml.py``)."""
    (orders,) = _t(spark, sf_dir, "orders")
    rows = E.cv_ols(orders, "o_orderkey", 3, ["o_custkey"], "o_totalprice")
    return local_frame(
        spark, [(r["fold"], r["intercept"], r["coefficients"][0], r["rmse"])
                for r in rows],
        "fold int, intercept double, slope double, rmse double")


@query("q_ml_metrics", f"""
WITH train AS (SELECT * FROM orders WHERE NOT ({_SPLIT})),
     test  AS (SELECT * FROM orders WHERE {_SPLIT}),
     prior AS (SELECT avg(CASE WHEN o_orderpriority = '1-URGENT'
                               THEN 1.0 ELSE 0.0 END) AS p,
                      avg(o_totalprice) AS thr FROM train),
     fit AS (SELECT regr_slope(o_totalprice, o_custkey) AS b,
                    regr_intercept(o_totalprice, o_custkey) AS a FROM train),
     m AS (SELECT CASE WHEN t.o_orderpriority = '1-URGENT'
                       THEN 1.0 ELSE 0.0 END AS y,
                  prior.p AS p,
                  CASE WHEN t.o_totalprice > prior.thr THEN 1 ELSE 0 END AS pred,
                  t.o_totalprice AS a,
                  fit.a + fit.b * t.o_custkey AS yhat
           FROM test t, prior, fit)
SELECT -avg(y * ln(p) + (1 - y) * ln(1 - p)) AS logloss,
       CAST(sum(CASE WHEN y = 0 AND pred = 0 THEN 1 ELSE 0 END) AS DOUBLE)
         / sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS specificity,
       2 * avg(abs(a - yhat) / (abs(a) + abs(yhat))) * 100 AS smape,
       sqrt(avg(power(a - yhat, 2))) / avg(a) * 100 AS cvrmse
FROM m
""")
def q_ml_metrics(spark, sf_dir):
    """Evaluation-metric parity (Orange/evaluation/scoring.py:288 LogLoss,
    :340 Specificity, :438 SMAPE, :461 CVRMSE) on a deterministic hash
    split: a prior-probability classifier (P(urgent) from train) scores
    log loss, a threshold classifier scores specificity, and train-fit OLS
    scores SMAPE/CVRMSE on held-out orders.

    Cost shape: THREE actions total — the prior agg and the OLS moment agg
    over train, then ONE combined aggregation over test producing all four
    metrics (exactly the oracle's final SELECT).  The per-metric
    ``evaluation`` functions each run their own action (4 extra full test
    scans here, r3's single biggest bench regression at 11.2 s); batch
    scoring goes through one agg — the same one-scan-many-scores shape as
    ``evaluation.regression_scores``/``classification_scores``."""
    (orders,) = _t(spark, sf_dir, "orders")
    train, test = E.train_test_split(orders, "o_orderkey", 0.25)
    y = (F.col("o_orderpriority") == "1-URGENT").cast("double")
    prior = train.agg(F.avg(y).alias("p"),
                      F.avg("o_totalprice").alias("thr")).first()
    ols = L.ols_learner(train, ["o_custkey"], "o_totalprice")
    pred = (ols.predict(test)
            .select(y.alias("y"),
                    (F.col("o_totalprice") > prior.thr).cast("int")
                    .alias("cls"),
                    F.col("o_totalprice").alias("a"),
                    F.col("prediction").alias("yhat")))
    p = F.lit(float(prior.p))
    sdenom = F.abs(F.col("a")) + F.abs(F.col("yhat"))
    return pred.agg(
        (-F.avg(F.col("y") * F.log(p)
                + (1.0 - F.col("y")) * F.log(1.0 - p))).alias("logloss"),
        (F.sum(((F.col("y") == 0) & (F.col("cls") == 0)).cast("long"))
         .cast("double")
         / F.sum((F.col("y") == 0).cast("long"))).alias("specificity"),
        (2.0 * F.avg(F.abs(F.col("a") - F.col("yhat")) / sdenom) * 100.0)
        .alias("smape"),
        (F.sqrt(F.avg(F.pow(F.col("a") - F.col("yhat"), 2)))
         / F.avg("a") * 100.0).alias("cvrmse"))


@query("q_ml_auc", """
WITH s AS (SELECT CASE WHEN o_orderpriority = '1-URGENT'
                       THEN 1.0 ELSE 0.0 END AS y,
                  o_totalprice AS score FROM orders),
c AS (SELECT score, CAST(count(*) AS DOUBLE) AS cnt, sum(y) AS pos
      FROM s GROUP BY score),
r AS (SELECT pos, cnt,
             coalesce(sum(cnt) OVER (ORDER BY score
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (cnt + 1.0) / 2.0 AS rk
      FROM c),
t AS (SELECT sum(pos * rk) AS rs, sum(pos) AS np,
             sum(cnt) AS n FROM r)
SELECT (rs - np * (np + 1) / 2) / (np * (n - np)) AS auc FROM t
""")
def q_ml_auc(spark, sf_dir):
    """Binary AUC via the Mann-Whitney rank-sum identity with average tie
    ranks (Orange/evaluation/scoring.py:226 wraps sklearn roc_auc_score;
    ``ml/evaluation.py:auc``): a full-table groupBy(score) first shrinks
    to one row per distinct score, the tie-rank cumsum windows over THAT
    bounded frame — never the raw rows.  Exactness: counts are integers,
    so every rank is a multiple of 0.5 and every partial sum is exact in
    float64 — order-independent without quantization."""
    (orders,) = _t(spark, sf_dir, "orders")
    scored = orders.select(
        (F.col("o_orderpriority") == "1-URGENT").cast("double").alias("y"),
        F.col("o_totalprice").alias("score"))
    a = E.auc(scored, label="y", score_col="score")
    return local_frame(spark, [(a,)], "auc double")


@query("q_ml_scores_table", f"""
WITH train AS (SELECT * FROM orders WHERE NOT ({_SPLIT})),
     test  AS (SELECT * FROM orders WHERE {_SPLIT}),
     prior AS (SELECT avg(o_totalprice) AS thr FROM train),
     m AS (SELECT CASE WHEN t.o_orderpriority = '1-URGENT'
                       THEN 1 ELSE 0 END AS y,
                  CASE WHEN t.o_totalprice > prior.thr THEN 1 ELSE 0 END AS p
           FROM test t, prior),
     cnt AS (SELECT
        CAST(sum(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS tp,
        CAST(sum(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS fp,
        CAST(sum(CASE WHEN y = 1 AND p = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS fn,
        CAST(sum(CASE WHEN y = 0 AND p = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS tn
      FROM m)
SELECT (tp + tn) / (tp + tn + fp + fn) AS ca,
       tp / (tp + fp) AS precision,
       tp / (tp + fn) AS recall,
       2 * (tp / (tp + fp)) * (tp / (tp + fn))
         / (tp / (tp + fp) + tp / (tp + fn)) AS f1,
       (tp * tn - fp * fn)
         / sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)) AS mcc,
       tn / (tn + fp) AS specificity
FROM cnt
""")
def q_ml_scores_table(spark, sf_dir):
    """The full binary scoring table from ONE aggregation scan
    (``evaluation.classification_scores`` — the owtestandscore.py results
    table computes every metric from the same confusion counts; the
    per-metric functions would re-scan the split once per metric).
    Threshold classifier on a deterministic hash split; all six metrics
    derive from four exact integer counts, so the whole row is
    order-independent."""
    (orders,) = _t(spark, sf_dir, "orders")
    train, test = E.train_test_split(orders, "o_orderkey", 0.25)
    thr = train.agg(F.avg("o_totalprice").alias("t")).first().t
    scored = test.select(
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("y"),
        (F.col("o_totalprice") > thr).cast("int").alias("prediction"))
    s = E.classification_scores(scored, positive=1, label="y")
    return local_frame(
        spark, [(s["ca"], s["precision"], s["recall"], s["f1"], s["mcc"],
                 s["specificity"])],
        "ca double, precision double, recall double, f1 double, "
        "mcc double, specificity double")


@query("q_ml_shuffle_split", f"""
WITH resample AS (SELECT i FROM (VALUES (0), (1), (2)) AS t(i)),
     marked AS (
       SELECT r.i, o.o_custkey, o.o_totalprice,
              substring(md5(CAST(o.o_orderkey AS VARCHAR) || ':' ||
                            CAST(r.i AS VARCHAR)), 1, 8) < '3fffffff' AS is_test
       FROM orders o CROSS JOIN resample r),
     fit AS (SELECT i, regr_slope(o_totalprice, o_custkey) AS b,
                    regr_intercept(o_totalprice, o_custkey) AS a
             FROM marked WHERE NOT is_test GROUP BY i)
SELECT m.i AS resample,
       sqrt(avg(power(m.o_totalprice - (f.a + f.b * m.o_custkey), 2))) AS rmse
FROM marked m JOIN fit f ON m.i = f.i
WHERE m.is_test GROUP BY m.i ORDER BY m.i
""")
def q_ml_shuffle_split(spark, sf_dir):
    """ShuffleSplit (Orange/evaluation/testing.py:654-710) verified
    end-to-end: 3 deterministic content-hash resamples (salt = repetition
    index), OLS refit per resample, held-out RMSE — repeated random
    sub-sampling as a pure function of (data, salt).  ONE scan for all
    resamples via the moment aggregation (``evaluation.shuffle_split_ols``
    — the generic fit-per-resample loop is 6 scans and was a 3× bench
    regression in r3); the generic ``shuffle_split`` stays pytest-covered
    for arbitrary models."""
    (orders,) = _t(spark, sf_dir, "orders")
    scores = E.shuffle_split_ols(orders, "o_orderkey", ["o_custkey"],
                                 "o_totalprice", n_resamples=3,
                                 test_size=0.25)
    return local_frame(
        spark, [(i, s) for i, s in enumerate(scores)],
        "resample int, rmse double").orderBy("resample")


_NATION_ML_SQL = """
SELECT n.n_nationkey,
       CAST(count(*) AS DOUBLE) AS n_orders,
       avg(o.o_totalprice) AS avg_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_nationkey"""

_NATION_Z_SQL = f"""
f AS ({_NATION_ML_SQL}),
s AS (SELECT avg(n_orders) AS mx, stddev_pop(n_orders) AS sx,
             avg(avg_price) AS my, stddev_pop(avg_price) AS sy FROM f),
z AS (SELECT n_nationkey AS id, (n_orders - mx) / sx AS x,
             (avg_price - my) / sy AS y
      FROM f, s)"""


@query("q_ml_hierarchical", f"""
WITH RECURSIVE
{_NATION_Z_SQL},
p AS (SELECT a.id AS ia, b.id AS ib FROM z a JOIN z b
      ON a.id < b.id
      AND sqrt(0.0 + (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) <= 0.8),
e AS (SELECT ia AS src, ib AS dst FROM p UNION ALL SELECT ib, ia FROM p),
reach AS (SELECT id, id AS r FROM z
          UNION
          SELECT e.src AS id, reach.r FROM e JOIN reach ON e.dst = reach.id),
lab AS (SELECT id, min(r) AS mn FROM reach GROUP BY id),
ren AS (SELECT mn, CAST(row_number() OVER (ORDER BY mn) - 1 AS INT) AS cluster
        FROM (SELECT DISTINCT mn FROM lab))
SELECT lab.id AS n_nationkey, ren.cluster
FROM lab JOIN ren USING (mn) ORDER BY 1
""")
def q_ml_hierarchical(spark, sf_dir):
    """Agglomerative clustering of nations (standardized features, SINGLE
    linkage, height cut at 0.8): distributed pair distances, driver
    Lance-Williams on the O(n²) scalar matrix only
    (Orange/clustering/hierarchical.py re-based on a distributed distance
    pass).  A single-linkage height cut equals connected components of the
    ≤-height graph, which the recursive-CTE oracle computes; average/ward
    linkage and k-cuts ride the same code and are pytest-verified against
    scipy (``tests/test_hierarchical.py``)."""
    from orange3_spark.ml.hierarchical import hierarchical_clustering
    from orange3_spark.plans.queries_analytics import _nation_features
    feats = _nation_features(spark, sf_dir)
    return (hierarchical_clustering(feats, "n_nationkey",
                                    ["n_orders", "avg_price"],
                                    threshold=0.8, method="single",
                                    normalize=True)
            .orderBy("n_nationkey"))


@query("q_ml_mds", f"""
WITH {_NATION_Z_SQL},
c AS (SELECT avg(x) AS ax, avg(y) AS ay FROM z)
SELECT z.id AS n_nationkey,
       round((x - ax)*(x - ax) + (y - ay)*(y - ay), 6) AS sqnorm
FROM z, c ORDER BY 1
""")
def q_ml_mds(spark, sf_dir):
    """Classical (Torgerson) MDS of nations on standardized features —
    distance frame distributed, double-centering + eigensolve on the
    driver.  The checked projection is the rotation-invariant squared norm
    of each embedded point, which classical MDS preserves exactly: it
    equals the squared distance to the feature centroid (the oracle's
    closed form).  Raw coordinates (sign-fixed) stay pytest-verified."""
    from orange3_spark.ml.projection import mds
    from orange3_spark.plans.queries_analytics import _nation_features
    from orange3_spark.stats.distance import _standardize
    feats = _nation_features(spark, sf_dir)
    z = _standardize(feats, ["n_orders", "avg_price"])
    out = mds(z, "n_nationkey", ["n_orders", "avg_price"])
    return (out.select("n_nationkey",
                       F.round(F.col("mds1") * F.col("mds1")
                               + F.col("mds2") * F.col("mds2"), 6)
                       .alias("sqnorm"))
               .orderBy("n_nationkey"))


@query("q_ml_lda", """
WITH d AS (SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS cls,
                  CAST(o_custkey AS DOUBLE) AS x, o_totalprice AS y
           FROM orders),
m AS (SELECT cls, CAST(count(*) AS DOUBLE) AS n, avg(x) AS mx, avg(y) AS my,
             avg(x*x) AS exx, avg(x*y) AS exy, avg(y*y) AS eyy
      FROM d GROUP BY cls),
sw AS (SELECT sum(n * (exx - mx*mx)) AS a, sum(n * (exy - mx*my)) AS b,
             sum(n * (eyy - my*my)) AS c FROM m),
dm AS (SELECT max(CASE WHEN cls = 1 THEN mx END) - max(CASE WHEN cls = 0 THEN mx END) AS dx,
              max(CASE WHEN cls = 1 THEN my END) - max(CASE WHEN cls = 0 THEN my END) AS dy
       FROM m),
j AS (SELECT (c*dx*dx - 2*b*dx*dy + a*dy*dy) / (a*c - b*b) AS jf FROM sw, dm)
SELECT round(jf, CAST(5 - floor(log10(abs(jf))) AS INT)) AS j_fisher,
       (SELECT count(*) FROM d WHERE cls = 0) AS n0,
       (SELECT count(*) FROM d WHERE cls = 1) AS n1
FROM j
""")
def q_ml_lda(spark, sf_dir):
    """Fisher LDA (binary: URGENT vs rest) — scatter matrices from ONE
    grouped moment pass, driver eigensolve, projection as row-local dot
    products (Orange/projection/lda.py rebuilt to scale).  The checked
    statistic is the Fisher criterion J = Δμᵀ S_w⁻¹ Δμ of the top
    direction: invariant to eigenvector scale/sign and stationary at the
    optimum, with a closed-form 2×2-inverse oracle.  Multi-class
    directions/projections stay pytest-verified (``tests/test_ml.py``)."""
    import math

    from orange3_spark.ml.projection import fisher_criterion
    (orders,) = _t(spark, sf_dir, "orders")
    d = orders.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
         .alias("cls"),
        F.col("o_custkey").cast("double").alias("x"),
        F.col("o_totalprice").alias("y"))
    j = fisher_criterion(d, ["x", "y"], "cls")
    jr = round(j, int(5 - math.floor(math.log10(abs(j))))) if j else 0.0
    counts = dict(d.groupBy("cls").count().collect())
    return local_frame(
        spark, [(jr, counts.get(0, 0), counts.get(1, 0))],
        "j_fisher double, n0 long, n1 long")


@query("q_ml_cur", """
WITH m AS (SELECT avg(l_discount * l_discount) AS saa,
                  avg(l_discount * l_tax) AS sab,
                  avg(l_tax * l_tax) AS sbb
           FROM lineitem),
v AS (SELECT cos(0.5 * atan2(2*sab, saa - sbb)) AS v1,
             sin(0.5 * atan2(2*sab, saa - sbb)) AS v2 FROM m)
SELECT 'l_discount' AS "column", round(v1*v1, 6) AS leverage FROM v
UNION ALL
SELECT 'l_tax', round(v2*v2, 6) FROM v
""")
def q_ml_cur(spark, sf_dir):
    """CUR column-leverage ranking (Orange/projection/cur.py): leverage of
    each column under the top right-singular vector of the RAW (uncentered)
    matrix — one second-moment pass, driver eigensolve, data never
    transposed.  For two columns the principal eigenvector has the closed
    form (cos θ, sin θ), θ = ½·atan2(2·E[ab], E[a²]−E[b²]), which the
    oracle evaluates; higher ranks/column counts stay pytest-verified."""
    from orange3_spark.ml.projection import cur_column_leverage
    (li,) = _t(spark, sf_dir, "lineitem")
    ranked = cur_column_leverage(li, ["l_discount", "l_tax"], rank=1)
    return local_frame(
        spark, [(c, float(round(v, 6))) for c, v in ranked],
        "column string, leverage double")


@query("q_ml_communities", f"""
WITH RECURSIVE
f AS ({_NATION_ML_SQL}),
d AS (SELECT a.n_nationkey AS src, b.n_nationkey AS dst,
             sqrt(0.0 + (a.n_orders-b.n_orders)*(a.n_orders-b.n_orders)
                  + (a.avg_price-b.avg_price)*(a.avg_price-b.avg_price)) AS dist
      FROM f a JOIN f b ON a.n_nationkey <> b.n_nationkey),
k AS (SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
        FROM d) WHERE rn <= 3),
e AS (SELECT src, dst FROM k UNION SELECT dst, src FROM k),
reach AS (SELECT src AS id, src AS r FROM e
          UNION
          SELECT e.src AS id, reach.r FROM e JOIN reach ON e.dst = reach.id)
SELECT id AS n_nationkey, min(r) AS community
FROM reach GROUP BY id ORDER BY 1
""")
def q_ml_communities(spark, sf_dir):
    """Connected components of the symmetrized kNN feature graph — the graph
    construction the reference's Louvain consumes
    (Orange/clustering/louvain.py:table_to_knn_graph) plus the engine's
    distributed min-label component fixpoint, both oracle-checked via a
    recursive CTE.  Modularity/label-propagation community refinement over
    the same graph is pytest-verified (``tests/test_ml.py``)."""
    from orange3_spark.ml.community import knn_graph
    from orange3_spark.plans.queries_analytics import _nation_features
    from orange3_spark.text.dedup import dup_clusters
    feats = _nation_features(spark, sf_dir)
    edges = knn_graph(feats, "n_nationkey", ["n_orders", "avg_price"], k=3)
    comp = dup_clusters(edges.select(F.col("src").alias("id_a"),
                                     F.col("dst").alias("id_b")))
    return (comp.select(F.col("doc_id").alias("n_nationkey"),
                        F.col("cluster_id").alias("community"))
                .orderBy("n_nationkey"))


@query("q_ml_radviz", f"""
WITH f AS ({_NATION_ML_SQL}),
s AS (SELECT min(n_orders) AS lo1, max(n_orders) AS hi1,
             min(avg_price) AS lo2, max(avg_price) AS hi2 FROM f),
nv AS (SELECT n_nationkey,
              (n_orders - lo1) / (CASE WHEN hi1 = lo1 THEN 1.0
                                       ELSE hi1 - lo1 END) AS v1,
              (avg_price - lo2) / (CASE WHEN hi2 = lo2 THEN 1.0
                                        ELSE hi2 - lo2 END) AS v2
       FROM f, s)
SELECT n_nationkey,
       CASE WHEN v1 + v2 = 0 THEN 0.0
            ELSE (cos(0) * v1 + cos(pi()) * v2) / (v1 + v2) END AS radviz_x,
       CASE WHEN v1 + v2 = 0 THEN 0.0
            ELSE (sin(0) * v1 + sin(pi()) * v2) / (v1 + v2) END AS radviz_y
FROM nv ORDER BY n_nationkey
""")
def q_ml_radviz(spark, sf_dir):
    """RadViz projection (Orange/projection/radviz.py:13-52): evenly-spaced
    unit-circle anchors, span-normalized features, convex-combination
    projection — one min/max aggregate plus a row-local expression, so the
    whole operator is oracle-checkable and scales to any row count."""
    from orange3_spark.ml.projection import radviz
    from orange3_spark.plans.queries_analytics import _nation_features4
    feats = _nation_features4(spark, sf_dir)
    out = radviz(feats, ["n_orders", "avg_price"])
    return (out.select("n_nationkey", "radviz_x", "radviz_y")
               .orderBy("n_nationkey"))


@query("q_ml_pls", """
WITH d AS (SELECT CAST(l_quantity AS DOUBLE) AS x1,
                  CAST(l_discount AS DOUBLE) AS x2,
                  CAST(l_extendedprice AS DOUBLE) AS y
           FROM lineitem),
m AS (SELECT corr(x1, y) AS r1, corr(x2, y) AS r2, corr(x1, x2) AS r12,
             avg(x1) AS mu1, avg(x2) AS mu2, avg(y) AS muy,
             stddev_pop(x1) AS sd1, stddev_pop(x2) AS sd2,
             stddev_pop(y) AS sdy
      FROM d),
w AS (SELECT *, r1 / sqrt(r1*r1 + r2*r2) AS w1,
                r2 / sqrt(r1*r1 + r2*r2) AS w2 FROM m),
c AS (SELECT *,
        (r1*w1 + r2*w2) / (w1*w1 + w2*w2 + 2*w1*w2*r12) AS q FROM w),
b AS (SELECT *, w1*q*sdy/sd1 AS b1, w2*q*sdy/sd2 AS b2 FROM c)
SELECT b.b1 AS coef_quantity, b.b2 AS coef_discount,
       b.muy - b.b1*b.mu1 - b.b2*b.mu2 AS intercept,
       sqrt(avg(power(d.y - (b.muy - b.b1*b.mu1 - b.b2*b.mu2
                             + b.b1*d.x1 + b.b2*d.x2), 2))) AS rmse
FROM d, b GROUP BY b.b1, b.b2, b.muy, b.mu1, b.mu2
""")
def q_ml_pls(spark, sf_dir):
    """PLS1 regression (Orange/regression/pls.py wraps sklearn NIPALS):
    kernel-moment fit — two scans build Z'Z and Z'zy, components extracted
    on k-by-k driver matrices (``ml/pls.py``).  With one component the
    coefficients have a closed form in column correlations, so the entire
    learner (fit + predict + RMSE) is oracle-checked; multi-component
    deflation parity is pytest-verified against a literal NIPALS."""
    from orange3_spark.ml.pls import pls_regression
    (li,) = _t(spark, sf_dir, "lineitem")
    m = pls_regression(li, ["l_quantity", "l_discount"], "l_extendedprice",
                       n_components=1)
    r = E.rmse(m.predict(li), label="l_extendedprice")
    return local_frame(
        spark, [(m.coefficients[0], m.coefficients[1], m.intercept, r)],
        "coef_quantity double, coef_discount double, "
        "intercept double, rmse double")


@query("q_ml_curvefit", """
WITH mu AS (SELECT avg(CAST(l_quantity AS DOUBLE)) AS m FROM lineitem),
d AS (SELECT CAST(l_quantity AS DOUBLE) - mu.m AS x,
             CAST(l_extendedprice AS DOUBLE) AS y
      FROM lineitem, mu),
s AS (SELECT count(*)::DOUBLE AS s0, sum(x) AS s1, sum(x*x) AS s2,
             sum(x*x*x) AS s3, sum(x*x*x*x) AS s4,
             sum(y) AS t0, sum(x*y) AS t1, sum(x*x*y) AS t2
      FROM d),
c AS (SELECT *,
        s0*(s2*s4 - s3*s3) - s1*(s1*s4 - s3*s2) + s2*(s1*s3 - s2*s2) AS det
      FROM s),
fit AS (SELECT
  (t0*(s2*s4 - s3*s3) - s1*(t1*s4 - s3*t2) + s2*(t1*s3 - s2*t2)) / det AS a,
  (s0*(t1*s4 - t2*s3) - t0*(s1*s4 - s3*s2) + s2*(s1*t2 - s2*t1)) / det AS b,
  (s0*(s2*t2 - s3*t1) - s1*(s1*t2 - s2*t1) + t0*(s1*s3 - s2*s2)) / det AS c
  FROM c)
SELECT round(fit.a, 4) + 0.0 AS p_const, round(fit.b, 4) + 0.0 AS p_lin,
       round(fit.c, 4) + 0.0 AS p_quad,
       round(sqrt(avg(power(d.y - (fit.a + fit.b*d.x + fit.c*d.x*d.x), 2))),
             4) AS rmse
FROM d, fit GROUP BY fit.a, fit.b, fit.c
""")
def q_ml_curvefit(spark, sf_dir):
    """Curve fitting (Orange/regression/curvefit.py): LM where each
    iteration is one scan aggregating J'J / J'r (``ml/curvefit.py``).
    A quadratic model is linear in its parameters, so the central-difference
    Jacobian is exact and Gauss-Newton lands on the normal-equation optimum
    in one step — giving a closed-form Cramer's-rule SQL oracle.  The
    genuinely nonlinear path (exp decay) is pytest-verified."""
    from orange3_spark.ml.curvefit import curve_fit_learner
    (li,) = _t(spark, sf_dir, "lineitem")
    mu = li.agg(F.avg(F.col("l_quantity").cast("double"))).first()[0]
    d = li.select(
        (F.col("l_quantity").cast("double") - F.lit(float(mu))).alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"))
    m = curve_fit_learner(d, "a + b*x + c*x*x", "y", [0.0, 0.0, 0.0],
                          param_names=["a", "b", "c"])
    r = E.rmse(m.predict(d), label="y")
    a, b, c = m.parameters
    # LAPACK vs the oracle's Cramer's rule diverge at ~1e-9 relative through
    # this solve; 4-decimal HALF_UP rounding on both sides is the tolerance.
    out = local_frame(
        spark, [(a, b, c, r)],
        "p_const double, p_lin double, p_quad double, rmse double")
    # + 0.0 collapses −0.0 for coefficients rounding to zero (a sub-5e-5
    # quadratic term with engine-dependent sign — r8 signed-zero lesson)
    return out.select(*[(F.round(F.col(c), 4) + F.lit(0.0)).alias(c)
                        for c in out.columns])


@query("q_ml_threshold", """
WITH lab AS (SELECT CAST(o_totalprice AS DOUBLE) AS s,
                    CASE WHEN o_orderpriority = '1-URGENT'
                         THEN 1.0 ELSE 0.0 END AS y FROM orders),
tot AS (SELECT sum(y) AS p_all, count(*)::DOUBLE AS n_all FROM lab),
per AS (SELECT s AS threshold, sum(y) AS pos, count(*)::DOUBLE AS n
        FROM lab GROUP BY 1),
cum AS (SELECT threshold,
               sum(pos) OVER (ORDER BY threshold DESC
                              ROWS UNBOUNDED PRECEDING) AS tp,
               sum(n) OVER (ORDER BY threshold DESC
                            ROWS UNBOUNDED PRECEDING)
               - sum(pos) OVER (ORDER BY threshold DESC
                                ROWS UNBOUNDED PRECEDING) AS fp
        FROM per)
SELECT threshold, CAST(tp AS DOUBLE) AS tp, CAST(fp AS DOUBLE) AS fp,
       (tp + n_all - p_all - fp) / n_all AS ca,
       2.0 * tp / (tp + fp + p_all) AS f1
FROM cum, tot
ORDER BY f1 DESC, threshold ASC LIMIT 1
""")
def q_ml_threshold(spark, sf_dir):
    """ThresholdLearner (Orange/classification/calibration.py:48-86): the
    decision threshold maximizing F1 over all achievable confusion
    matrices.  Candidate thresholds are distinct scores; cumulative TP/FP
    arrive via a window over (score, count) pairs — bounded-cardinality
    keys, never raw rows — so the full search is oracle-checkable."""
    from orange3_spark.ml.calibration import threshold_search
    (orders,) = _t(spark, sf_dir, "orders")
    lab = orders.select(
        F.col("o_totalprice").cast("double").alias("s"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1.0)
         .otherwise(0.0).alias("y"))
    best = threshold_search(lab, "s", "y", "f1").limit(1)
    return best.select("threshold",
                       F.col("tp").cast("double").alias("tp"),
                       F.col("fp").cast("double").alias("fp"), "ca", "f1")


@query("q_ml_calibration_curve", """
WITH lab AS (SELECT CAST(o_totalprice AS DOUBLE) AS s,
                    CASE WHEN o_orderpriority = '1-URGENT'
                         THEN 1.0 ELSE 0.0 END AS y FROM orders),
r AS (SELECT min(s) AS lo, max(s) AS hi FROM lab),
w AS (SELECT lo, hi,
             CASE WHEN hi = lo THEN 1.0 ELSE (hi - lo) / 10 END AS width
      FROM r)
SELECT CAST(least(floor((s - lo) / width), 9) AS INT) AS bin,
       count(*) AS n, avg(s) AS mean_score, avg(y) AS pos_rate
FROM lab, w GROUP BY 1 ORDER BY 1
""")
def q_ml_calibration_curve(spark, sf_dir):
    """Reliability curve (the diagnostic CalibratedLearner optimizes):
    equal-width score bins -> (count, mean score, empirical positive rate).
    One min/max aggregate + one groupBy; the Platt/isotonic calibrators
    that consume this curve are pytest-verified (MLlib PAV vs literal PAV)."""
    from orange3_spark.ml.calibration import reliability_curve
    (orders,) = _t(spark, sf_dir, "orders")
    lab = orders.select(
        F.col("o_totalprice").cast("double").alias("s"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1.0)
         .otherwise(0.0).alias("y"))
    return reliability_curve(lab, "s", "y", bins=10)


def _cn2_step_sql(i: int, src: str) -> str:
    """One depth-1 CN2 sequential-covering step over CTE ``src``: score all
    (attr, value) selectors by Laplace, keep the best, drop covered rows."""
    return f"""
c{i} AS (
  SELECT 'l_linestatus' AS attr, l_linestatus AS val, cls,
         count(*)::DOUBLE AS c FROM {src} GROUP BY 2, 3
  UNION ALL
  SELECT 'ship_year', ship_year, cls, count(*)::DOUBLE FROM {src}
  GROUP BY 2, 3),
s{i} AS (SELECT attr, val, sum(c) AS tot, max(c) AS top
         FROM c{i} GROUP BY 1, 2),
b{i} AS (SELECT s.attr, s.val, s.tot, s.top,
                (s.top + 1) / (s.tot + k.nc) AS q, min(c{i}.cls) AS pred
         FROM s{i} s JOIN c{i} ON c{i}.attr = s.attr AND c{i}.val = s.val
                              AND c{i}.c = s.top, k
         GROUP BY s.attr, s.val, s.tot, s.top, k.nc
         ORDER BY q DESC, s.tot DESC, s.attr, s.val LIMIT 1),
r{i} AS (SELECT {src}.* FROM {src}, b{i}
         WHERE NOT ((b{i}.attr = 'l_linestatus'
                     AND {src}.l_linestatus = b{i}.val)
                 OR (b{i}.attr = 'ship_year'
                     AND {src}.ship_year = b{i}.val)))"""


_CN2_SQL = f"""
WITH k AS (SELECT count(DISTINCT l_returnflag)::DOUBLE AS nc FROM lineitem),
r0 AS (SELECT l_linestatus, CAST(year(l_shipdate) AS VARCHAR) AS ship_year,
              l_returnflag AS cls FROM lineitem),
{_cn2_step_sql(1, "r0")},
{_cn2_step_sql(2, "r1")},
dc AS (SELECT cls, count(*)::DOUBLE AS c FROM r2 GROUP BY 1),
ds AS (SELECT sum(c) AS tot, max(c) AS top FROM dc),
dp AS (SELECT ds.tot, ds.top, (ds.top + 1) / (ds.tot + k.nc) AS q,
              min(dc.cls) AS pred
       FROM ds JOIN dc ON dc.c = ds.top, k GROUP BY ds.tot, ds.top, k.nc)
SELECT 0 AS rule_idx, b1.attr || '=' || b1.val AS conditions,
       b1.pred AS prediction, b1.q AS laplace,
       CAST(b1.tot AS BIGINT) AS covered, CAST(b1.top AS BIGINT) AS correct
FROM b1
UNION ALL
SELECT 1, b2.attr || '=' || b2.val, b2.pred, b2.q,
       CAST(b2.tot AS BIGINT), CAST(b2.top AS BIGINT) FROM b2
UNION ALL
SELECT 2, 'TRUE', dp.pred, dp.q,
       CAST(dp.tot AS BIGINT), CAST(dp.top AS BIGINT) FROM dp
"""


@query("q_ml_cn2", _CN2_SQL)
def q_ml_cn2(spark, sf_dir):
    """CN2 sequential covering (Orange/classification/rules.py, Laplace
    evaluator :187-199): each step scores every candidate selector with ONE
    stack-unpivot aggregation, picks the best, removes covered rows.  With
    depth-1 rules the whole induction is two chained argmax CTEs + a
    default rule, so the oracle replays it exactly; multi-selector beam
    search (XOR-only-separable classes) is pytest-verified."""
    from orange3_spark.ml.rules import cn2_induce, rules_to_dataframe
    (li,) = _t(spark, sf_dir, "lineitem")
    d = li.select(
        "l_linestatus",
        F.year("l_shipdate").cast("string").alias("ship_year"),
        F.col("l_returnflag").alias("cls"))
    rules = cn2_induce(d, ["l_linestatus", "ship_year"], "cls",
                       max_rules=2, beam_width=1, max_selectors=1)
    return rules_to_dataframe(spark, rules)


@query("q_ml_logreg_cv", """
WITH f AS (SELECT o_orderkey,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS y,
                  CAST(CAST(concat('0x', substring(md5(CAST(o_orderkey AS VARCHAR)),1,8)) AS BIGINT) % 3 AS INT) AS fold
           FROM orders),
pri AS (SELECT t.fold, round(greatest(avg(f.y), 1 - avg(f.y)), 4) AS majority_share
        FROM (VALUES (0),(1),(2)) t(fold) JOIN f ON f.fold <> t.fold
        GROUP BY t.fold),
te AS (SELECT fold, count(*) AS n_test FROM f GROUP BY fold)
SELECT te.fold, te.n_test, pri.majority_share, TRUE AS ca_ok
FROM te JOIN pri USING (fold)
""")
def q_ml_logreg_cv(spark, sf_dir):
    """Cross-validated logistic regression (testing.py:568 CrossValidation
    + Orange/classification/logistic_regression.py) on deterministic
    content-hash folds, via the one-scan-per-iteration Newton-IRLS CV
    (``ml/evaluation.py:cv_logreg`` — all k complement models share each
    scan, the cv_ols trick lifted to an iterative GLM; the previous
    per-fold MLlib loop cost 3×25 L-BFGS jobs).  Coefficients aren't
    closed-form, so the oracle pins what IS exact — per-fold held-out
    counts and the complement-train majority share — while ``ca_ok``
    asserts the behavioral bound that held-out accuracy stays within
    max(0.02, 3σ) of the majority baseline, σ the binomial noise
    sqrt(maj·(1−maj)/n_test); fit-vs-MLlib parity is pytest-asserted."""
    import math

    (orders,) = _t(spark, sf_dir, "orders")
    data = orders.select(
        "o_orderkey",
        # unit-scale features keep the Hessian well-conditioned; affine
        # rescaling changes nothing the oracle checks
        (F.col("o_totalprice") / 100000.0).cast("double").alias("x1"),
        (F.col("o_custkey") / 1000.0).cast("double").alias("x2"),
        (F.col("o_orderpriority") == "1-URGENT")
        .cast("double").alias("label"))
    folds = E.cv_logreg(data, "o_orderkey", 3, ["x1", "x2"], "label")
    out = []
    for r in folds:
        maj = r["majority_share"]
        tol = max(0.02, 3.0 * math.sqrt(maj * (1 - maj)
                                        / max(r["n_test"], 1)))
        out.append((r["fold"], r["n_test"], round(maj, 4),
                    bool(r["ca"] >= maj - tol)))
    return local_frame(
        spark, out,
        "fold int, n_test bigint, majority_share double, ca_ok boolean")


@query("q_outlier_iforest", OR.iforest_oracle)
def q_outlier_iforest(spark, sf_dir):
    """Isolation Forest (outlier_detection.py:114) fit on an id-hash
    sample with seeded trees, scored distributedly on an INTEGER
    fixed-point depth scale, thresholded at the replayed integer cut.
    The fit isn't SQL — the oracle (plans/oracle_replay.iforest_oracle)
    re-runs the identical numpy fit on the identical DuckDB-fetched
    sample and replays scoring as a recursive-CTE tree walk, grading the
    distributed predict path end to end.  Planted outliers stay
    pytest-asserted (tests/test_outlier_models.py)."""
    from orange3_spark.ml.outlier_models import isolation_forest

    (orders,) = _t(spark, sf_dir, "orders")
    P = OR.IFOREST_PARAMS
    model = isolation_forest(
        orders.na.drop(subset=["o_totalprice", "o_custkey"]),
        ["o_totalprice", "o_custkey"], n_trees=P["n_trees"], psi=P["psi"],
        seed=P["seed"], id_cols=["o_orderkey"])
    flagged = model.predict(
        orders.na.drop(subset=["o_totalprice", "o_custkey"]),
        contamination=P["contamination"])
    return (flagged.groupBy("is_outlier")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("qdepth").alias("qdepth_total"))
            .orderBy("is_outlier"))


@query("q_outlier_envelope", OR.envelope_oracle)
def q_outlier_envelope(spark, sf_dir):
    """Elliptic Envelope (outlier_detection.py:158): deterministic FastMCD
    robust covariance on an id-hash sample; predict is a codegen quadratic
    form + exact-quantile contamination threshold.  The oracle
    (plans/oracle_replay.envelope_oracle) replays the fit on the identical
    sample and mirrors the quadratic-form Column fold bit for bit, so the
    distributed scoring + flag counts are hash-checked; planted outliers
    stay pytest-asserted."""
    from orange3_spark.ml.outlier_models import elliptic_envelope

    (li,) = _t(spark, sf_dir, "lineitem")
    model = elliptic_envelope(li, OR.ENVELOPE_COLS,
                              id_cols=["l_orderkey", "l_linenumber"])
    flagged = model.predict(li, contamination=OR.ENVELOPE_CONTAMINATION)
    return (flagged.groupBy("is_outlier")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.floor(F.col("maha_sq") * F.lit(1000000.0)
                               + F.lit(0.5))).alias("qscore_total"))
            .orderBy("is_outlier"))


@query("q_outlier_ocsvm", OR.ocsvm_oracle)
def q_outlier_ocsvm(spark, sf_dir):
    """One-class SVM (outlier_detection.py:88) via seeded random Fourier
    features + deterministic Frank-Wolfe on an id-hash sample —
    sklearn-free RBF approximation.  Scoring is batch-size-independent
    numpy, so the oracle (plans/oracle_replay.ocsvm_oracle) replays
    sample, fit and per-row scores bit for bit and the driver hash-checks
    flag counts + integer fixed-point score sums end to end; separation
    behavior stays pytest-asserted."""
    from orange3_spark.ml.outlier_models import one_class_svm

    P = OR.OCSVM_PARAMS
    (orders,) = _t(spark, sf_dir, "orders")
    data = orders.na.drop(subset=["o_totalprice", "o_custkey"])
    model = one_class_svm(data, ["o_totalprice", "o_custkey"], nu=P["nu"],
                          seed=P["seed"], max_samples=P["max_samples"],
                          id_cols=["o_orderkey"])
    flagged = model.predict(data)
    return (flagged.groupBy("is_outlier")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.floor(F.col("svm_score") * F.lit(OR.OCSVM_QSCALE)
                               + F.lit(0.5)).cast("long"))
                 .alias("qscore_total"))
            .orderBy("is_outlier"))


@query("q_ml_svr", OR.svr_oracle)
def q_ml_svr(spark, sf_dir):
    """Linear ε-SVR (Orange/regression/svm.py:22 LinearSVRLearner) on a
    hash train split, RMSE on the complement via integer fixed-point
    squared errors.  The deterministic subgradient fit is replayed by the
    oracle (plans/oracle_replay.svr_oracle) on the identical id-hash
    sample, with (w, b) embedded and the codegen predictor mirrored — so
    split, sampling, distributed prediction and error aggregation are all
    hash-checked.  The RBF/ν variants (SVRLearner/NuSVRLearner, RFF map)
    stay pytest-asserted (tests/test_svr.py)."""
    from orange3_spark.ml.svr import linear_svr

    (orders,) = _t(spark, sf_dir, "orders")
    P = OR.SVR_PARAMS
    data = orders.na.drop(subset=["o_totalprice", "o_custkey"]).select(
        "o_orderkey",
        F.col("o_custkey").cast("double").alias("x"),
        (F.col("o_totalprice").cast("double") / F.lit(1000.0)).alias("y"))
    train, test = E.train_test_split(data, "o_orderkey", 0.25)
    model = linear_svr(train, ["x"], "y", epsilon=P["epsilon"],
                       epochs=P["epochs"], max_samples=P["max_samples"],
                       id_cols=["o_orderkey"])
    pred = model.predict(test)
    err = F.col("y") - F.col("prediction")
    qe = F.floor((err * err) * F.lit(1000000.0) + F.lit(0.5))
    agg = pred.agg(F.count(F.lit(1)).alias("n_test"),
                   F.sum(qe).alias("qerr_sum"))
    return agg.select(
        "n_test", "qerr_sum",
        F.sqrt(F.col("qerr_sum").cast("double") / F.lit(1000000.0)
               / F.col("n_test")).alias("rmse"))


@query("q_ml_silhouette", f"""
WITH {lloyd_cte(4, 4)},
d AS (SELECT a.vec_id AS ia, a.cl AS ca, b.cl AS cb,
             CAST(list_inner_product(a.qv, a.qv)
                  + list_inner_product(b.qv, b.qv)
                  - 2 * list_inner_product(a.qv, b.qv) AS BIGINT) AS d2
      FROM wf a JOIN wf b ON a.vec_id <> b.vec_id),
sz AS (SELECT cl, count(*) AS n FROM wf GROUP BY cl),
ab AS (SELECT d.ia, d.ca,
              CAST(sum(d.d2) AS DOUBLE)
                / CASE WHEN d.ca = d.cb THEN (sz.n - 1) ELSE sz.n END AS m,
              d.ca = d.cb AS own
       FROM d JOIN sz ON sz.cl = d.cb
       GROUP BY d.ia, d.ca, d.cb, sz.n),
s AS (SELECT ia,
             max(CASE WHEN own THEN m END) AS a,
             min(CASE WHEN NOT own THEN m END) AS b
      FROM ab GROUP BY ia),
si AS (SELECT CASE WHEN a IS NULL OR b IS NULL
                     OR greatest(a, b) <= 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(floor((b - a) / greatest(a, b) * 1000000000.0
                               + 0.5) AS BIGINT) END AS sq
       FROM s)
SELECT 4 AS k,
       floor(CAST(sum(sq) AS DOUBLE) / count(*) / 1000000000.0
             * 1000000.0 + 0.5) / 1000000.0 AS silhouette
FROM si
""")
def q_ml_silhouette(spark, sf_dir):
    """Mean squared-euclidean silhouette of a deterministic k-means
    clustering — the score the reference's k-Means widget ranks k by
    (``owkmeans.py``).  Computed with order-independent exact arithmetic
    on the quantized grid (``ml/cluster.silhouette_exact``: one
    sufficient-statistics scan, per-point silhouettes quantized to 1e-9
    before the final mean), so the full pipeline — fit AND score — is
    SQL-oracle-checked; the oracle replays it as the classic pairwise
    sum, feasible at oracle scale.  MLlib's ClusteringEvaluator stays
    pytest-covered (``ml/cluster.silhouette``)."""
    from orange3_spark.ml.cluster import kmeans_lloyd_fit, silhouette_exact

    (emb,) = _t(spark, sf_dir, "embeddings")
    assigned, _ = kmeans_lloyd_fit(emb, "vec_id", array_col="embedding",
                                   k=4, n_iter=4)
    s = silhouette_exact(assigned)
    assigned.lloyd_cache.unpersist()   # score is a scalar — release the fit
    import math
    s6 = math.floor(s * 1000000.0 + 0.5) / 1000000.0
    return local_frame(spark, [(4, s6)], "k bigint, silhouette double")


@query("q_ml_adaboost", OR.adaboost_oracle)
def q_ml_adaboost(spark, sf_dir):
    """AdaBoost/SAMME over depth-1 stumps (Orange/ensembles/ada_boost.py
    SklAdaBoostClassificationLearner; Orange/tests/test_ada_boost.py) —
    id-hash sample fit, pure-codegen CASE-WHEN margin predict.  The oracle
    (plans/oracle_replay.adaboost_oracle) replays the fit on the identical
    sample and mirrors the margin chain, so the distributed scoring pass
    (flags + quantized margins + confusion counts) is hash-checked."""
    from orange3_spark.ml.ensembles import ada_boost_classifier

    (orders,) = _t(spark, sf_dir, "orders")
    P = OR.ADABOOST_PARAMS
    base = orders.na.drop(subset=["o_totalprice", "o_custkey",
                                  "o_orderpriority"])
    model = ada_boost_classifier(
        base.withColumn("_y", F.col("o_orderpriority") == "1-URGENT"),
        ["o_totalprice", "o_custkey"], "_y",
        n_estimators=P["n_estimators"], max_samples=P["max_samples"],
        id_cols=["o_orderkey"])
    scored = model.predict(
        base.withColumn("actual", F.col("o_orderpriority") == "1-URGENT"))
    return (scored.groupBy("actual", "prediction")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.floor(F.col("margin") * F.lit(1000000.0)
                               + F.lit(0.5))).alias("qmargin_total"))
            .orderBy("actual", "prediction"))


_STACK_SQL = """
WITH d AS (SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS key,
    CAST(floor(CAST(l_quantity AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS qx0,
    CAST(floor(CAST(l_discount AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS qx1,
    CAST(floor((CAST(l_extendedprice AS DOUBLE) / 1000.0) * 10000.0 + 0.5)
         AS BIGINT) AS qy
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
    AND l_extendedprice IS NOT NULL),
f AS (SELECT *, CAST(CAST(concat('0x',
        substring(md5(CAST(key AS VARCHAR)), 1, 8)) AS BIGINT) % 3 AS INT)
        AS fold FROM d),
m AS (SELECT fold, count(*) AS n, sum(qy) AS sy,
             sum(qx0) AS s0, sum(qx0*qx0) AS s00, sum(qx0*qy) AS s0y,
             sum(qx1) AS s1, sum(qx1*qx1) AS s11, sum(qx1*qy) AS s1y
      FROM f GROUP BY fold),
tot AS (SELECT sum(n) AS n, sum(sy) AS sy, sum(s0) AS s0, sum(s00) AS s00,
               sum(s0y) AS s0y, sum(s1) AS s1, sum(s11) AS s11,
               sum(s1y) AS s1y FROM m),
compd AS (SELECT m.fold,
    CAST(t.n - m.n AS DOUBLE) AS n, CAST(t.sy - m.sy AS DOUBLE) AS sy,
    CAST(t.s0 - m.s0 AS DOUBLE) AS s0, CAST(t.s00 - m.s00 AS DOUBLE) AS s00,
    CAST(t.s0y - m.s0y AS DOUBLE) AS s0y,
    CAST(t.s1 - m.s1 AS DOUBLE) AS s1, CAST(t.s11 - m.s11 AS DOUBLE) AS s11,
    CAST(t.s1y - m.s1y AS DOUBLE) AS s1y
  FROM m, tot t),
bs AS (SELECT fold, n, sy, s0, s1,
              (n*s0y - s0*sy) / (n*s00 - s0*s0) AS b0s,
              (n*s1y - s1*sy) / (n*s11 - s1*s1) AS b1s
       FROM compd),
beta AS (SELECT fold, b0s, (sy - b0s*s0) / n AS b0i,
                b1s, (sy - b1s*s1) / n AS b1i FROM bs),
z AS (SELECT f.qy,
    CAST(floor((b.b0i + b.b0s * CAST(f.qx0 AS DOUBLE)) + 0.5) AS BIGINT)
        AS qz0,
    CAST(floor((b.b1i + b.b1s * CAST(f.qx1 AS DOUBLE)) + 0.5) AS BIGINT)
        AS qz1
  FROM f JOIN beta b ON f.fold = b.fold),
mm AS (SELECT CAST(count(*) AS DOUBLE) AS n,
              CAST(sum(qz0) AS DOUBLE) AS a1, CAST(sum(qz1) AS DOUBLE) AS a2,
              CAST(sum(qz0*qz0) AS DOUBLE) AS a11,
              CAST(sum(qz0*qz1) AS DOUBLE) AS a12,
              CAST(sum(qz1*qz1) AS DOUBLE) AS a22,
              CAST(sum(qy) AS DOUBLE) AS c0,
              CAST(sum(qz0*qy) AS DOUBLE) AS c1,
              CAST(sum(qz1*qy) AS DOUBLE) AS c2
       FROM z),
sol AS (SELECT
  (n*(a11*a22 - a12*a12) - a1*(a1*a22 - a12*a2)
     + a2*(a1*a12 - a11*a2)) AS det,
  (c0*(a11*a22 - a12*a12) - a1*(c1*a22 - a12*c2)
     + a2*(c1*a12 - a11*c2)) AS det0,
  (n*(c1*a22 - a12*c2) - c0*(a1*a22 - a12*a2)
     + a2*(a1*c2 - c1*a2)) AS det1,
  (n*(a11*c2 - c1*a12) - a1*(a1*c2 - c1*a2)
     + c0*(a1*a12 - a11*a2)) AS det2
  FROM mm),
meta AS (SELECT det0/det AS mi, det1/det AS w0, det2/det AS w1 FROM sol),
fullb AS (SELECT b0s, (sy - b0s*s0) / n AS b0i,
                 b1s, (sy - b1s*s1) / n AS b1i FROM (
    SELECT n, sy, s0, s1,
           (n*s0y - s0*sy) / (n*s00 - s0*s0) AS b0s,
           (n*s1y - s1*sy) / (n*s11 - s1*s1) AS b1s
    FROM (SELECT CAST(n AS DOUBLE) AS n, CAST(sy AS DOUBLE) AS sy,
                 CAST(s0 AS DOUBLE) AS s0, CAST(s00 AS DOUBLE) AS s00,
                 CAST(s0y AS DOUBLE) AS s0y, CAST(s1 AS DOUBLE) AS s1,
                 CAST(s11 AS DOUBLE) AS s11, CAST(s1y AS DOUBLE) AS s1y
          FROM tot) t) u),
pred AS (SELECT f.qy,
    ((meta.mi + (meta.w0 * (fullb.b0i + fullb.b0s * CAST(f.qx0 AS DOUBLE))))
      + (meta.w1 * (fullb.b1i + fullb.b1s * CAST(f.qx1 AS DOUBLE)))) AS p
  FROM f, meta, fullb),
qe AS (SELECT CAST(floor(((CAST(qy AS DOUBLE) - p) * (CAST(qy AS DOUBLE) - p))
                         + 0.5) AS BIGINT) AS e FROM pred)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_rows,
       meta.mi AS meta_intercept, meta.w0 AS w0, meta.w1 AS w1,
       (SELECT sqrt(CAST(sum(e) AS DOUBLE) / CAST(count(*) AS DOUBLE))
               / 10000.0 FROM qe) AS rmse
FROM meta
"""


@query("q_ml_stack", _STACK_SQL)
def q_ml_stack(spark, sf_dir):
    """Stacked regression (Orange/ensembles/stack.py:18-96 StackedLearner,
    Orange/tests/test_stack.py): two single-feature OLS bases, K-fold CV
    meta-features, OLS aggregate — reduced to two moment scans + one
    scoring scan (ml/ensembles.stacked_ols_quantized).  Exactness: every
    distributed sum is an integer (decimal(38,0) / HUGEINT), every float
    derives from identical integers through IEEE op trees mirrored in the
    static SQL oracle (complement fold moments, 3x3 Cramer solve,
    full-data refits, quantized-residual RMSE) — the float variant
    measured 1e-6 relative drift on the ill-conditioned meta solve, so
    bit-exact discipline is load-bearing here, not a flourish."""
    import math

    from orange3_spark.ml.ensembles import stacked_ols_quantized

    (li,) = _t(spark, sf_dir, "lineitem")
    data = (li.na.drop(subset=["l_quantity", "l_discount",
                               "l_extendedprice"])
            .select((F.col("l_orderkey") * 10 + F.col("l_linenumber"))
                    .cast("bigint").alias("key"),
                    F.floor(F.col("l_quantity").cast("double") * F.lit(100.0)
                            + F.lit(0.5)).alias("qx0"),
                    F.floor(F.col("l_discount").cast("double")
                            * F.lit(10000.0) + F.lit(0.5)).alias("qx1"),
                    F.floor((F.col("l_extendedprice").cast("double")
                             / F.lit(1000.0)) * F.lit(10000.0)
                            + F.lit(0.5)).alias("qy")))
    # three full passes consume ``data`` (two moment scans + the
    # residual scan): right-size and persist the 4-long projection once
    # so the single-row-group fixture is decoded once and every pass
    # aggregates the cache on all cores (guide §1.2/§5; the spread gate
    # is a no-op at scale).  Every aggregate is an exact integer, so
    # results are identical under any partitioning.
    from pyspark import StorageLevel

    from orange3_spark.ml.outlier_models import _spread_for_scoring

    data = _spread_for_scoring(data).persist(StorageLevel.MEMORY_AND_DISK)
    _folds, _fulls, (mi, w0, w1), pexpr = stacked_ols_quantized(
        data, "key", ["qx0", "qx1"], "qy", k=3)
    res = F.col("qy").cast("double") - pexpr
    agg = data.agg(
        F.sum(F.floor((res * res) + F.lit(0.5)).cast("decimal(38,0)"))
        .alias("q"),
        F.count(F.lit(1)).alias("n")).first()
    data.unpersist()
    rmse = math.sqrt(float(int(agg["q"]))
                     / float(int(agg["n"]))) / 10000.0
    return local_frame(
        spark, [(int(agg["n"]), float(mi), float(w0), float(w1), float(rmse))],
        "n_rows bigint, meta_intercept double, w0 double, w1 double, "
        "rmse double")


@query("q_ml_svm", OR.svm_oracle)
def q_ml_svm(spark, sf_dir):
    """RBF-kernel SVM classifier (Orange/classification/svm.py SVMLearner,
    sklearn SVC kernel='rbf'; Orange/tests/test_svm.py) via the seeded
    random-Fourier map + deterministic hinge fit (ml/svr.svm_classifier)
    on a hash train split of the embeddings.  Margin scoring is
    batch-size-independent numpy, so the oracle
    (plans/oracle_replay.svm_oracle) replays split, sample, fit and
    per-row margins bit for bit and the driver hash-checks the full
    confusion table + integer fixed-point margin sums end to end; kernel
    nonlinearity (XOR separation, which the linear SVM cannot do) stays
    pytest-asserted (tests/test_svr.py)."""
    from orange3_spark.ml.svr import svm_classifier

    P = OR.SVM_PARAMS
    (emb,) = _t(spark, sf_dir, "embeddings")
    data = (emb.filter(F.col("label").isNotNull()
                       & F.col("embedding").isNotNull())
            .withColumn("_y", (F.col("label") < 5).cast("double")))
    train, test = E.train_test_split(data, "vec_id", P["test_fraction"])
    model = svm_classifier(train, array_col="embedding", label_col="_y",
                           id_cols=["vec_id"], epochs=P["epochs"],
                           seed=P["seed"], max_samples=P["max_samples"])
    scored = model.predict(test)
    return (scored.groupBy(
                (F.col("_y") > 0).alias("actual"),
                F.col("prediction").alias("prediction"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.floor(F.col("margin") * F.lit(OR.SVM_QSCALE)
                               + F.lit(0.5)).cast("long"))
                 .alias("qmargin_total"))
            .orderBy("actual", "prediction"))


@query("q_ml_knn_reg", """
WITH d AS (SELECT o_orderkey AS id, CAST(o_custkey AS BIGINT) AS qx,
                  CAST(floor(CAST(o_totalprice AS DOUBLE) * 10.0 + 0.5)
                       AS BIGINT) AS qy,
                  substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
                      < '3fffffff' AS is_test
           FROM orders
           WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL),
pairs AS (SELECT t.id, t.qy AS ty, tr.qy,
                 row_number() OVER (PARTITION BY t.id
                     ORDER BY (t.qx - tr.qx) * (t.qx - tr.qx), tr.id) AS rn
          FROM d t JOIN d tr ON NOT tr.is_test
          WHERE t.is_test),
knn AS (SELECT id, any_value(ty) AS ty,
               CAST(sum(qy) AS DOUBLE) / 5.0 AS pred
        FROM pairs WHERE rn <= 5 GROUP BY id),
qe AS (SELECT CAST(floor(((CAST(ty AS DOUBLE) - pred)
                          * (CAST(ty AS DOUBLE) - pred)) + 0.5)
                   AS BIGINT) AS e FROM knn)
SELECT count(*) AS n_test, CAST(sum(e) AS BIGINT) AS qerr_sum,
       sqrt(CAST(sum(e) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 10.0
           AS rmse
FROM qe
""")
def q_ml_knn_reg(spark, sf_dir):
    """kNN regression (Orange/regression/knn.py KNNRegressionLearner;
    Orange/tests/test_knn.py) — mean of the 5 nearest training targets by
    exact integer squared distance with train-id tie-break
    (ml/learners.knn_regressor, broadcast+BLAS inference).  The whole
    inference pass — split, neighbor selection, Σ/k prediction, quantized
    residual RMSE — is replayed by the literal top-k-join oracle.
    NOTE: the ORACLE is O(test × train) by construction (a literal pair
    join) — run it at grading SF only; at sf0.1 the DuckDB side builds
    ~4e9 pair rows and spills tens of GB (the engine side stays
    vectorized top-k and is fine at any SF)."""
    import math

    (orders,) = _t(spark, sf_dir, "orders")
    data = (orders.na.drop(subset=["o_custkey", "o_totalprice"])
            .select(F.col("o_orderkey").alias("id"),
                    F.col("o_custkey").cast("long").alias("qx"),
                    F.floor(F.col("o_totalprice").cast("double")
                            * F.lit(10.0) + F.lit(0.5)).alias("qy")))
    # two passes (train collect + scored residual agg) share one decode
    # of the single-row-group fixture; exact-integer results are
    # partitioning-independent (same rationale as q_ml_mlp_reg)
    from pyspark import StorageLevel

    from orange3_spark.ml.outlier_models import _spread_for_scoring

    data = _spread_for_scoring(data).persist(StorageLevel.MEMORY_AND_DISK)
    train, test = E.train_test_split(data, "id", 0.25)
    model = L.knn_regressor(train, ["qx"], "qy", k=5, id_col="id")
    pred = model.predict(test)
    res = F.col("qy").cast("double") - F.col("prediction")
    agg = pred.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor((res * res) + F.lit(0.5)).cast("decimal(38,0)"))
        .alias("q")).first()
    data.unpersist()
    rmse = math.sqrt(float(int(agg["q"]))
                     / float(int(agg["n"]))) / 10.0
    return local_frame(
        spark, [(int(agg["n"]), int(agg["q"]), float(rmse))],
        "n_test bigint, qerr_sum bigint, rmse double")


@query("q_ml_mlp_reg", OR.mlp_reg_oracle)
def q_ml_mlp_reg(spark, sf_dir):
    """MLP regression (Orange/regression/neural_network.py
    NNRegressionLearner — sklearn MLPRegressor, driver-local in the
    reference too; Orange/tests/test_nn.py) via the sample-fit seeded
    tanh MLP (ml/neural.mlp_regressor) + Arrow-batched predict.
    Prediction is batch-size-independent numpy, so the oracle
    (plans/oracle_replay.mlp_reg_oracle) replays split, sample, fit and
    per-row predictions bit for bit and the driver hash-checks the
    integer fixed-point error aggregate end to end; learning a real
    nonlinearity stays pytest-asserted (tests/test_neural.py)."""
    import math

    from orange3_spark.ml.neural import mlp_regressor

    P = OR.MLP_PARAMS
    (li,) = _t(spark, sf_dir, "lineitem")
    data = (li.na.drop(subset=["l_quantity", "l_discount",
                               "l_extendedprice"])
            .select((F.col("l_orderkey") * 10 + F.col("l_linenumber"))
                    .cast("bigint").alias("key"),
                    F.col("l_quantity").cast("double").alias("x0"),
                    F.col("l_discount").cast("double").alias("x1"),
                    (F.col("l_extendedprice").cast("double")
                     / F.lit(1000.0)).alias("y")))
    # two passes consume ``data`` (the sample TakeOrdered and the scored
    # residual aggregate): spread + persist the 4-column projection so
    # the single-row-group fixture decodes once and both passes run on
    # all cores (gated no-op at scale).  The sample is a total-order
    # prefix and the residual sum is exact-integer — identical under
    # any partitioning.
    from pyspark import StorageLevel

    from orange3_spark.ml.outlier_models import _spread_for_scoring

    data = _spread_for_scoring(data).persist(StorageLevel.MEMORY_AND_DISK)
    train, test = E.train_test_split(data, "key", P["test_fraction"])
    model = mlp_regressor(train, ["x0", "x1"], "y", id_cols=["key"],
                          epochs=P["epochs"], seed=P["seed"],
                          max_samples=P["max_samples"])
    pred = model.predict(test)
    res = F.col("y") - F.col("prediction")
    agg = pred.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor((res * res) * F.lit(OR.MLP_QSCALE) + F.lit(0.5))
              .cast("decimal(38,0)")).alias("q")).first()
    data.unpersist()
    rmse = math.sqrt(float(int(agg["q"])) / OR.MLP_QSCALE
                     / float(int(agg["n"])))
    return local_frame(
        spark, [(int(agg["n"]), int(agg["q"]), float(rmse))],
        "n_test bigint, qerr_sum bigint, rmse double")


@query("q_ml_roc_curve", """
WITH d AS (SELECT CAST(floor(CAST(o_totalprice AS DOUBLE) / 100.0)
                       AS BIGINT) AS threshold,
                  CASE WHEN o_orderpriority = '1-URGENT'
                       THEN 1 ELSE 0 END AS pos
           FROM orders
           WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
g AS (SELECT threshold, count(*) AS n, sum(pos) AS np FROM d GROUP BY 1),
c AS (SELECT threshold,
             sum(np) OVER (ORDER BY threshold DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             sum(n) OVER (ORDER BY threshold DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM g),
t AS (SELECT sum(n) AS tot, sum(np) AS p FROM g)
SELECT c.threshold, CAST(c.tp AS BIGINT) AS tp,
       CAST(c.cum - c.tp AS BIGINT) AS fp,
       CAST(c.tp AS DOUBLE) / CAST(t.p AS DOUBLE) AS tpr,
       CAST(c.cum - c.tp AS DOUBLE) / CAST(t.tot - t.p AS DOUBLE) AS fpr,
       CAST(c.tp AS DOUBLE) / CAST(c.cum AS DOUBLE) AS prec,
       (CAST(c.tp AS DOUBLE) * CAST(t.tot AS DOUBLE))
           / (CAST(c.cum AS DOUBLE) * CAST(t.p AS DOUBLE)) AS lift
FROM c, t ORDER BY c.threshold
""")
def q_ml_roc_curve(spark, sf_dir):
    """ROC / lift curve frame (Orange/evaluation/performance_curves.py:39
    Curves + widget ROC analysis): per distinct score threshold, the
    cumulative confusion counts and (tpr, fpr, precision, lift) —
    ml/evaluation.performance_curves, the aggregate-before-window shape
    of auc_rank_frame extended to full curves.  Every value is a ratio of
    exact integer counts, so the oracle replays it verbatim."""
    (orders,) = _t(spark, sf_dir, "orders")
    scored = (orders.na.drop(subset=["o_totalprice", "o_orderpriority"])
              .select(F.floor(F.col("o_totalprice").cast("double")
                              / F.lit(100.0)).alias("score"),
                      (F.col("o_orderpriority") == "1-URGENT")
                      .cast("int").alias("label")))
    return E.performance_curves(scored, label="label", score_col="score")


@query("q_ml_ari", f"""
WITH {lloyd_cte(8, 2, label=True)},
ct AS (SELECT cl, label, CAST(count(*) AS BIGINT) AS n
       FROM wf GROUP BY cl, label),
pc AS (SELECT CAST(sum((n * (n - 1)) // 2) AS BIGINT) AS sc FROM ct),
ac AS (SELECT CAST(sum((s * (s - 1)) // 2) AS BIGINT) AS sa
       FROM (SELECT sum(n) AS s FROM ct GROUP BY cl)),
bc AS (SELECT CAST(sum((s * (s - 1)) // 2) AS BIGINT) AS sb
       FROM (SELECT sum(n) AS s FROM ct GROUP BY label)),
nt AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM ct),
f AS (SELECT pc.sc, ac.sa, bc.sb, (nt.n * (nt.n - 1)) // 2 AS nc2
      FROM pc, ac, bc, nt)
SELECT 8 AS k,
       (CAST(sc AS DOUBLE)
        - (CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)) / CAST(nc2 AS DOUBLE))
       / ((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)) / 2.0
          - (CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)) / CAST(nc2 AS DOUBLE))
           AS ari
FROM f
""")
def q_ml_ari(spark, sf_dir):
    """Adjusted Rand Index of the deterministic Lloyd clustering against
    the embeddings labels (Orange/evaluation/clustering.py:59-85
    ClusteringEvaluation ARI).  One crosstab + the exact pair-count
    formula on Python ints (ml/cluster.adjusted_rand_index); the oracle
    replays fit AND score — lloyd_cte then the same integer combinatorics
    with mirrored final divisions."""
    from orange3_spark.ml.cluster import adjusted_rand_index, kmeans_lloyd

    (emb,) = _t(spark, sf_dir, "embeddings")
    clustered = kmeans_lloyd(emb, "vec_id", array_col="embedding",
                             k=8, n_iter=2)
    ari = adjusted_rand_index(clustered, "cluster", "label")
    clustered.lloyd_cache.unpersist()
    return local_frame(spark, [(8, float(ari))], "k bigint, ari double")


@query("q_ml_logreg_irls", OR.logreg_irls_oracle)
def q_ml_logreg_irls(spark, sf_dir):
    """FULL-data distributed logistic regression
    (Orange/classification/logistic_regression.py wraps sklearn,
    driver-local; MLlib L-BFGS is partitioning-dependent) via
    quantized-exact Newton-IRLS (ml/learners.logistic_irls): one
    Arrow-batched scan per iteration, integer Hessian/gradient totals,
    so β is a pure function of the data.  The oracle replays the fit on
    a DuckDB fetch (fit_logistic_irls_matrix twin) and mirrors the
    linear margin with β literals — confusion table + fixed-point margin
    sums are hash-graded end to end."""
    from orange3_spark.ml.learners import logistic_irls

    P = OR.LOGREG_IRLS_PARAMS
    (orders,) = _t(spark, sf_dir, "orders")
    data = (orders.na.drop(subset=["o_totalprice", "o_custkey",
                                   "o_orderpriority"])
            .select((F.col("o_totalprice").cast("double")
                     / F.lit(100000.0)).alias("x1"),
                    (F.col("o_custkey").cast("double")
                     / F.lit(1000.0)).alias("x2"),
                    (F.col("o_orderpriority") == "1-URGENT")
                    .cast("double").alias("y")))
    beta = logistic_irls(data, ["x1", "x2"], "y", iters=P["iters"])
    m = (F.lit(beta[0]) + F.col("x1") * F.lit(beta[1])
         + F.col("x2") * F.lit(beta[2]))
    scored = data.withColumn("_m", m)
    return (scored.groupBy(
                (F.col("y") > 0).alias("actual"),
                (F.col("_m") > 0).alias("prediction"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.floor(F.col("_m") * F.lit(OR.LOGREG_IRLS_QSCALE)
                               + F.lit(0.5)).cast("long"))
                 .alias("qmargin_total"))
            .orderBy("actual", "prediction"))


@query("q_ml_adaboost_reg", OR.adaboost_r2_oracle)
def q_ml_adaboost_reg(spark, sf_dir):
    """AdaBoost.R2 regression (Orange/ensembles/ada_boost.py
    SklAdaBoostRegressionLearner; Orange/tests/test_ada_boost.py) —
    deterministic weighted-stump boosting on an id-hash sample, then a
    pure-codegen weighted-MEDIAN predict over the full table (stage
    predictions sorted per row, exact integer cumulative stage weights).
    The oracle replays the fit AND the median window, hash-checking the
    quantized prediction and absolute-error checksums."""
    from orange3_spark.ml.ensembles import ada_boost_regressor

    (orders,) = _t(spark, sf_dir, "orders")
    P = OR.ADABOOST_R2_PARAMS
    base = orders.na.drop(subset=["o_custkey", "o_orderkey",
                                  "o_totalprice"])
    model = ada_boost_regressor(
        base, ["o_custkey", "o_orderkey"], "o_totalprice",
        n_estimators=P["n_estimators"], max_samples=P["max_samples"],
        id_cols=["o_orderkey"])
    scored = model.predict(base)
    err = F.abs(F.col("o_totalprice").cast("double")
                - F.col("prediction"))
    return scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("prediction") * F.lit(1000000.0)
                      + F.lit(0.5)).cast("long"))
        .cast("long").alias("qpred_total"),
        F.sum(F.floor(err * F.lit(1000000.0) + F.lit(0.5)).cast("long"))
        .cast("long").alias("qerr_total"))


@query("q_ml_correspondence", OR.ca_oracle)
def q_ml_correspondence(spark, sf_dir):
    """Correspondence Analysis (owcorrespondence.py:381-421): row and
    column principal coordinates of the order-priority x order-status
    contingency.  The contingency is ONE distributed exact-integer
    aggregation; the gsvd runs driver-side on the bounded levels-square
    matrix (cardinality-guarded), with a deterministic sign convention
    the reference leaves to LAPACK.  The oracle
    (plans/oracle_replay.ca_oracle) re-fetches the identical
    contingency through DuckDB, re-runs the identical fit, and embeds
    the quantized factors."""
    from orange3_spark.ml.projection import correspondence_analysis

    (orders,) = _t(spark, sf_dir, "orders")
    return (correspondence_analysis(orders, "o_orderpriority",
                                    "o_orderstatus", n_components=2)
            .orderBy("kind", "level"))


@query("q_ml_nomogram", OR.nomogram_oracle)
def q_ml_nomogram(spark, sf_dir):
    """Nomogram point table (ownomogram.py:934-951 over
    naive_bayes.py:34-55): per-(attribute, value, class) Naive Bayes
    log-odds ratios for order status from order priority and a derived
    price bucket.  ONE explode+groupBy pass builds every attribute's
    contingency (cardinality-guarded); the log table is a driver-side
    pure function of the exact integer counts, which the oracle
    (plans/oracle_replay.nomogram_oracle) recomputes bit-for-bit."""
    from orange3_spark.ml.nomogram import nb_nomogram

    (orders,) = _t(spark, sf_dir, "orders")
    d = orders.select(
        F.col("o_orderstatus"), F.col("o_orderpriority"),
        F.floor(F.col("o_totalprice") / F.lit(50000.0)).cast("long")
        .cast("string").alias("price_bucket"))
    return (nb_nomogram(d, ["o_orderpriority", "price_bucket"],
                        "o_orderstatus")
            .orderBy("attr", "value", "cls"))


@query("q_permutation_importance", OR.permutation_oracle)
def q_permutation_importance(spark, sf_dir):
    """Permutation importance (owpermutationplot.py:61-93 made
    deterministic + distributed): OLS R² of quantity ~ discount + tax
    on the x100 integer grid, then three DETERMINISTIC within-bucket
    hash permutations of the target — each 'fit' is one exact-int64
    moment aggregation, never a second table scan, and the permutation
    is two partitioned row_number windows joined on (bucket, rank)
    (no global sort).  A model fitting signal has true >> perm_i; the
    oracle replays moments + permutations in SQL and the shared
    r2_from_moments solve."""
    from orange3_spark.ml.permutation import permutation_importance_ols

    (li,) = _t(spark, sf_dir, "lineitem")
    # the synthetic lineitem has duplicate (orderkey, linenumber) pairs;
    # a permutation needs UNIQUE row identity, so aggregate to one row
    # per id first (min is deterministic and engine-portable)
    d = (li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("id"),
        "l_quantity", "l_discount", "l_tax")
        # deterministic 40% id-hash slice: a permutation TEST needs a
        # representative sample, not the corpus.  The slice predicate is
        # a pure function of the GROUPING KEY, so filtering before the
        # groupBy is row-for-row identical to filtering after it — and
        # shuffles 60% fewer rows into the aggregation (r10, guide §2.3
        # filter before the exchange; the optimizer cannot prove this
        # commute through md5 itself)
        .where(F.substring(F.md5(F.col("id").cast("string")), 1, 8)
               < F.lit("66666666"))
        .groupBy("id")
        .agg(F.min("l_quantity").alias("l_quantity"),
             F.min("l_discount").alias("l_discount"),
             F.min("l_tax").alias("l_tax"))
        # drop null rows BEFORE permuting (the oracle's HAVING) so the
        # permutation domain matches exactly
        .na.drop(subset=["l_quantity", "l_discount", "l_tax"]))
    rows = permutation_importance_ols(
        d, "id", ["l_discount", "l_tax"], "l_quantity", n_perm=3)
    return local_frame(spark, rows, "label string, r2_q long")


@query("q_heatmap_order", OR.heatmap_order_oracle)
def q_heatmap_order(spark, sf_dir):
    """Clustered-heatmap row seriation (``owheatmap.py`` orders
    rows/columns by dendrogram leaf order before display;
    ml/hierarchical.heatmap_order): nation features → distributed pair
    distances → driver average-linkage → depth-first leaf traversal →
    ``(n_nationkey, leaf_pos)``.  Features are exact-integer-derived
    (count + cents-sum / 1e5) so the argmin-driven discrete output is
    bit-stable across engines; the replay oracle runs the engine's own
    linkage + traversal on DuckDB-fetched identical inputs
    (plans/oracle_replay.heatmap_order_oracle)."""
    from orange3_spark.ml.hierarchical import heatmap_order

    nation, customer, orders = _t(spark, sf_dir,
                                  "nation", "customer", "orders")
    feats = (orders.join(customer, orders.o_custkey == customer.c_custkey)
             .join(nation, customer.c_nationkey == nation.n_nationkey)
             .groupBy("n_nationkey")
             .agg(F.count(F.lit(1)).cast("double").alias("n_orders"),
                  (F.sum(F.floor(F.col("o_totalprice").cast("double")
                                 * 100 + F.lit(0.5)).cast("long"))
                   .cast("double") / F.lit(100000.0)).alias("price_k")))
    return (heatmap_order(feats, "n_nationkey", ["n_orders", "price_k"],
                          method="average")
            .select(F.col("n_nationkey").cast("long").alias("n_nationkey"),
                    "leaf_pos")
            .orderBy("leaf_pos"))


@query("q_ml_cn2_depth2", OR.cn2_depth2_oracle)
def q_ml_cn2_depth2(spark, sf_dir):
    """CN2 with TWO-selector conjunctions and beam width 2 — the beam
    search path q_ml_cn2's depth-1 oracle never exercised.  Each depth
    scores every refinement of every beam member with one stack-unpivot
    aggregation; the replay oracle re-runs the identical beam loop
    (shared _score, ordering, stopping rules) on the DuckDB-fetched
    contingency cube (plans/oracle_replay.cn2_depth2_oracle), so rule
    selection, Laplace qualities, and coverage all hash-match."""
    from orange3_spark.ml.rules import cn2_induce, rules_to_dataframe
    from orange3_spark.plans.oracle_replay import CN2_D2

    (li,) = _t(spark, sf_dir, "lineitem")
    d = li.select(
        "l_linestatus",
        F.year("l_shipdate").cast("string").alias("ship_year"),
        F.col("l_returnflag").alias("cls"))
    rules = cn2_induce(d, ["l_linestatus", "ship_year"], "cls",
                       max_rules=CN2_D2["max_rules"],
                       beam_width=CN2_D2["beam_width"],
                       max_selectors=CN2_D2["max_selectors"])
    return rules_to_dataframe(spark, rules)


@query("q_ml_cn2_unordered", OR.cn2_unordered_oracle)
def q_ml_cn2_unordered(spark, sf_dir):
    """CN2Unordered (``Orange/classification/rules.py:1317``): rules are
    induced PER CLASS with the target-class Laplace ``(n_tc+1)/(n+2)``
    and covering removes only covered examples OF THAT CLASS
    (``exclusive_cover_and_remove`` with target, ``rules.py:1069``); a
    majority default rule closes the set.  Spark shape: unordered
    covering never shrinks the data (each class's pass sees all rows),
    so instead of the ordered learner's scan-per-rule this builds the
    (attrs, class) contingency CUBE with ONE distributed groupBy — the
    sufficient statistic, since equality-selector rules cover cells
    all-or-nothing — and runs the whole per-class covering loop on
    driver-side cells (ml/rules.induce_unordered_from_cube).  The
    oracle replays the identical pure function on the DuckDB-fetched
    cube."""
    from orange3_spark.ml.rules import (cn2_unordered_induce,
                                        unordered_rules_to_dataframe)
    from orange3_spark.plans.oracle_replay import CN2_UNORD

    (li,) = _t(spark, sf_dir, "lineitem")
    d = li.select(
        "l_linestatus",
        F.year("l_shipdate").cast("string").alias("ship_year"),
        F.col("l_returnflag").alias("cls"))
    rules = cn2_unordered_induce(d, ["l_linestatus", "ship_year"], "cls",
                                 **CN2_UNORD)
    return unordered_rules_to_dataframe(spark, rules)


@query("q_ml_cn2_sd", OR.cn2_sd_oracle)
def q_ml_cn2_sd(spark, sf_dir):
    """CN2-SD subgroup discovery (``rules.py:1377``; Lavrac et al., JMLR
    5 (2004)): weighted relative accuracy scores how interesting a
    subgroup is vs the class prior, and WEIGHTED covering decays covered
    examples by gamma=0.7 instead of removing them, so successive rules
    describe overlapping-but-novel subgroups.  Weights are exact
    Fractions (gamma**m) over contingency-cube cells — rows never carry
    individual weights because equality-selector rules cover cells
    all-or-nothing — so every WRAcc comparison is exact rational
    arithmetic and the emitted fixed-point int64s are bit-stable.  ONE
    distributed groupBy builds the cube; the oracle replays the
    identical induce_sd_from_cube on the DuckDB cube.  The per-class
    variant (``CN2SDUnorderedLearner``, rules.py:1453) is the same
    function with per_class=True, pytest-covered."""
    from orange3_spark.ml.rules import cn2_sd_induce, sd_rules_to_dataframe
    from orange3_spark.plans.oracle_replay import CN2_SD

    (li,) = _t(spark, sf_dir, "lineitem")
    d = li.select(
        "l_linestatus",
        F.year("l_shipdate").cast("string").alias("ship_year"),
        F.col("l_returnflag").alias("cls"))
    sd = cn2_sd_induce(d, ["l_linestatus", "ship_year"], "cls", **CN2_SD)
    return sd_rules_to_dataframe(spark, sd)


@query("q_heatmap_order_olo", OR.heatmap_order_olo_oracle)
def q_heatmap_order_olo(spark, sf_dir):
    """Heatmap seriation with Bar-Joseph OPTIMAL leaf ordering
    (ml/hierarchical.optimal_leaf_order — the reference wraps scipy's,
    Orange/clustering/hierarchical.py:410): subtree flips chosen by a
    min-plus DP to minimize the summed distance between adjacent rows.
    Same exact-integer-derived features as q_heatmap_order so the
    discrete output is bit-stable; the replay oracle runs the engine's
    own DP on DuckDB-fetched inputs.  Pytest proves DP optimality
    against exhaustive flip enumeration."""
    from orange3_spark.ml.hierarchical import heatmap_order

    nation, customer, orders = _t(spark, sf_dir,
                                  "nation", "customer", "orders")
    feats = (orders.join(customer, orders.o_custkey == customer.c_custkey)
             .join(nation, customer.c_nationkey == nation.n_nationkey)
             .groupBy("n_nationkey")
             .agg(F.count(F.lit(1)).cast("double").alias("n_orders"),
                  (F.sum(F.floor(F.col("o_totalprice").cast("double")
                                 * 100 + F.lit(0.5)).cast("long"))
                   .cast("double") / F.lit(100000.0)).alias("price_k")))
    return (heatmap_order(feats, "n_nationkey", ["n_orders", "price_k"],
                          method="average", olo=True)
            .select(F.col("n_nationkey").cast("long").alias("n_nationkey"),
                    "leaf_pos")
            .orderBy("leaf_pos"))
