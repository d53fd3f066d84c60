"""Evaluation: cross-validation, train/test splits, scoring.

Reference: ``Orange/evaluation/testing.py`` (``CrossValidation :568``,
``TestOnTestData :712``, ``TestOnTrainingData :779``) and ``scoring.py``
(CA ``:156``, Precision/Recall/F1 ``:207-225``, AUC ``:226``, MCC ``:394``,
MSE/RMSE/MAE/MAPE/R2 ``:403-470``).

Folds are DETERMINISTIC content-hash assignments (same primitive as
operators.sample.sample_hash): fold membership is a pure function of the
row key, so results reproduce across runs, partitionings and engines —
Orange gets determinism from seeded numpy; hashing is the distributed
equivalent.  Scores are single aggregations over (label, prediction).
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orange3_spark.session import arrow_values, fetch_capped, fetch_local


def with_fold(df: DataFrame, key: str, k: int, salt: str = "") -> DataFrame:
    """Deterministic fold 0..k-1 from md5 of the row key."""
    fold = F.conv(F.substring(
        F.md5(F.concat(F.col(key).cast("string"), F.lit(salt))), 1, 8),
        16, 10).cast("long") % k
    return df.withColumn("fold", fold.cast("int"))


def train_test_split(df: DataFrame, key: str, test_fraction: float = 0.25,
                     salt: str = "") -> tuple[DataFrame, DataFrame]:
    thr = format(int(test_fraction * 0xFFFFFFFF), "08x")
    h = F.substring(F.md5(F.concat(F.col(key).cast("string"), F.lit(salt))), 1, 8)
    return df.filter(h >= F.lit(thr)), df.filter(h < F.lit(thr))


def cross_validate(df: DataFrame, key: str, k: int,
                   fit: Callable[[DataFrame], object],
                   score: Callable[[DataFrame], float],
                   salt: str = "") -> list[float]:
    """k-fold CV: fit on k−1 folds, score predictions on the held-out fold.
    ``fit(train) -> Model``; ``score(predicted_test) -> float``."""
    folded = with_fold(df, key, k, salt).cache()
    out = []
    for i in range(k):
        train = folded.filter(F.col("fold") != i).drop("fold")
        test = folded.filter(F.col("fold") == i).drop("fold")
        model = fit(train)
        out.append(score(model.predict(test)))
    folded.unpersist()
    return out


def cv_ols(df: DataFrame, key: str, k: int, features: Sequence[str],
           target: str, salt: str = "") -> list[dict]:
    """Exact k-fold cross-validation of OLS in ONE distributed scan.

    The generic ``cross_validate`` costs 2k passes (k fits + k scorings).
    For linear least squares every quantity is a sum, so one
    ``groupBy(fold)`` pass over the augmented moments z z', z y, y²
    (z = [1, x...]) determines everything on the driver:

    - complement moments for fold i = column totals − fold i's moments
      (no cancellation: both operands are positive sums of comparable
      magnitude), solved to β_i via the (p+1)×(p+1) normal equations;
    - held-out RSS_i = Σy²_i − 2 β_i·v_i + β_i' M_i β_i, evaluated from
      the SAME fold-i moments — no second pass, no prediction join.

    At 100 TB this is the difference between 2k table scans and one
    map-side-combined aggregation whose shuffle is k×p² scalars.  Rows
    with NULL in any feature/target are dropped (as ``ols_learner``).
    Returns ``[{fold, intercept, coefficients, rmse}, ...]``.
    """
    import numpy as np

    p = len(features)
    z = [F.lit(1.0)] + [F.col(c).cast("double") for c in features]
    y = F.col(target).cast("double")
    aggs = [F.count(F.lit(1)).alias("n"),
            F.sum(y * y).alias("yy")]
    for i in range(p + 1):
        for j in range(i, p + 1):
            aggs.append(F.sum(z[i] * z[j]).alias(f"m_{i}_{j}"))
        aggs.append(F.sum(z[i] * y).alias(f"v_{i}"))
    folded = with_fold(df.na.drop(subset=[*features, target]), key, k, salt)
    rows = {int(r["fold"]): r for r in folded.groupBy("fold").agg(*aggs).collect()}

    def mom(r):
        M = np.zeros((p + 1, p + 1))
        v = np.zeros(p + 1)
        for i in range(p + 1):
            for j in range(i, p + 1):
                M[i, j] = M[j, i] = r[f"m_{i}_{j}"]
            v[i] = r[f"v_{i}"]
        return M, v, float(r["yy"]), int(r["n"])

    per = {f: mom(r) for f, r in rows.items()}
    Mt = sum(m[0] for m in per.values())
    vt = sum(m[1] for m in per.values())
    out = []
    for f in range(k):
        if f not in per:
            continue
        Mi, vi, yyi, ni = per[f]
        beta = np.linalg.solve(Mt - Mi, vt - vi)
        rss = yyi - 2.0 * float(beta @ vi) + float(beta @ Mi @ beta)
        out.append({
            "fold": f,
            "intercept": float(beta[0]),
            "coefficients": [float(b) for b in beta[1:]],
            "rmse": float(np.sqrt(max(rss, 0.0) / ni)),
        })
    return out


def _cv_logreg_local(tbl, k: int, d: int, max_iter: int,
                     tol: float) -> list[dict]:
    """cv_logreg's bounded-frame local twin: the identical per-fold-group
    complement-moment Newton loop on the one-shot fetched frame (see the
    fast-path comment at the call site for the equivalence argument)."""
    import numpy as np

    fold_of = tbl.column("fold").to_numpy()
    Z = np.column_stack([tbl.column(f"_z{i}").to_numpy() for i in range(d)])
    Y = tbl.column("_y").to_numpy()
    comp = [fold_of != f for f in range(k)]

    betas = [np.zeros(d) for _ in range(k)]
    for _ in range(max_iter):
        delta = 0.0
        new_betas = []
        for f in range(k):
            m = comp[f]
            eta = Z[m] @ betas[f]
            mu = 1.0 / (1.0 + np.exp(-eta))
            w = mu * (1.0 - mu)
            H = (Z[m] * w[:, None]).T @ Z[m]
            g = Z[m].T @ (Y[m] - mu)
            step = np.linalg.solve(H + 1e-10 * np.eye(d), g)
            new_betas.append(betas[f] + step)
            delta = max(delta, float(np.abs(step).max()))
        betas = new_betas
        if delta < tol:
            break

    n_tot, pos_tot = len(Y), float(Y.sum())
    out = []
    # like the distributed groupBy("fold"), emit only folds with rows
    for f in sorted(int(x) for x in set(fold_of.tolist())):
        m = fold_of == f
        n = int(m.sum())
        pos = float(Y[m].sum())
        pred = (Z[m] @ betas[f] > 0).astype(np.float64)
        c = float((pred == Y[m]).sum())
        train_pos = (pos_tot - pos) / max(n_tot - n, 1)
        out.append({
            "fold": f,
            "n_test": n,
            "majority_share": float(max(train_pos, 1.0 - train_pos)),
            "ca": float(c / max(n, 1)),
            "intercept": float(betas[f][0]),
            "coefficients": [float(b) for b in betas[f][1:]],
        })
    return out


def cv_logreg(df: DataFrame, key: str, k: int, features: Sequence[str],
              label: str, *, salt: str = "", max_iter: int = 12,
              tol: float = 1e-9) -> list[dict]:
    """Exact k-fold CV of unregularized logistic regression with ONE
    distributed scan per Newton-IRLS iteration — for ALL k models at once
    (the ``cv_ols`` trick lifted to an iterative GLM).

    Model f trains on the complement of fold f.  Its Newton step needs
    H_f = Σ_{r∉f} w z z' and g_f = Σ_{r∉f} (y−μ) z with μ, w evaluated
    under β_f.  Rather than k passes, each scan aggregates, per fold g of
    the ROW, the moment set under EVERY model's current β (k sets of
    (p+1)(p+2)/2 + (p+1) sums — map-side combined): then
    full-data sums under β_f = Σ_g partial[g][f], and the complement is
    that minus partial[f][f] — no cancellation risk, both positive sums.
    Shuffle volume is k²·p² scalars; scans are max_iter, not 2k.

    Returns ``[{fold, n_test, majority_share, ca}, ...]`` — the held-out
    accuracy from one final scan that scores each row under ITS OWN fold's
    complement model.
    """
    import numpy as np

    p = len(features)
    d = p + 1
    zc = [F.lit(1.0)] + [F.col(c).cast("double") for c in features]
    folded = (with_fold(df.na.drop(subset=[*features, label]), key, k, salt)
              .select(F.col(label).cast("double").alias("_y"), "fold",
                      *[z.alias(f"_z{i}") for i, z in enumerate(zc)]))
    tbl = fetch_local(folded, width=d)
    if tbl is not None:
        # Bounded local twin: fetch the folded frame ONCE and run the
        # identical complement-moment Newton loop locally — max_iter
        # scans collapse into one fetch.  The loop structure (per-fold-
        # group partials, complement = Σ_{g≠f}, same μ/w/step formulas,
        # same convergence rule) is replicated verbatim; float sums
        # associate differently than Spark's partial aggregation, so β
        # can drift in last ulps — exactly the drift the function's
        # contract already absorbs (the parity test pins β at 1e-6 and
        # the oracle pins the EXACT outputs: integer counts and the
        # integer-ratio majority share, which a fetch reproduces bit
        # for bit).  A 100 TB fit frame takes the distributed loop.
        return _cv_logreg_local(tbl, k, d, max_iter, tol)
    folded = folded.cache()
    try:
        z = [F.col(f"_z{i}") for i in range(d)]
        y = F.col("_y")

        betas = [np.zeros(d) for _ in range(k)]
        for _ in range(max_iter):
            aggs = []
            for f in range(k):
                eta = sum((z[i] * float(betas[f][i]) for i in range(1, d)),
                          z[0] * float(betas[f][0]))
                mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
                w = mu * (F.lit(1.0) - mu)
                for i in range(d):
                    for j in range(i, d):
                        aggs.append(F.sum(w * z[i] * z[j]).alias(f"h_{f}_{i}_{j}"))
                    aggs.append(F.sum((y - mu) * z[i]).alias(f"g_{f}_{i}"))
            rows = {int(r["fold"]): r
                    for r in folded.groupBy("fold").agg(*aggs).collect()}

            def mom(r, f):
                H = np.zeros((d, d))
                g = np.zeros(d)
                for i in range(d):
                    for j in range(i, d):
                        H[i, j] = H[j, i] = r[f"h_{f}_{i}_{j}"]
                    g[i] = r[f"g_{f}_{i}"]
                return H, g

            delta = 0.0
            new_betas = []
            for f in range(k):
                Hs = np.zeros((d, d))
                gs = np.zeros(d)
                for gfold, r in rows.items():
                    if gfold == f:
                        continue          # complement model: own fold excluded
                    H, g = mom(r, f)
                    Hs += H
                    gs += g
                # ridge epsilon only as a singular-Hessian guard (separable data)
                step = np.linalg.solve(Hs + 1e-10 * np.eye(d), gs)
                new_betas.append(betas[f] + step)
                delta = max(delta, float(np.abs(step).max()))
            betas = new_betas
            if delta < tol:
                break

        # one scoring scan: each row is a TEST row exactly for its own fold's
        # model; majority share comes from the same label sums
        score_aggs = [F.count(F.lit(1)).alias("n"), F.sum(y).alias("pos")]
        for f in range(k):
            eta = sum((z[i] * float(betas[f][i]) for i in range(1, d)),
                      z[0] * float(betas[f][0]))
            correct = ((eta > 0).cast("double") == y).cast("double")
            score_aggs.append(F.sum(correct).alias(f"c_{f}"))
        rows = {int(r["fold"]): r
                for r in folded.groupBy("fold").agg(*score_aggs).collect()}
    finally:
        # unpersist even when a fold solve throws (singular moments)
        folded.unpersist()
    n_tot = sum(r["n"] for r in rows.values())
    pos_tot = sum(r["pos"] for r in rows.values())
    out = []
    for f in sorted(rows):
        r = rows[f]
        train_pos = (pos_tot - r["pos"]) / max(n_tot - r["n"], 1)
        out.append({
            "fold": f,
            "n_test": int(r["n"]),
            "majority_share": float(max(train_pos, 1.0 - train_pos)),
            "ca": float(r[f"c_{f}"] / max(r["n"], 1)),
            "intercept": float(betas[f][0]),
            "coefficients": [float(b) for b in betas[f][1:]],
        })
    return out


# ------------------------------------------------------------------- scoring
# each is ONE aggregation over (label, prediction) — no driver-side loops

def _agg1(df, expr):
    return float(df.agg(expr).first()[0])


def ca(df: DataFrame, label: str = "label",
       pred: str = "prediction") -> float:
    """Classification accuracy (scoring.py:156)."""
    return _agg1(df, F.avg((F.col(label) == F.col(pred)).cast("double")))


def confusion_counts(df: DataFrame, positive, label: str = "label",
                     pred: str = "prediction") -> tuple[int, int, int, int]:
    r = df.agg(
        F.sum(((F.col(label) == positive) & (F.col(pred) == positive)).cast("long")).alias("tp"),
        F.sum(((F.col(label) != positive) & (F.col(pred) == positive)).cast("long")).alias("fp"),
        F.sum(((F.col(label) == positive) & (F.col(pred) != positive)).cast("long")).alias("fn"),
        F.sum(((F.col(label) != positive) & (F.col(pred) != positive)).cast("long")).alias("tn"),
    ).first()
    return int(r.tp), int(r.fp), int(r.fn), int(r.tn)


def precision_recall_f1(df: DataFrame, positive, label: str = "label",
                        pred: str = "prediction") -> tuple[float, float, float]:
    tp, fp, fn, _ = confusion_counts(df, positive, label, pred)
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return p, r, f1


def mcc(df: DataFrame, positive, label: str = "label",
        pred: str = "prediction") -> float:
    """Matthews correlation (scoring.py:394)."""
    import math
    tp, fp, fn, tn = confusion_counts(df, positive, label, pred)
    denom = math.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    return ((tp * tn - fp * fn) / denom) if denom else 0.0


def auc_rank_frame(df: DataFrame, label: str = "label",
                   score_col: str = "score") -> DataFrame:
    """Distinct-score frame ``(pos, cnt, r)`` feeding :func:`auc` — split
    out so plan tests can pin the aggregate-before-window shape."""
    from pyspark.sql.window import Window

    counts = (df.groupBy(F.col(score_col).alias("s"))
                .agg(F.count(F.lit(1)).cast("double").alias("cnt"),
                     F.sum((F.col(label).cast("double") == 1.0)
                           .cast("double")).alias("pos")))
    # only (score, cnt, pos) rows pass through this single-reducer cumsum
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    return counts.select(
        "pos",
        "cnt",
        (F.coalesce(F.sum("cnt").over(w), F.lit(0.0))
         + (F.col("cnt") + 1.0) / 2.0).alias("r"))


def performance_curves(df: DataFrame, label: str = "label",
                       score_col: str = "score") -> DataFrame:
    """Performance-curve frame (``Orange/evaluation/performance_curves.py:39``
    Curves; widget ROC analysis): one row per DISTINCT score threshold,
    classifying positive at ``score ≥ threshold`` — columns
    ``(threshold, tp, fp, tpr, fpr, prec, lift)``.

    Shape: a full-table ``groupBy(score)`` (map-side combined, fully
    parallel) shrinks the input to one row per distinct score; the
    descending cumulative sums then window over THAT bounded frame — the
    same aggregate-before-window discipline as :func:`auc_rank_frame`.
    All curve values are ratios of exact integer counts (one correctly
    rounded division each), so the frame is bit-identical across engines
    and partitionings — SQL-oracle-checkable (``q_ml_roc_curve``)."""
    from pyspark.sql.window import Window

    counts = (df.groupBy(F.col(score_col).alias("threshold"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum((F.col(label).cast("double") == 1.0)
                           .cast("long")).alias("np")))
    w = (Window.orderBy(F.col("threshold").desc())
         .rowsBetween(Window.unboundedPreceding, 0))
    c = counts.select("threshold",
                      F.sum("np").over(w).alias("tp"),
                      F.sum("n").over(w).alias("cum"))
    t = counts.agg(F.sum("n").alias("tot"), F.sum("np").alias("p"))
    j = c.crossJoin(F.broadcast(t))
    tp_d = F.col("tp").cast("double")
    fp_d = (F.col("cum") - F.col("tp")).cast("double")
    return j.select(
        "threshold",
        F.col("tp").cast("long").alias("tp"),
        (F.col("cum") - F.col("tp")).cast("long").alias("fp"),
        (tp_d / F.col("p").cast("double")).alias("tpr"),
        (fp_d / (F.col("tot") - F.col("p")).cast("double")).alias("fpr"),
        (tp_d / F.col("cum").cast("double")).alias("prec"),
        ((tp_d * F.col("tot").cast("double"))
         / (F.col("cum").cast("double") * F.col("p").cast("double")))
        .alias("lift"))


def auc(df: DataFrame, label: str = "label",
        score_col: str = "score") -> float:
    """Binary AUC via the Mann-Whitney rank-sum identity on the
    distinct-(score, count, positives) frame.  A full-table
    ``groupBy(score)`` (map-side combined, fully parallel) first shrinks
    the input to one row per distinct score; the running sum that assigns
    average tie-ranks then windows over THAT bounded frame — never the raw
    rows (same shape as ``stats/basic.py:average_rank`` and the threshold
    search in ``ml/calibration.py``).  Ties get average ranks, exactly
    scikit's ``roc_auc_score``."""
    agg = auc_rank_frame(df, label, score_col).agg(
        F.sum(F.col("pos") * F.col("r")).alias("rs"),
        F.sum("pos").alias("np"),
        F.sum("cnt").alias("n")).first()
    n_pos = float(agg.np or 0.0)
    n_neg = float(agg.n or 0.0) - n_pos
    if not n_pos or not n_neg:
        return float("nan")
    return float((agg.rs - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg))


def mse(df, label="label", pred="prediction"):
    return _agg1(df, F.avg(F.pow(F.col(label) - F.col(pred), 2)))


def rmse(df, label="label", pred="prediction"):
    import math
    return math.sqrt(mse(df, label, pred))


def mae(df, label="label", pred="prediction"):
    return _agg1(df, F.avg(F.abs(F.col(label) - F.col(pred))))


def mape(df, label="label", pred="prediction"):
    """Mean absolute percentage error ×100; inf when any actual == 0
    (scoring.py:426-436 — reference returns np.inf rather than dividing
    by zero)."""
    row = df.agg(
        F.avg(F.abs(F.try_divide(F.col(label) - F.col(pred),
                                 F.col(label)))).alias("m"),
        F.sum((F.col(label) == 0).cast("long")).alias("zeros")).first()
    if row.zeros:
        return float("inf")
    return float(row.m) * 100.0


def smape(df, label="label", pred="prediction"):
    """Symmetric MAPE (scoring.py:438-452): 2·mean(|a−p| / (|a|+|p|))·100,
    with 0/0 counted as zero error."""
    denom = F.abs(F.col(label)) + F.abs(F.col(pred))
    term = F.abs(F.col(label) - F.col(pred)) / F.when(denom == 0, F.lit(1.0)).otherwise(denom)
    return 2.0 * _agg1(df, F.avg(term)) * 100.0


def cvrmse(df, label="label", pred="prediction"):
    """Coefficient of variation of the RMSE (scoring.py:461-470):
    RMSE / mean(actual) × 100; raises when the mean is ~0 as the
    reference does."""
    import math
    row = df.agg(
        F.avg(F.pow(F.col(label) - F.col(pred), 2)).alias("mse"),
        F.avg(F.col(label)).alias("mean")).first()
    if row.mean is None or abs(row.mean) < 1e-10:
        raise ValueError("Mean value is too small")
    return math.sqrt(row.mse) / row.mean * 100.0


def r2(df, label="label", pred="prediction"):
    row = df.agg(
        F.sum(F.pow(F.col(label) - F.col(pred), 2)).alias("ss_res"),
        F.var_pop(label).alias("v"), F.count(F.lit(1)).alias("n")).first()
    return 1.0 - row.ss_res / (row.v * row.n) if row.v else float("nan")


def log_loss(df: DataFrame, label: str = "label", prob: str = "prob",
             *, eps: float = 1e-15, normalize: bool = True) -> float:
    """Binary log loss (scoring.py:288-338): −Σ y·ln(p) + (1−y)·ln(1−p),
    probabilities clipped to [eps, 1−eps] exactly as sklearn does.
    ``label`` is 0/1, ``prob`` is P(class=1).  One aggregation, no UDF."""
    p = F.least(F.lit(1.0 - eps), F.greatest(F.lit(eps), F.col(prob)))
    y = F.col(label).cast("double")
    term = -(y * F.log(p) + (1.0 - y) * F.log(1.0 - p))
    agg = F.avg(term) if normalize else F.sum(term)
    return _agg1(df, agg)


def log_loss_multiclass(df: DataFrame, label: str = "label",
                        probs: str = "probs", classes: Optional[Sequence] = None,
                        *, eps: float = 1e-15) -> float:
    """Multiclass log loss: ``probs`` is an array column ordered like
    ``classes``; −mean ln(p[actual])."""
    if classes is None:
        raise ValueError("classes ordering is required")
    idx = None
    for i, c in enumerate(classes):
        cond = F.col(label) == F.lit(c)
        idx = F.when(cond, i) if idx is None else idx.when(cond, i)
    p = F.element_at(F.col(probs), idx + 1)
    p = F.least(F.lit(1.0 - eps), F.greatest(F.lit(eps), p))
    return _agg1(df, F.avg(-F.log(p)))


def specificity(df: DataFrame, positive=None, label: str = "label",
                pred: str = "prediction", *, average: str = "binary") -> float:
    """Specificity TN/(TN+FP) (scoring.py:340-391).  ``positive`` given →
    one-vs-rest for that class; ``average='weighted'`` → class-frequency-
    weighted mean of per-class specificities, computed in ONE pass via a
    groupBy over (label, pred) counts (no per-class rescan)."""
    if positive is not None or average == "binary":
        if positive is None:
            positive = 1
        _, fp, _, tn = confusion_counts(df, positive, label, pred)
        return tn / (tn + fp) if tn + fp else 0.0
    if average != "weighted":
        raise ValueError("average must be 'binary' or 'weighted'")
    counts = df.groupBy(F.col(label).alias("y"),
                        F.col(pred).alias("p")).count().collect()
    n = sum(r["count"] for r in counts)
    class_n = {}
    for r in counts:
        class_n[r.y] = class_n.get(r.y, 0) + r["count"]
    out = 0.0
    for c, nc in class_n.items():
        fp = sum(r["count"] for r in counts if r.y != c and r.p == c)
        tn = sum(r["count"] for r in counts if r.y != c and r.p != c)
        spec = tn / (tn + fp) if tn + fp else 0.0
        out += spec * (nc / n)
    return out


def regression_scores(df: DataFrame, label: str = "label",
                      pred: str = "prediction") -> dict:
    """Every regression metric from ONE aggregation scan — the shape of
    the reference's evaluation-results table (``owtestandscore.py`` shows
    all scores at once; ``Orange/evaluation/scoring.py`` computes each
    from the same residuals).  The per-metric functions above each run
    their own action: fine interactively, but a scoring table built from
    them scans the test split once per metric — at 100 TB that is five
    full reads where one suffices.  Returns
    ``{mse, rmse, mae, mape, smape, cvrmse, r2}``."""
    import math

    y, p = F.col(label), F.col(pred)
    sdenom = F.abs(y) + F.abs(p)
    sterm = F.abs(y - p) / F.when(sdenom == 0, F.lit(1.0)).otherwise(sdenom)
    r = df.agg(
        F.avg(F.pow(y - p, 2)).alias("mse"),
        F.avg(F.abs(y - p)).alias("mae"),
        F.avg(F.abs(F.try_divide(y - p, y))).alias("mape_m"),
        F.sum((y == 0).cast("long")).alias("zeros"),
        F.avg(sterm).alias("smape_m"),
        F.avg(y).alias("mean"),
        F.var_pop(y).alias("v"),
    ).first()
    rmse_v = math.sqrt(r.mse)
    return {
        "mse": float(r.mse), "rmse": rmse_v,
        "mae": float(r.mae),
        "mape": float("inf") if r.zeros else float(r.mape_m) * 100.0,
        "smape": 2.0 * float(r.smape_m) * 100.0,
        "cvrmse": (rmse_v / r.mean * 100.0
                   if r.mean is not None and abs(r.mean) >= 1e-10
                   else float("nan")),
        "r2": 1.0 - r.mse / r.v if r.v else float("nan"),
    }


def classification_scores(df: DataFrame, positive=1, label: str = "label",
                          pred: str = "prediction",
                          prob: Optional[str] = None, *,
                          eps: float = 1e-15) -> dict:
    """Every binary classification metric from ONE aggregation scan
    (same rationale as :func:`regression_scores`).  Returns
    ``{ca, precision, recall, f1, mcc, specificity}`` plus ``logloss``
    when a probability column is given."""
    import math

    y, p = F.col(label), F.col(pred)
    aggs = [
        F.avg((y == p).cast("double")).alias("ca"),
        F.sum(((y == positive) & (p == positive)).cast("long")).alias("tp"),
        F.sum(((y != positive) & (p == positive)).cast("long")).alias("fp"),
        F.sum(((y == positive) & (p != positive)).cast("long")).alias("fn"),
        F.sum(((y != positive) & (p != positive)).cast("long")).alias("tn"),
    ]
    if prob is not None:
        pr = F.least(F.lit(1.0 - eps), F.greatest(F.lit(eps), F.col(prob)))
        yd = y.cast("double")
        aggs.append(F.avg(-(yd * F.log(pr)
                            + (1.0 - yd) * F.log(1.0 - pr))).alias("ll"))
    r = df.agg(*aggs).first()
    tp, fp, fn, tn = int(r.tp), int(r.fp), int(r.fn), int(r.tn)
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    denom = math.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    out = {
        "ca": float(r.ca),
        "precision": prec, "recall": rec,
        "f1": 2 * prec * rec / (prec + rec) if prec + rec else 0.0,
        "mcc": ((tp * tn - fp * fn) / denom) if denom else 0.0,
        "specificity": tn / (tn + fp) if tn + fp else 0.0,
    }
    if prob is not None:
        out["logloss"] = float(r.ll)
    return out


# ------------------------------------------------------- validation schemes

def cross_validate_feature(df: DataFrame, feature: str,
                           fit: Callable[[DataFrame], object],
                           score: Callable[[DataFrame], float],
                           *, max_folds: int = 100) -> list[tuple]:
    """CrossValidationFeature (testing.py:610-636): one fold per distinct
    value of ``feature`` — test on that value's rows, train on every other
    non-NULL value.  Returns ``[(value, score), ...]`` ordered by value.
    A distinct probe bounds the fold count (each fold is a full fit)."""
    values = sorted(
        r[0] for r in df.select(feature).distinct().collect()
        if r[0] is not None)
    if len(values) < 2:
        raise ValueError(
            f"'{feature}' does not have at least two distinct values")
    if len(values) > max_folds:
        raise ValueError(
            f"{len(values)} folds (one model fit each) > {max_folds}; "
            "discretize the feature first")
    out = []
    nn = df.filter(F.col(feature).isNotNull())
    for v in values:
        train = nn.filter(F.col(feature) != F.lit(v))
        test = nn.filter(F.col(feature) == F.lit(v))
        out.append((v, score(fit(train).predict(test))))
    return out


def shuffle_split(df: DataFrame, key: str,
                  fit: Callable[[DataFrame], object],
                  score: Callable[[DataFrame], float],
                  *, n_resamples: int = 10, test_size: float = 0.1,
                  salt: str = "") -> list[float]:
    """Repeated random sub-sampling (testing.py:654-710), deterministic:
    resample i uses the content-hash split with salt ``f"{salt}:{i}"``, so
    every repetition is a pure function of (data, salt) — reproducible
    across partitionings where seeded shuffles are not."""
    out = []
    for i in range(n_resamples):
        train, test = train_test_split(df, key, test_size, salt=f"{salt}:{i}")
        model = fit(train)
        out.append(score(model.predict(test)))
    return out


def shuffle_split_ols(df: DataFrame, key: str, features: Sequence[str],
                      target: str, *, n_resamples: int = 10,
                      test_size: float = 0.1, salt: str = "") -> list[float]:
    """ShuffleSplit of OLS in ONE distributed scan — the ``cv_ols`` moment
    trick adapted to OVERLAPPING resamples: every row belongs to all
    ``n_resamples`` splits, so the scan explodes each row into n tagged
    copies (map-side combined; shuffle volume is 2n·p² scalars, never
    rows) and aggregates the augmented moments by (resample, is_test).
    The driver then solves each resample's normal equations from its
    train moments and evaluates held-out RMSE from its test moments
    (RSS = Σy² − 2β·v + β'Mβ).  Replaces 2n full passes (n fits + n
    scorings) of the generic ``shuffle_split`` for the linear case —
    r3's bench measured 7.6 s for the generic loop vs one aggregation.
    Splits are identical to ``train_test_split(salt=f"{salt}:{i}")``.
    Returns the per-resample RMSE list, index-ordered."""
    import numpy as np

    p = len(features)
    thr = format(int(test_size * 0xFFFFFFFF), "08x")
    data = df.na.drop(subset=[*features, target])
    rs = F.explode(F.array(*[F.lit(i) for i in range(n_resamples)]))
    tagged = data.withColumn("_rs", rs)
    h = F.substring(F.md5(F.concat(F.col(key).cast("string"), F.lit(salt),
                                   F.lit(":"), F.col("_rs").cast("string"))),
                    1, 8)
    tagged = tagged.withColumn("_is_test", h < F.lit(thr))
    z = [F.lit(1.0)] + [F.col(c).cast("double") for c in features]
    y = F.col(target).cast("double")
    aggs = [F.count(F.lit(1)).alias("n"), F.sum(y * y).alias("yy")]
    for i in range(p + 1):
        for j in range(i, p + 1):
            aggs.append(F.sum(z[i] * z[j]).alias(f"m_{i}_{j}"))
        aggs.append(F.sum(z[i] * y).alias(f"v_{i}"))
    rows = tagged.groupBy("_rs", "_is_test").agg(*aggs).collect()

    def mom(r):
        M = np.zeros((p + 1, p + 1))
        v = np.zeros(p + 1)
        for i in range(p + 1):
            for j in range(i, p + 1):
                M[i, j] = M[j, i] = r[f"m_{i}_{j}"]
            v[i] = r[f"v_{i}"]
        return M, v, float(r["yy"]), int(r["n"])

    per = {(int(r["_rs"]), bool(r["_is_test"])): mom(r) for r in rows}
    out = []
    for i in range(n_resamples):
        if (i, False) not in per or (i, True) not in per:
            raise ValueError(
                f"shuffle_split_ols: resample {i} has an empty train or "
                "test side — too few rows for this test_size")
        Mtr, vtr, _, _ = per[(i, False)]
        Mte, vte, yyte, nte = per[(i, True)]
        beta = np.linalg.solve(Mtr, vtr)
        rss = yyte - 2.0 * float(beta @ vte) + float(beta @ Mte @ beta)
        out.append(float(np.sqrt(max(rss, 0.0) / nte)))
    return out


#: row bound of :func:`leave_one_out` (one model fit per row)
LOO_MAX_ROWS = 2000


def leave_one_out(df: DataFrame, key: str,
                  fit: Callable[[DataFrame], object],
                  score: Callable[[DataFrame], float]) -> list[float]:
    """Leave-one-out (testing.py:638-652): n fits of size n−1.  Inherently
    O(n) sequential model fits, so it is bounded — LOO on 100 TB is not a
    thing; use ``cross_validate`` (k-fold) or the closed-form leverage
    trick for linear models instead.  Raises above
    :data:`LOO_MAX_ROWS`."""
    tbl = fetch_capped(df.select(key), LOO_MAX_ROWS)
    if tbl is None:
        raise ValueError(
            f"leave_one_out is O(n) model fits; n > {LOO_MAX_ROWS}. "
            "Use cross_validate(k) at scale.")
    keys = arrow_values(tbl.column(0))
    out = []
    for kv in keys:
        train = df.filter(F.col(key) != F.lit(kv))
        test = df.filter(F.col(key) == F.lit(kv))
        model = fit(train)
        out.append(score(model.predict(test)))
    return out


def test_on_test_data(train: DataFrame, test: DataFrame,
                      fit: Callable[[DataFrame], object],
                      score: Callable[[DataFrame], float]) -> float:
    """TestOnTestData (testing.py:712-777): fit on train, score on the
    separately provided test table."""
    return score(fit(train).predict(test))


def test_on_training_data(df: DataFrame,
                          fit: Callable[[DataFrame], object],
                          score: Callable[[DataFrame], float]) -> float:
    """TestOnTrainingData (testing.py:779+): train == test."""
    return test_on_test_data(df, df, fit, score)
