"""Projections beyond PCA: classical MDS and Fisher LDA.

Reference: ``Orange/projection/`` — ``MDS`` (wraps sklearn, driver-local on
a DistMatrix), ``LDA`` (``lda.py``, sklearn LinearDiscriminantAnalysis),
``CUR`` (``cur.py``).

Spark shape:
  * **MDS** — the reference is driver-local already; here the O(n²)
    distance frame is computed distributed, and only the scalar matrix is
    collected for the Torgerson eigensolve (bounded, like hierarchical).
  * **LDA** — the scatter matrices are k×k: ONE distributed aggregation
    pass (per-class counts, means, and second moments), eigensolve on the
    driver, and the projection is a row-local dot product — so LDA scales
    to any row count, unlike the reference.
  * **CUR** — column leverage scores from the (k×k) right singular vectors
    of the covariance eigendecomposition; column *selection* is a driver
    decision, the data is never transposed.
"""

from __future__ import annotations

from typing import Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orange3_spark.session import (arrow_matrix, fetch_capped, fetch_local,
                                   local_frame)
from orange3_spark.stats.distance import pair_matrix, row_distances

MAX_MDS_POINTS = 20_000


def mds(df: DataFrame, id_col: str, cols: Sequence[str], *,
        n_components: int = 2, metric: str = "euclidean") -> DataFrame:
    """Classical (Torgerson) MDS: distributed pair distances → driver
    double-centering + eigensolve → ``(id, mds1..mdsd)``.

    Sign convention: each eigenvector's largest-|.|-component is made
    positive so the embedding is deterministic.
    """
    import numpy as np
    import pyarrow.compute as pc

    pairs = row_distances(df, id_col, cols, metric=metric)
    cap = MAX_MDS_POINTS * (MAX_MDS_POINTS - 1) // 2
    tbl = fetch_capped(pairs, cap)
    if tbl is None:
        raise ValueError(f"more than {cap} pair rows exceeds the "
                         f"MAX_MDS_POINTS={MAX_MDS_POINTS} bound; sample first")
    # squared per pair with C pow (Arrow's power kernel), not numpy's
    # x*x: the two round apart on about 1 value in 3000
    ids, D2 = pair_matrix(
        tbl.set_column(2, "dist", pc.power(tbl.column(2), 2)), 0.0)
    n = len(ids)
    if n > MAX_MDS_POINTS:
        raise ValueError(f"{n} points exceeds MAX_MDS_POINTS; sample first")
    J = np.eye(n) - np.ones((n, n)) / n
    B = -0.5 * J @ D2 @ J
    w, v = np.linalg.eigh(B)
    order = np.argsort(w)[::-1][:n_components]
    coords = v[:, order] * np.sqrt(np.maximum(w[order], 0.0))
    for c in range(coords.shape[1]):
        if coords[np.argmax(np.abs(coords[:, c])), c] < 0:
            coords[:, c] = -coords[:, c]
    spark = df.sparkSession
    out = [(ids[i], *[float(x) for x in coords[i]]) for i in range(n)]
    schema = (f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
              + ", ".join(f"mds{c + 1} double"
                          for c in range(coords.shape[1])))
    return local_frame(spark, out, schema)


def _class_moments(df: DataFrame, cols: Sequence[str], class_col: str):
    """Per-class n, means, and second moments in ONE aggregation pass."""
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    aggs += [F.avg(c).alias(f"m_{c}") for c in cols]
    aggs += [F.avg(F.col(a).cast("double") * F.col(b).cast("double"))
             .alias(f"e_{i}_{j}")
             for i, a in enumerate(cols) for j, b in enumerate(cols)
             if i <= j]
    return df.groupBy(class_col).agg(*aggs).collect()


def lda_fit(df: DataFrame, cols: Sequence[str], class_col: str, *,
            n_components: int = 2):
    """Fisher discriminant directions from one distributed moment pass.

    Returns ``(components, class_order)`` where components is a
    ``n_components × k`` list of projection vectors (deterministic sign:
    largest-|.| entry positive).
    """
    import numpy as np

    rows = _class_moments(df, cols, class_col)
    k = len(cols)
    N = sum(r["n"] for r in rows)
    mu = np.zeros(k)
    for r in rows:
        mu += r["n"] * np.array([r[f"m_{c}"] for c in cols])
    mu /= N
    Sw = np.zeros((k, k))
    Sb = np.zeros((k, k))
    for r in rows:
        m_c = np.array([r[f"m_{c}"] for c in cols])
        cov = np.zeros((k, k))
        for i in range(k):
            for j in range(i, k):
                cov[i, j] = cov[j, i] = r[f"e_{i}_{j}"] - m_c[i] * m_c[j]
        Sw += r["n"] * cov
        d = (m_c - mu)[:, None]
        Sb += r["n"] * (d @ d.T)
    # symmetric generalized eigenproblem via pinv — k×k, driver-trivial
    w, v = np.linalg.eig(np.linalg.pinv(Sw) @ Sb)
    order = np.argsort(-np.real(w))[:n_components]
    comps = np.real(v[:, order]).T
    for c in range(comps.shape[0]):
        if comps[c, np.argmax(np.abs(comps[c]))] < 0:
            comps[c] = -comps[c]
    classes = sorted(r[class_col] for r in rows)
    return comps.tolist(), classes


def lda_transform(df: DataFrame, cols: Sequence[str], components,
                  *, prefix: str = "lda") -> DataFrame:
    """Project rows onto the discriminant directions — row-local dot
    products, pure codegen."""
    out = df
    for c, vec in enumerate(components):
        expr = sum((F.col(col).cast("double") * F.lit(float(vi))
                    for col, vi in zip(cols[1:], vec[1:])),
                   F.col(cols[0]).cast("double") * F.lit(float(vec[0])))
        out = out.withColumn(f"{prefix}{c + 1}", expr)
    return out


def cur_column_leverage(df: DataFrame, cols: Sequence[str], *,
                        rank: int = 2) -> list[tuple[str, float]]:
    """CUR column leverage scores (reference ``projection/cur.py``): the
    top-``rank`` right singular vectors of the RAW data matrix give each
    column's leverage ``(1/r)·Σ v_ij²``.  Right singular vectors are the
    eigenvectors of the k×k UNCENTERED second-moment matrix ``E[ab]``
    (matching the reference's ``sla.svds(X, rank)`` on the raw matrix — no
    mean subtraction), so one aggregation pass + a driver eigensolve
    suffice: no transpose, no row-space work."""
    import numpy as np

    aggs = [F.avg(F.col(a).cast("double") * F.col(b).cast("double"))
            .alias(f"e_{i}_{j}")
            for i, a in enumerate(cols) for j, b in enumerate(cols) if i <= j]
    r = df.agg(*aggs).first()
    k = len(cols)
    mom = np.zeros((k, k))
    for i in range(k):
        for j in range(i, k):
            mom[i, j] = mom[j, i] = r[f"e_{i}_{j}"]
    w, v = np.linalg.eigh(mom)
    top = v[:, np.argsort(w)[::-1][:rank]]
    lev = (top ** 2).sum(axis=1) / rank
    return sorted(zip(cols, lev.tolist()), key=lambda t: -t[1])


def fisher_criterion(df: DataFrame, cols: Sequence[str],
                     class_col: str) -> float:
    """Fisher criterion ``J(w) = (wᵀΔμ)² / (wᵀ S_w w)`` of the top LDA
    direction for a BINARY class — at the optimum this equals
    ``Δμᵀ S_w⁻¹ Δμ``, a closed form an SQL oracle can reproduce with a k×k
    inverse.  ``J`` is invariant to the eigensolver's scale/sign, and
    stationarity at the optimum makes it second-order-insensitive to
    eigenvector error — the right projection of LDA to verify exactly."""
    import numpy as np

    rows = _class_moments(df, cols, class_col)
    if len(rows) != 2:
        raise ValueError("fisher_criterion needs a binary class")
    rows = sorted(rows, key=lambda r: r[class_col])
    k = len(cols)
    Sw = np.zeros((k, k))
    mus = []
    for r in rows:
        m_c = np.array([r[f"m_{c}"] for c in cols])
        mus.append(m_c)
        cov = np.zeros((k, k))
        for i in range(k):
            for j in range(i, k):
                cov[i, j] = cov[j, i] = r[f"e_{i}_{j}"] - m_c[i] * m_c[j]
        Sw += r["n"] * cov
    dmu = mus[1] - mus[0]
    w = np.linalg.pinv(Sw) @ dmu          # the top Fisher direction
    num = float(w @ dmu) ** 2
    den = float(w @ Sw @ w)
    return num / den if den else 0.0


# ---------------------------------------------------------------- RadViz

def radviz(df: DataFrame, cols: Sequence[str], *,
           prefix: str = "radviz") -> DataFrame:
    """RadViz projection (``Orange/projection/radviz.py:13-52``): place one
    anchor per feature evenly on the unit circle, span-normalize each
    feature to [0, 1], and project every row to the convex combination
    Σ aⱼ·vⱼ / Σ vⱼ (0 when the row sums to 0).

    Fully distributed: ONE min/max aggregate for the spans, then a
    row-local codegen expression — no sample, no driver math, scales to
    any row count."""
    import math

    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max")]
    st = df.agg(*aggs).first()
    p = len(cols)
    anchors = [(math.cos(2 * math.pi * j / p), math.sin(2 * math.pi * j / p))
               for j in range(p)]
    normed = []
    for c in cols:
        lo, hi = st[f"{c}__min"], st[f"{c}__max"]
        span = (hi - lo) if (hi is not None and lo is not None
                            and hi != lo) else 1.0
        normed.append((F.col(c) - F.lit(float(lo or 0.0))) / F.lit(float(span)))
    s = normed[0]
    for v in normed[1:]:
        s = s + v
    x = sum((F.lit(a[0]) * v for a, v in zip(anchors[1:], normed[1:])),
            F.lit(anchors[0][0]) * normed[0])
    y = sum((F.lit(a[1]) * v for a, v in zip(anchors[1:], normed[1:])),
            F.lit(anchors[0][1]) * normed[0])
    zero = F.lit(0.0)

    def proj(num):
        # s NULL (some feature missing) must stay NULL — only the genuine
        # all-at-minimum s == 0 case maps to the origin; a blanket coalesce
        # would plot missing-data rows at (0, 0)
        return F.when(s.isNull(), F.lit(None).cast("double")).otherwise(
            F.coalesce(F.try_divide(num, F.nullif(s, zero)), zero))

    return (df.withColumn(f"{prefix}_x", proj(x))
              .withColumn(f"{prefix}_y", proj(y)))


# --------------------------------------------------------------- FreeViz

MAX_FREEVIZ_POINTS = 5_000


def freeviz_fit(df: DataFrame, cols: Sequence[str], class_col: str, *,
                p: int = 1, maxiter: int = 200, alpha: float = 0.1,
                atol: float = 1e-5, discrete_class: bool = True):
    """FreeViz anchor optimization (``Orange/projection/freeviz.py:15-383``,
    Demšar et al. 2005): gradient descent on pairwise attract/repel forces.
    The force field is O(n²) in the fitted points, so the FIT runs on the
    driver over at most :data:`MAX_FREEVIZ_POINTS` fitted rows (fetched
    with that cap; more raise — same posture as the reference, which is
    wholly in-memory); the learned
    (P×2) anchor matrix then projects ANY amount of data row-locally via
    ``freeviz_transform``.  Deterministic: radial anchor init
    (``init_radial``), no RNG.

    Returns ``(components, center, scale)`` — P×2 list, per-col means, SDs.
    """
    import numpy as np

    tbl = fetch_capped(df.select(*cols, class_col).dropna(),
                       MAX_FREEVIZ_POINTS)
    if tbl is None:
        raise ValueError(
            f"freeviz_fit is O(n²) in fitted rows; n > {MAX_FREEVIZ_POINTS}. "
            "Fit on a sample (operators.sample.sample_fixed) and project "
            "the full table with freeviz_transform.")
    # canonical row order (fetch order is a partitioning artifact), so
    # the float ops below match the oracle replay's
    rows = sorted(zip(*(c.to_pylist() for c in tbl.columns)))
    X = np.array([[float(v) for v in r[:-1]] for r in rows])
    yv = [r[-1] for r in rows]
    return fit_freeviz_matrix(X, yv, p=p, maxiter=maxiter, alpha=alpha,
                              atol=atol, discrete_class=discrete_class)


def fit_freeviz_matrix(X, yv, *, p: int = 1, maxiter: int = 200,
                       alpha: float = 0.1, atol: float = 1e-5,
                       discrete_class: bool = True):
    """FreeViz gradient fit on matrix ``X`` with class list ``yv`` — pure
    deterministic numpy (radial init, no RNG), shared verbatim by the
    Spark entry point and the oracle replay
    (plans/oracle_replay.freeviz_oracle)."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    if discrete_class:
        classes = {v: i for i, v in enumerate(dict.fromkeys(yv))}
        y = np.array([classes[v] for v in yv], dtype=float)
    else:
        y = np.array([float(v) for v in yv])
    N, P = X.shape
    center = X.mean(axis=0)
    scale = X.std(axis=0)
    X = X - center
    nz = np.abs(scale) > 1e-12
    X[:, nz] /= scale[nz]

    # deterministic radial init (freeviz.py:init_radial)
    ang = np.linspace(0, 2 * np.pi, P, endpoint=False)
    A = np.stack([np.cos(ang), np.sin(ang)], axis=1)

    eps = np.finfo(float).eps * 100
    E = X @ A
    for _ in range(maxiter):
        diff = E[:, None, :] - E[None, :, :]          # e_i − e_j
        D = np.sqrt((diff ** 2).sum(axis=2))
        np.fill_diagonal(D, 1.0)
        if discrete_class:
            same = y[:, None] == y[None, :]
            Fm = np.where(same, -(D ** p), 1.0 / np.where(D > eps, D ** p, 1.0))
            Fm[~same & (D <= eps)] = 0.0
        else:
            ydist = (y[:, None] - y[None, :]) ** 2
            Fm = ydist / np.where(D > eps, D ** p, 1.0)
        np.fill_diagonal(Fm, 0.0)
        unit = diff / D[:, :, None]
        force_on = (unit * Fm[:, :, None]).sum(axis=0)  # Σ_i on each j
        G = X.T @ force_on
        with np.errstate(divide="ignore"):
            step = np.min(np.linalg.norm(A, axis=1)
                          / np.linalg.norm(G, axis=1))
        if not np.isfinite(step):
            break
        Anew = A - alpha * step * G
        Anew -= Anew.mean(axis=0)
        maxr = np.linalg.norm(Anew, axis=1).max()
        if maxr >= 0.001:
            Anew /= maxr
        if np.allclose(np.linalg.norm(Anew - A, axis=1), 0, atol=atol):
            A = Anew
            break
        A = Anew
        E = X @ A
    # rotate so the first anchor aligns with (1, 0) (freeviz.py:_rotate)
    phi = np.arctan2(A[0, 1], A[0, 0])
    R = np.array([[np.cos(-phi), np.sin(-phi)],
                  [-np.sin(-phi), np.cos(-phi)]])
    A = A @ R
    return A.tolist(), center.tolist(), scale.tolist()


def freeviz_transform(df: DataFrame, cols: Sequence[str], components,
                      center, scale, *, prefix: str = "freeviz") -> DataFrame:
    """Apply learned FreeViz anchors distributively: two row-local linear
    combinations over standardized features (codegen, no shuffle)."""
    terms_x, terms_y = [], []
    for j, c in enumerate(cols):
        sd = scale[j] if abs(scale[j]) > 1e-12 else 1.0
        v = (F.col(c) - F.lit(float(center[j]))) / F.lit(float(sd))
        terms_x.append(v * F.lit(float(components[j][0])))
        terms_y.append(v * F.lit(float(components[j][1])))
    return (df.withColumn(f"{prefix}_x", sum(terms_x[1:], terms_x[0]))
              .withColumn(f"{prefix}_y", sum(terms_y[1:], terms_y[0])))


def freeviz(df: DataFrame, cols: Sequence[str], class_col: str,
            **kw) -> DataFrame:
    """Fit on the (bounded) table, project it distributively."""
    comps, center, scale = freeviz_fit(df, cols, class_col, **kw)
    return freeviz_transform(df, cols, comps, center, scale)


# ----------------------------------------------------------------- t-SNE

def _id_sorted_matrix(tbl):
    """``(ids, X)`` of a fetched ``(id, array)`` or ``(id, col…)`` table,
    ``X`` float64, rows in stable id order: fetch order is a property of
    the scan, so this is what lets the oracle replay the embedding."""
    import numpy as np
    import pyarrow as pa

    tbl = tbl.sort_by(tbl.column_names[0])      # a stable sort
    if pa.types.is_list(tbl.column(1).type):
        X = arrow_matrix(tbl.column(1), np.float64)
    else:
        X = np.column_stack([c.to_numpy().astype(np.float64)
                             for c in tbl.columns[1:]])
    return tbl.column(0).to_pylist(), X


MAX_TSNE_POINTS = 2_000


def tsne(df: DataFrame, id_col: str, cols: Sequence[str] = (), *,
         array_col: str | None = None, perplexity: float = 30.0,
         n_iter: int = 300, learning_rate: float = 200.0) -> DataFrame:
    """Exact t-SNE (van der Maaten & Hinton 2008) on a bounded table —
    the reference wraps openTSNE (``Orange/projection/manifold.py``),
    driver-side in-memory too.  O(n²) affinities mean t-SNE is a
    VISUALIZATION of a sample, never a 100 TB op: the fetch of at most
    :data:`MAX_TSNE_POINTS` embedded rows forces that contract explicitly
    (sample upstream, then embed).

    Deterministic: PCA initialization (no RNG), fixed iteration schedule
    (early exaggeration 12× for the first quarter, momentum 0.5→0.8).
    Returns ``(id, tsne_x, tsne_y)``.
    """
    sel = df.select(id_col, *([array_col] if array_col is not None
                              else cols))
    tbl = fetch_capped(sel.dropna(), MAX_TSNE_POINTS)
    if tbl is None:
        raise ValueError(
            f"tsne is O(n²); n > {MAX_TSNE_POINTS}. Sample first "
            "(operators.sample.sample_fixed) and embed the sample.")
    ids, X = _id_sorted_matrix(tbl)
    Y = fit_tsne_matrix(X, perplexity=perplexity, n_iter=n_iter,
                        learning_rate=learning_rate)

    spark = df.sparkSession
    dt = df.schema[id_col].dataType.simpleString()
    return local_frame(
        spark, [(i, float(y0), float(y1)) for i, (y0, y1) in zip(ids, Y)],
        f"{id_col} {dt}, tsne_x double, tsne_y double")


def fit_tsne_matrix(X, *, perplexity: float = 30.0, n_iter: int = 300,
                    learning_rate: float = 200.0):
    """Exact t-SNE on matrix ``X`` — pure deterministic numpy (PCA init,
    fixed schedule, no RNG), shared verbatim by the Spark entry point and
    the oracle replay (plans/oracle_replay.tsne_oracle)."""
    import numpy as np

    N = X.shape[0]
    X = X - X.mean(axis=0)
    sd = X.std(axis=0)
    X[:, np.abs(sd) > 1e-12] /= sd[np.abs(sd) > 1e-12]

    # pairwise squared distances + per-point perplexity calibration
    sq = ((X[:, None, :] - X[None, :, :]) ** 2).sum(axis=2)
    Pm = np.zeros((N, N))
    target = np.log(min(perplexity, (N - 1) / 3.0))
    for i in range(N):
        lo, hi, beta = 1e-20, 1e20, 1.0
        di = np.delete(sq[i], i)
        for _ in range(50):
            ex = np.exp(-di * beta)
            s = ex.sum()
            if s <= 0:
                h = 0.0
            else:
                pr = ex / s
                h = -(pr * np.log(np.maximum(pr, 1e-12))).sum()
            if abs(h - target) < 1e-5:
                break
            if h > target:
                lo = beta
                beta = beta * 2 if hi >= 1e20 else (beta + hi) / 2
            else:
                hi = beta
                beta = beta / 2 if lo <= 1e-20 else (beta + lo) / 2
        ex = np.exp(-sq[i] * beta)
        ex[i] = 0.0
        Pm[i] = ex / max(ex.sum(), 1e-12)
    Pm = (Pm + Pm.T) / (2 * N)
    Pm = np.maximum(Pm, 1e-12)

    # deterministic PCA init scaled to 1e-4 (standard t-SNE practice)
    u, s, vt = np.linalg.svd(X, full_matrices=False)
    Y = (u[:, :2] * s[:2]) * (1e-4 / max(np.abs(u[:, :2] * s[:2]).max(), 1e-12))
    gains = np.ones_like(Y)
    inc = np.zeros_like(Y)
    exag_until = max(50, n_iter // 4)
    for it in range(n_iter):
        Pe = Pm * 12.0 if it < exag_until else Pm
        num = 1.0 / (1.0 + ((Y[:, None, :] - Y[None, :, :]) ** 2).sum(axis=2))
        np.fill_diagonal(num, 0.0)
        Q = np.maximum(num / num.sum(), 1e-12)
        PQ = (Pe - Q) * num
        grad = 4.0 * ((np.diag(PQ.sum(axis=1)) - PQ) @ Y)
        momentum = 0.5 if it < exag_until else 0.8
        gains = np.where(np.sign(grad) != np.sign(inc),
                         gains + 0.2, gains * 0.8)
        gains = np.maximum(gains, 0.01)
        inc = momentum * inc - learning_rate * gains * grad
        Y = Y + inc
        Y = Y - Y.mean(axis=0)
    return Y


# ------------------------------------------------------------------- SOM

#: Fixed-point scale for the SOM's cross-partition accumulators.  Every
#: quantity summed ACROSS partitions (Gram matrix, per-unit sums, counts)
#: is an integer in this scale, so the driver combine is exact and the
#: fitted grid is a pure function of the data — independent of
#: partitioning, batch sizes and combine order.  That is what lets
#: fit_som_matrix (the oracle replay twin) reproduce the fit bit for bit.
SOM_QSCALE = 1_000_000.0


def _som_units(dim_x: int, dim_y: int):
    import numpy as np

    gy, gx = np.mgrid[0:dim_y, 0:dim_x]
    return np.stack([gy.ravel(), gx.ravel()], axis=1)


def _som_guard(gn: int, qmax: int) -> None:
    if gn > 0 and gn * (qmax * qmax) >= 2 ** 62:
        raise ValueError(
            f"som: quantized Gram sum may overflow int64 "
            f"(n={gn}, max|q|={qmax}); lower SOM_QSCALE or sample")


def _som_init(gn: int, s, g, dim_x: int, dim_y: int):
    """PCA-plane grid init from EXACT integer sufficient statistics
    (quantized-space Σq and ΣqqT); returns the (dim_y, dim_x, P) grid in
    RAW feature space.  Shared by the Spark fit and the replay."""
    import numpy as np

    s = np.asarray(s, dtype=np.float64)
    g = np.asarray(g, dtype=np.float64)
    P = s.shape[0]
    mean_q = s / gn
    cov_q = g / gn - np.outer(mean_q, mean_q)
    w_eig, v_eig = np.linalg.eigh(cov_q)
    order = np.argsort(w_eig)[::-1]
    comps = []
    for ci in order[:min(2, P)]:
        c = v_eig[:, ci]
        if c[np.argmax(np.abs(c))] < 0:
            c = -c
        comps.append(c)
    pc0 = np.asarray(comps[0])
    pc1 = np.asarray(comps[1]) if len(comps) > 1 else np.zeros(P)
    W = np.empty((dim_y, dim_x, P))
    for i, c1 in enumerate(np.linspace(-1, 1, dim_y)):
        for j, c2 in enumerate(np.linspace(-1, 1, dim_x)):
            W[i, j] = c1 * pc0 + c2 * pc1
    norms = (W ** 2).sum(axis=2)
    norms[norms == 0] = 1
    W /= norms[:, :, None]
    return W


def _som_step(Wf, cnt, S, it: int, n_iterations: int, sigma: float, units):
    """One batch-SOM grid update from EXACT integer per-unit statistics
    (counts + quantized coordinate sums).  Shared by both fit paths."""
    import numpy as np

    decay = 1 + it / (n_iterations / 2)
    sig = sigma / decay
    cnt = np.asarray(cnt, dtype=np.float64)
    S_raw = np.asarray(S, dtype=np.float64) / SOM_QSCALE
    d2 = ((units[:, None, :] - units[None, :, :]) ** 2).sum(axis=2)
    H = np.exp(-d2 / (2 * sig * sig))
    num = H @ S_raw
    den = (H @ cnt)[:, None]
    upd = den[:, 0] > 0
    Wf = Wf.copy()
    Wf[upd] = num[upd] / den[upd]
    return Wf


def _som_bmu(X, Wf):
    """Best-matching unit per row — row-local, batch-size-independent
    (pairwise sum over the fixed feature axis, ties → lowest unit)."""
    import numpy as np

    d = ((X[:, None, :] - Wf[None, :, :]) ** 2).sum(axis=2)
    return np.argmin(d, axis=1)


def fit_som_matrix(X, *, dim_x: int = 8, dim_y: int = 8,
                   n_iterations: int = 20, sigma: float = 1.0):
    """Local twin of :func:`som_fit` on a full matrix — identical integer
    statistics, identical driver math — used by the oracle replay
    (plans/oracle_replay.som_oracle) to reproduce the distributed fit
    bit for bit."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    n, P = X.shape
    Xq = np.floor(X * SOM_QSCALE + 0.5).astype(np.int64)
    _som_guard(n, int(np.abs(Xq).max()) if n else 0)
    W = _som_init(n, Xq.sum(axis=0), Xq.T @ Xq, dim_x, dim_y)
    units = _som_units(dim_x, dim_y)
    U = units.shape[0]
    for it in range(n_iterations):
        Wf = W.reshape(-1, P)
        u = _som_bmu(X, Wf)
        cnt = np.zeros(U, dtype=np.int64)
        S = np.zeros((U, P), dtype=np.int64)
        np.add.at(cnt, u, 1)
        np.add.at(S, u, Xq)
        W = _som_step(Wf, cnt, S, it, n_iterations, sigma,
                      units).reshape(dim_y, dim_x, P)
    return W.tolist()


def som_fit(df: DataFrame, cols: Sequence[str] = (), *,
            array_col: str | None = None, dim_x: int = 8, dim_y: int = 8,
            n_iterations: int = 20, sigma: float = 1.0):
    """Self-organizing map, BATCH formulation (Kohonen 1990; the reference
    wraps an online per-sample Cython kernel, ``Orange/projection/som.py:9-96``
    — inherently sequential, so the engine uses the equivalent batch SOM:
    each iteration assigns every row to its best-matching unit in ONE scan,
    aggregates per-unit sums map-side, and recombines them on the driver
    with the Gaussian grid neighborhood).  Grid state is dim_y×dim_x×P
    floats — driver-sized regardless of row count.

    Deterministic: PCA-plane init (som.py:init_weights_pca), σ decays as
    1/(1 + t/(T/2)) like the reference's ``fit``.  Returns the
    (dim_y, dim_x, P) weight grid as nested lists."""
    import numpy as np

    if array_col is not None:
        feat = F.col(array_col).cast("array<double>")
        probe = df.select(F.size(feat).alias("p")).first()
        P = int(probe.p)
        vec = feat
    else:
        P = len(cols)
        vec = F.array(*[F.col(c).cast("double") for c in cols])
    # ONE array column end-to-end: no P-wide column extraction (a per-dim
    # getItem fan-out re-casts the array P times and blows up codegen at
    # high dim), and every pass below ships a single Arrow list column.
    pre = (df.select(vec.alias("_arr"))
             .filter(F.col("_arr").isNotNull()
                     & (F.size("_arr") == P)
                     & ~F.exists("_arr", lambda x: x.isNull() | F.isnan(x))))
    # Bounded local twin: fetch the validated rows once and run
    # fit_som_matrix — the ORACLE'S OWN local twin, which reproduces the
    # grid bit for bit from a fetch in ANY row order (all cross-partition
    # statistics are exact quantized integers).  The n_iterations scans
    # collapse into one fetch; a 100 TB fit keeps the distributed loop.
    tbl = fetch_local(pre, width=P)
    if tbl is not None:
        if not tbl.num_rows:
            raise ValueError("som_fit: no complete rows")
        return fit_som_matrix(arrow_matrix(tbl.column("_arr"), np.float64),
                              dim_x=dim_x, dim_y=dim_y,
                              n_iterations=n_iterations, sigma=sigma)
    # Materialize via cache, NOT localCheckpoint: eager localCheckpoint of
    # this plan wedges on Spark 4.1 (count/collect/cache ran in <1 s, the
    # checkpoint hung for minutes).
    pre = pre.cache()
    n = pre.count()
    # each iteration is one scan; right-size partitions so a small fit
    # isn't n_iterations×parallelism scheduler round-trips, while big data
    # keeps full parallelism
    parts = max(1, min(df.sparkSession.sparkContext.defaultParallelism,
                       n // 50_000 + 1))
    if parts < pre.rdd.getNumPartitions():
        data = pre.coalesce(parts).cache()
        data.count()
        pre.unpersist()  # coalesced cache is live; drop the wide one
    else:
        data = pre

    try:
        def _stack(series: pd.Series) -> "np.ndarray":
            return np.stack(series.to_numpy())

        def _quant(X):
            return np.floor(X * SOM_QSCALE + 0.5).astype(np.int64)

        # PCA-plane init from one partial-Gram scan (the som.py
        # init_weights_pca analogue): per batch n/Σq/qᵀq in EXACT int64
        # (quantized fixed point), driver eigensolve — the cross-partition
        # combine is integer addition, so the init (and everything
        # downstream) is independent of partitioning and combine order
        def _gram(batches):
            gn, qmax = 0, 0
            s = np.zeros(P, dtype=np.int64)
            g = np.zeros((P, P), dtype=np.int64)
            for pdf in batches:
                Xq = _quant(_stack(pdf["_arr"]))
                gn += Xq.shape[0]
                if Xq.size:
                    qmax = max(qmax, int(np.abs(Xq).max()))
                s += Xq.sum(axis=0)
                g += Xq.T @ Xq
            yield pd.DataFrame({"n": [gn], "qmax": [qmax],
                                "s": [s.tolist()],
                                "g": [g.ravel().tolist()]})

        gparts = data.mapInPandas(
            _gram, "n long, qmax long, s array<long>, g array<long>"
        ).collect()
        gn = sum(r["n"] for r in gparts)
        _som_guard(gn, max((int(r["qmax"]) for r in gparts), default=0))
        s = np.sum([np.asarray(r["s"], dtype=np.int64) for r in gparts],
                   axis=0)
        g = np.sum([np.asarray(r["g"], dtype=np.int64).reshape(P, P)
                    for r in gparts], axis=0)
        W = _som_init(gn, s, g, dim_x, dim_y)

        units = _som_units(dim_x, dim_y)                     # (U, 2)
        U = units.shape[0]

        for it in range(n_iterations):
            Wf = W.reshape(-1, P)                            # (U, P)

            # ONE mapInPandas scan per iteration: assign each batch to its
            # best-matching unit AND accumulate per-unit partial sums
            # locally (U×P int64 per partition, quantized-exact) — no
            # shuffle, the driver combine is exact integer addition
            def _iter_stats(batches, Wf=Wf):
                S = np.zeros((U, P), dtype=np.int64)
                cnt = np.zeros(U, dtype=np.int64)
                for pdf in batches:
                    X = _stack(pdf["_arr"])
                    u = _som_bmu(X, Wf)
                    np.add.at(cnt, u, 1)
                    np.add.at(S, u, _quant(X))
                yield pd.DataFrame({"cnt": [cnt.tolist()],
                                    "s": [S.ravel().tolist()]})

            stats = data.mapInPandas(
                _iter_stats, "cnt array<long>, s array<long>").collect()
            S = np.sum([np.asarray(r["s"], dtype=np.int64).reshape(U, P)
                        for r in stats], axis=0)
            Ncnt = np.sum([np.asarray(r["cnt"], dtype=np.int64)
                           for r in stats], axis=0)
            W = _som_step(Wf, Ncnt, S, it, n_iterations, sigma,
                          units).reshape(dim_y, dim_x, P)
        return W.tolist()
    finally:
        data.unpersist()


def som(df: DataFrame, cols: Sequence[str] = (), *,
        array_col: str | None = None, dim_x: int = 8, dim_y: int = 8,
        n_iterations: int = 20, sigma: float = 1.0,
        prefix: str = "som") -> DataFrame:
    """Fit a batch SOM, then add the winning unit's grid coordinates
    (``som_x``, ``som_y``) to every row — the reference's ``winners``
    surface (som.py:98-108) as one more Arrow-batched scan."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    W = np.asarray(som_fit(df, cols, array_col=array_col, dim_x=dim_x,
                           dim_y=dim_y, n_iterations=n_iterations,
                           sigma=sigma))
    P = W.shape[2]
    Wf = W.reshape(-1, P)

    if array_col is not None:
        # ship the vector as ONE Arrow list column (a per-dim getItem fan-out
        # would re-cast the array P times and widen the Arrow batch P-fold)
        feats = [F.col(array_col).cast("array<double>")]
    else:
        feats = [F.array(*[F.col(c).cast("double") for c in cols])]

    @pandas_udf("struct<x:int,y:int>")
    def _win(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for series in it:
            X = np.stack([np.asarray(v, dtype=float)
                          if v is not None and len(v) == P
                          else np.full(P, np.nan) for v in series])
            d = ((X[:, None, :] - Wf[None, :, :]) ** 2).sum(axis=2)
            u = np.argmin(d, axis=1)
            yield pd.DataFrame({"x": (u % dim_x).astype("int32"),
                                "y": (u // dim_x).astype("int32")})

    w = _win(*feats)
    return (df.withColumn(f"{prefix}_x", w.getField("x"))
              .withColumn(f"{prefix}_y", w.getField("y")))


# ------------------------------------------------- correspondence analysis

CA_QSCALE = 1_000_000_000.0


def fit_ca_matrix(N, *, n_components: int = 2):
    """Correspondence analysis of an integer contingency matrix —
    reference math ``owcorrespondence.py:381-421`` (corr matrix,
    expected E = r·cᵀ, generalized SVD of the residual under 1/r, 1/c
    weights, principal coordinates F = D_r·U·D and G = D_c·Vᵀ·D), with
    one addition the reference leaves to LAPACK chance: a deterministic
    sign convention (each component's largest-|row-factor| entry is
    made positive) so the factors are a pure function of the
    contingency.  Returns ``(F, G, inertia)`` numpy arrays truncated to
    ``n_components``."""
    import numpy as np

    A = np.asarray(N, dtype=np.float64)
    total = A.sum()
    corr = A / total if total > 0 else A
    c = corr.sum(axis=0)
    r = corr.sum(axis=1)
    E = r[:, None] * c[None, :]
    with np.errstate(divide="ignore"):
        dr, dc = r ** -1, c ** -1
    dr, dc = np.nan_to_num(dr), np.nan_to_num(dc)
    wu, wv = np.sqrt(dr), np.sqrt(dc)
    B = wu[:, None] * (corr - E) * wv[None, :]
    Ub, D, Vb = np.linalg.svd(B, full_matrices=False)
    with np.errstate(divide="ignore"):
        U = np.nan_to_num(wu[:, None] ** -1) * Ub
        V = (np.nan_to_num(wv[:, None] ** -1) * Vb.T).T
    # reference: F = D_r·U·D, G = D_c·Vᵀ·D with D_r = 1/r, D_c = 1/c
    Fm = np.nan_to_num(dr[:, None]) * U * D[None, :]
    Gm = np.nan_to_num(dc[:, None]) * V.T * D[None, :]
    k = min(n_components, len(D))
    for j in range(k):
        i_star = int(np.argmax(np.abs(Fm[:, j])))
        if Fm[i_star, j] < 0:
            Fm[:, j] = -Fm[:, j]
            Gm[:, j] = -Gm[:, j]
    inertia = D ** 2
    return Fm[:, :k], Gm[:, :k], inertia[:k]


def correspondence_analysis(df: DataFrame, col_a: str, col_b: str, *,
                            n_components: int = 2,
                            max_levels: int = 256) -> DataFrame:
    """Correspondence Analysis of two discrete columns
    (``owcorrespondence.py``): the contingency is ONE distributed
    aggregation (exact integers); the gsvd runs on the driver over the
    bounded levels×levels matrix — the same scale contract as the
    reference's in-memory CA, with a loud cardinality guard instead of
    a silent OOM.  Output: ``(kind, level, f1_q, f2_q)`` row/column
    principal coordinates in fixed-point (×1e9) — a pure function of
    the exact contingency, so the oracle replays it literally."""
    import numpy as np

    from orange3_spark.guards import check_max_levels

    check_max_levels(df, [col_a, col_b], max_levels,
                     "CA contingency bounded by max_levels² — "
                     "discretize or regroup first")
    rows = (df.groupBy(col_a, col_b).count()
            .dropna().collect())
    a_levels = sorted({r[col_a] for r in rows})
    b_levels = sorted({r[col_b] for r in rows})
    ai = {v: i for i, v in enumerate(a_levels)}
    bi = {v: i for i, v in enumerate(b_levels)}
    N = np.zeros((len(a_levels), len(b_levels)), dtype=np.int64)
    for r in rows:
        N[ai[r[col_a]], bi[r[col_b]]] = int(r["count"])
    Fm, Gm, _ = fit_ca_matrix(N, n_components=n_components)
    q = lambda x: int(np.floor(x * CA_QSCALE + 0.5))  # noqa: E731
    out = ([("row", str(v), q(Fm[i, 0]),
             q(Fm[i, 1]) if Fm.shape[1] > 1 else 0)
            for v, i in ai.items()]
           + [("col", str(v), q(Gm[i, 0]),
               q(Gm[i, 1]) if Gm.shape[1] > 1 else 0)
              for v, i in bi.items()])
    return local_frame(df.sparkSession, out,
                       "kind string, level string, f1_q long, f2_q long")


# --------------------------------------------------------------- isomap

def fit_isomap_matrix(X, *, n_neighbors: int = 8, n_components: int = 2):
    """Isomap (Tenenbaum et al. 2000) on matrix ``X`` — pure
    deterministic numpy shared verbatim with the replay oracle: k-NN
    graph (euclidean, symmetrized), geodesics by Floyd–Warshall
    (bounded n — sample-then-embed is the contract, as t-SNE/MDS), then
    classical MDS on the geodesic matrix with the engine's sign
    convention.  A disconnected graph gets its +inf geodesics replaced
    by 2× the largest finite one (deterministic; sklearn errors out —
    documented divergence)."""
    import numpy as np

    n = X.shape[0]
    sq = ((X[:, None, :] - X[None, :, :]) ** 2).sum(axis=2)
    D = np.sqrt(np.maximum(sq, 0.0))
    # k-NN graph: keep each row's k smallest (excluding self), symmetrize
    G = np.full((n, n), np.inf)
    np.fill_diagonal(G, 0.0)
    order = np.argsort(D, axis=1, kind="stable")
    for i in range(n):
        for j in order[i, 1:n_neighbors + 1]:
            G[i, j] = D[i, j]
            G[j, i] = D[i, j]
    for k in range(n):                      # Floyd–Warshall
        G = np.minimum(G, G[:, k][:, None] + G[k, :][None, :])
    finite = G[np.isfinite(G)]
    if np.isinf(G).any():
        G[np.isinf(G)] = 2.0 * finite.max()
    # classical MDS on geodesics
    G2 = G ** 2
    J = np.eye(n) - np.full((n, n), 1.0 / n)
    B = -0.5 * (J @ G2 @ J)
    w, v = np.linalg.eigh(B)
    idx = np.argsort(w)[::-1][:n_components]
    lam = np.maximum(w[idx], 0.0)
    Y = v[:, idx] * np.sqrt(lam)[None, :]
    for j in range(Y.shape[1]):             # deterministic signs
        i_star = int(np.argmax(np.abs(Y[:, j])))
        if Y[i_star, j] < 0:
            Y[:, j] = -Y[:, j]
    return Y


def isomap(df: DataFrame, id_col: str, *, array_col: str,
           n_neighbors: int = 8, n_components: int = 2) -> DataFrame:
    """Isomap of at most :data:`MAX_TSNE_POINTS` rows (the reference's
    Manifold Learning widget wraps sklearn.Isomap, driver-side in-memory
    too — ``Orange/widgets/unsupervised/owmanifoldlearning.py``).  O(n²)
    geodesics → sample upstream, embed the sample; the id-sorted fetch
    makes the embedding a pure function of the data (replayable)."""
    tbl = fetch_capped(df.select(id_col, array_col).dropna(),
                       MAX_TSNE_POINTS)
    if tbl is None:
        raise ValueError(f"isomap is O(n^2)-O(n^3); n > {MAX_TSNE_POINTS}. "
                         "Sample first and embed the sample.")
    ids, X = _id_sorted_matrix(tbl)
    Y = fit_isomap_matrix(X, n_neighbors=n_neighbors,
                          n_components=n_components)
    dt = df.schema[id_col].dataType.simpleString()
    return local_frame(
        df.sparkSession,
        [(i, *[float(y) for y in row]) for i, row in zip(ids, Y)],
        f"{id_col} {dt}, " + ", ".join(
            f"iso_{j} double" for j in range(n_components)))
