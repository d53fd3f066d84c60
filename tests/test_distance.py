"""Distance matrices + outlier detection."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from orange3_spark.stats import distance as D
from orange3_spark.stats import outliers as O


@pytest.fixture()
def pts(spark):
    return spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 3.0, 4.0), (2, 0.0, 1.0)],
        "id long, x double, y double")


def _d(df):
    return {(r.id_a, r.id_b): r.dist for r in df.collect()}


def test_euclidean_manhattan(pts):
    e = _d(D.row_distances(pts, "id", ["x", "y"]))
    assert e[(0, 1)] == 5.0 and e[(0, 2)] == 1.0
    m = _d(D.row_distances(pts, "id", ["x", "y"], metric="manhattan"))
    assert m[(0, 1)] == 7.0 and m[(1, 2)] == 6.0


def test_cosine_is_distance(pts):
    c = _d(D.row_distances(pts, "id", ["x", "y"], metric="cosine"))
    # (3,4) vs (0,1): sim = 4/5 -> dist 0.2
    assert abs(c[(1, 2)] - 0.2) < 1e-12
    # zero vector: sim undefined -> NULL (missing), not an error
    assert c[(0, 1)] is None


def test_jaccard_hamming(spark):
    df = spark.createDataFrame(
        [(0, 1.0, 0.0, 1.0), (1, 1.0, 1.0, 0.0)], "id long, a double, b double, c double")
    j = _d(D.row_distances(df, "id", ["a", "b", "c"], metric="jaccard"))
    assert abs(j[(0, 1)] - (1 - 1 / 3)) < 1e-12
    h = _d(D.row_distances(df, "id", ["a", "b", "c"], metric="hamming"))
    assert h[(0, 1)] == 2.0


def test_mahalanobis_scale_invariance(spark):
    import numpy as np
    rng = np.random.default_rng(3)
    base = rng.normal(0, 1, (200, 2))
    rows = [(i, float(a), float(100 * b)) for i, (a, b) in enumerate(base)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = D.row_distances(df.limit(50), "id", ["x", "y"],
                          metric="mahalanobis",
                          inv_cov=D.inverse_covariance(df, ["x", "y"]))
    # mahalanobis whitens the 100× scale: distances comparable in both axes
    assert out.count() == 50 * 49 / 2
    assert out.agg(F.max("dist")).first()[0] < 10


def test_normalized_distances(pts):
    raw = _d(D.row_distances(pts, "id", ["x", "y"]))
    nrm = _d(D.row_distances(pts, "id", ["x", "y"], normalize=True))
    assert raw != nrm and len(nrm) == 3


def test_column_distances(pts):
    out = {(r.col_a, r.col_b): r.dist
           for r in D.column_distances(pts, ["x", "y"]).collect()}
    # columns x=(0,3,0), y=(0,4,1): dist = sqrt(1 + 1) = sqrt(2)
    assert abs(out[("x", "y")] - math.sqrt(2)) < 1e-12


def test_iqr_and_zscore_outliers(spark):
    rows = [(i, float(i % 10)) for i in range(100)] + [(100, 1000.0)]
    df = spark.createDataFrame(rows, "id long, v double")
    got = O.iqr_outliers(df, "v").filter("is_outlier").collect()
    assert [r.id for r in got] == [100]
    gz = O.zscore_outliers(df, ["v"], z=3.0).filter("is_outlier").collect()
    assert [r.id for r in gz] == [100]


def test_mahalanobis_score_flags_planted(spark):
    import numpy as np
    rng = np.random.default_rng(5)
    rows = [(i, float(x), float(y))
            for i, (x, y) in enumerate(rng.normal(0, 1, (300, 2)))]
    rows.append((300, 8.0, -8.0))
    df = spark.createDataFrame(rows, "id long, x double, y double")
    top = (O.mahalanobis_score(df, ["x", "y"])
           .orderBy(F.col("maha").desc()).first())
    assert top.id == 300


def test_knn_distance_score(spark):
    rows = [(i, float(i % 5), float(i % 7)) for i in range(60)]
    rows.append((60, 50.0, 50.0))   # isolated point
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = O.knn_distance_score(df, "id", ["x", "y"], k=3)
    top = out.orderBy(F.col("knn_dist").desc()).first()
    assert top.id == 60


def _rankavg(v):
    import numpy as np
    v = np.asarray(v, dtype=float)
    order = np.argsort(v, kind="mergesort")
    ranks = np.empty(len(v))
    i = 0
    sv = v[order]
    while i < len(v):
        j = i
        while j < len(v) and sv[j] == sv[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0
        i = j
    return ranks


def _spearman(a, b):
    import numpy as np
    return np.corrcoef(_rankavg(a), _rankavg(b))[0, 1]


def test_pearson_spearman_rows(spark):
    import numpy as np
    rows = [(0, 1.0, 2.0, 3.0, 4.0),
            (1, 2.0, 1.0, 5.0, 3.0),
            (2, 4.0, 4.0, 1.0, 2.0)]
    df = spark.createDataFrame(rows, "id long, a double, b double, c double, d double")
    cols = ["a", "b", "c", "d"]
    p = _d(D.row_distances(df, "id", cols, metric="pearson"))
    s = _d(D.row_distances(df, "id", cols, metric="spearman"))
    pa = _d(D.row_distances(df, "id", cols, metric="pearson_absolute"))
    m = np.array([r[1:] for r in rows])
    for i, j in [(0, 1), (0, 2), (1, 2)]:
        rho = np.corrcoef(m[i], m[j])[0, 1]
        assert abs(p[(i, j)] - (0.5 - rho / 2)) < 1e-9
        assert abs(pa[(i, j)] - (1 - abs(rho))) < 1e-9
        srho = _spearman(m[i], m[j])
        assert abs(s[(i, j)] - (0.5 - srho / 2)) < 1e-9


def test_spearman_rows_ties(spark):
    rows = [(0, 1.0, 1.0, 2.0, 3.0), (1, 5.0, 4.0, 4.0, 4.0)]
    df = spark.createDataFrame(rows, "id long, a double, b double, c double, d double")
    s = _d(D.row_distances(df, "id", ["a", "b", "c", "d"], metric="spearman"))
    srho = _spearman(rows[0][1:], rows[1][1:])
    assert abs(s[(0, 1)] - (0.5 - srho / 2)) < 1e-9


def test_bhattacharyya_rows(spark):
    import numpy as np
    rows = [(0, 1.0, 1.0, 2.0), (1, 2.0, 2.0, 4.0), (2, 4.0, 0.0, 0.0)]
    df = spark.createDataFrame(rows, "id long, a double, b double, c double")
    b = _d(D.row_distances(df, "id", ["a", "b", "c"], metric="bhattacharyya"))
    # proportional rows are identical distributions -> distance 0 (clipped)
    assert abs(b[(0, 1)]) < 1e-12
    pa = np.array([1, 1, 2]) / 4.0
    pc = np.array([4, 0, 0]) / 4.0
    expect = -np.log(np.sum(np.sqrt(pa * pc)))
    assert abs(b[(0, 2)] - expect) < 1e-9


def test_column_pearson_spearman(spark):
    import numpy as np
    rng = np.random.default_rng(7)
    x = rng.normal(0, 1, 300)
    y = 2 * x + rng.normal(0, 0.5, 300)
    z = rng.permutation(np.repeat(np.arange(30), 10)).astype(float)  # heavy ties
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x, y, z)],
        "x double, y double, z double")
    p = {(r.col_a, r.col_b): r.dist
         for r in D.column_distances(df, ["x", "y", "z"], metric="pearson").collect()}
    assert abs(p[("x", "y")] - (0.5 - np.corrcoef(x, y)[0, 1] / 2)) < 1e-9
    s = {(r.col_a, r.col_b): r.dist
         for r in D.spearman_column_distances(df, ["x", "y", "z"]).collect()}
    for a, b, va, vb in [("x", "y", x, y), ("x", "z", x, z), ("y", "z", y, z)]:
        srho = _spearman(va, vb)
        assert abs(s[(a, b)] - (0.5 - srho / 2)) < 1e-9


def test_lof_flags_isolated_point(spark):
    # tight cluster + one far point: LOF(far) >> 1, cluster points ~ 1
    rows = [(i, float(i % 3) * 0.1, float(i // 3) * 0.1) for i in range(9)]
    rows.append((99, 10.0, 10.0))
    df = spark.createDataFrame(rows, "id long, x double, y double")
    scores = {r.id: r.lof for r in O.lof(df, "id", ["x", "y"], k=3).collect()}
    assert scores[99] > 5.0
    assert all(v < 2.0 for i, v in scores.items() if i != 99)


def test_correlation_dist_no_signed_zero(spark):
    """ρ = ±1 fixtures: the exact-integer Spearman path and the [0,1]
    clamp must emit the LITERAL 0.0 / 1.0 — never −0.0, never a last-bit
    negative (r8 driver hash-fail: q_distance_spearman_rows)."""
    # rows 0/1 perfectly rank-correlated (ρ=+1), 0/2 anti (ρ=−1),
    # row 3 constant (undefined ρ → NULL dist), row 4 generic
    rows = [(0, 1.0, 2.0, 3.0, 4.0),
            (1, 10.0, 20.0, 30.0, 40.0),
            (2, 4.0, 3.0, 2.0, 1.0),
            (3, 7.0, 7.0, 7.0, 7.0),
            (4, 2.0, 9.0, 1.0, 5.0)]
    df = spark.createDataFrame(rows,
                               "id long, a double, b double, c double, d double")
    cols = ["a", "b", "c", "d"]
    # Spearman: exact-integer branch ⇒ the LITERAL 0.0 / 1.0 at ρ=±1
    s = _d(D.row_distances(df, "id", cols, metric="spearman"))
    assert s[(0, 1)] == 0.0 and math.copysign(1.0, s[(0, 1)]) > 0
    assert s[(0, 2)] == 1.0
    # Pearson on raw doubles has no exact branch — the guarantee is the
    # mirrored [0,1] clamp: never negative, never −0.0 (a last-bit ρ past
    # +1 may legally land at +5.6e-17, which both engines share bit-for-bit)
    p = _d(D.row_distances(df, "id", cols, metric="pearson"))
    assert 0.0 <= p[(0, 1)] < 1e-12
    assert abs(p[(0, 2)] - 1.0) < 1e-12 and p[(0, 2)] <= 1.0
    for d in (s, p):
        assert d[(0, 3)] is None and d[(3, 4)] is None
        for v in d.values():
            if v is not None:
                assert 0.0 <= v <= 1.0
                if v == 0.0:
                    assert math.copysign(1.0, v) > 0, "emitted -0.0"
    da = _d(D.row_distances(df, "id", cols, metric="spearman_absolute"))
    assert da[(0, 1)] == 0.0 and da[(0, 2)] == 0.0
    assert math.copysign(1.0, da[(0, 2)]) > 0


def test_spearman_cols_exact_integer_sums(spark):
    """Column Spearman over perfectly correlated / anti-correlated columns:
    exact decimal sums + mirrored final ops ⇒ clamped literals at ρ=±1,
    no −0.0 regardless of partitioning."""
    rows = [(float(i), float(2 * i + 1), float(100 - i), float((i * 7) % 5))
            for i in range(200)]
    df = (spark.createDataFrame(rows, "x double, y double, z double, w double")
               .repartition(8))
    s = {(r.col_a, r.col_b): r.dist
         for r in D.spearman_column_distances(df, ["x", "y", "z", "w"]).collect()}
    assert s[("x", "y")] == 0.0 and math.copysign(1.0, s[("x", "y")]) > 0
    assert s[("x", "z")] == 1.0
    for v in s.values():
        if v is not None and v == 0.0:
            assert math.copysign(1.0, v) > 0


def test_spearman_cols_driver_path_equals_distributed(spark,
                                                     no_local_twins):
    """The bounded driver fast path must emit BIT-IDENTICAL doubles
    to the distributed rank-map plan — including ties, NaN grouping
    (NaN ranks greater than every double, as in Spark's normalized join
    keys and sort order), NULL-row dropping, and the exact ±1 branch."""
    import math

    rows = []
    for i in range(120):
        x = float(i % 7)                     # heavy ties
        y = float((i * 13) % 11)
        z = float(i) if i % 9 else float("nan")   # NaN group
        rows.append((x, y, z))
    rows.append((None, 1.0, 2.0))            # dropped by both paths
    df = (spark.createDataFrame(rows, "x double, y double, z double")
               .repartition(5))
    cols = ["x", "y", "z"]
    fast = {(r.col_a, r.col_b): r.dist
            for r in D.spearman_column_distances(df, cols).collect()}
    fa = {(r.col_a, r.col_b): r.dist
          for r in D.spearman_column_distances(
              df, cols, absolute=True).collect()}
    with no_local_twins():
        dist = {(r.col_a, r.col_b): r.dist
                for r in D.spearman_column_distances(df, cols).collect()}
        da = {(r.col_a, r.col_b): r.dist
              for r in D.spearman_column_distances(
                  df, cols, absolute=True).collect()}
    assert set(fast) == set(dist)
    for k in fast:
        if fast[k] is None or dist[k] is None:
            assert fast[k] is None and dist[k] is None
        else:
            assert fast[k] == dist[k], (k, fast[k], dist[k])
            assert math.copysign(1.0, fast[k]) == math.copysign(1.0, dist[k])

    # absolute variant too
    assert fa == da
