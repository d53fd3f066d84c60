"""Distance matrices: Orange's ``Distance`` surface on DataFrames.

Reference: ``Orange/distance/distance.py`` — Euclidean ``:198``, Manhattan
``:342``, Cosine ``:394``, Jaccard ``:559``, Mahalanobis ``:807``, Hamming
``:869``; distances run over rows OR columns, with a fit/transform split
that can normalize continuous features first (``FittedDistance``).

Spark shape:
  * ROW distances — long-form ``(id_a, id_b, dist)`` via self-join on
    ``id_a < id_b``; per-pair arithmetic is plain column expressions over
    the k named feature columns (k is small and fixed — no data-sized
    arrays, so everything stays in codegen).  The O(n²) join is the
    correctness regime; at scale block with LSH (similarity.knn) first.
  * COLUMN distances — ONE aggregation pass: every pairwise column distance
    is a sum-expression (k(k−1)/2 aggregates), no transpose needed.
  * Mahalanobis — inverse covariance estimated once (driver, k×k) and
    folded into the pair expression as literals.
"""

from __future__ import annotations

from itertools import combinations
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orange3_spark.session import fetch_local, local_frame


def _standardize(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    stats = df.agg(*[F.avg(c).alias(f"mu_{c}") for c in cols],
                   *[F.stddev_pop(c).alias(f"sd_{c}") for c in cols]).first()
    out = df
    for c in cols:
        sd = stats[f"sd_{c}"] or 1.0
        out = out.withColumn(c, (F.col(c) - F.lit(stats[f"mu_{c}"]))
                             / F.lit(sd if sd else 1.0))
    return out


def _row_pearson(a_cols: Sequence[Column], b_cols: Sequence[Column]) -> Column:
    """Pearson rho between two fixed-k vectors as a closed-form expression
    (reference `_corrcoef2`, distance.py:703-721) — stays in codegen."""
    k = len(a_cols)
    sa = sum(a_cols[1:], a_cols[0])
    sb = sum(b_cols[1:], b_cols[0])
    sab = sum((a * b for a, b in zip(a_cols[1:], b_cols[1:])),
              a_cols[0] * b_cols[0])
    saa = sum((a * a for a in a_cols[1:]), a_cols[0] * a_cols[0])
    sbb = sum((b * b for b in b_cols[1:]), b_cols[0] * b_cols[0])
    num = F.lit(float(k)) * sab - sa * sb
    den = F.sqrt(F.lit(float(k)) * saa - sa * sa) \
        * F.sqrt(F.lit(float(k)) * sbb - sb * sb)
    return F.try_divide(num, den)


def _row_ranks2(cols: Sequence[Column]) -> list[Column]:
    """TWICE the average-tie rank of a fixed-k row vector, as exact int64.

    Average-tie ranks (scipy ``rankdata``, the reference's SpearmanR,
    distance.py:609-620) are half-integers, so 2·rank = 2·(#less) +
    (#equal incl. self) + 1 is an exact integer — O(k²) row-local
    comparisons, zero float arithmetic.  Working on 2·rank instead of rank
    leaves ρ unchanged (affine-invariant) and makes the Spearman numerator
    and denominator² exact int64, which kills the signed-zero / last-bit
    class of cross-engine hash mismatches for good (round-5 and round-8
    lessons, SURVEY §8)."""
    ranks2 = []
    for i, ci in enumerate(cols):
        others = [cj for j, cj in enumerate(cols) if j != i]
        less = sum(((cj < ci).cast("long") for cj in others), F.lit(0))
        equal = sum(((cj == ci).cast("long") for cj in others), F.lit(1))
        ranks2.append((F.lit(2) * less + equal + F.lit(1)).cast("long"))
    return ranks2


def _clamp01(d: Column) -> Column:
    """Clamp a correlation distance into [0, 1] with exact literals.

    ``d ≤ 0 → 0.0`` catches both last-bit negatives (ρ a few ulp past ±1
    after catastrophic cancellation in ``0.5 − ρ/2``) and −0.0 itself
    (−0.0 ≤ 0 is true), so a negative-signed zero can never be emitted;
    NULL propagates through the otherwise branch untouched."""
    return (F.when(d <= 0, F.lit(0.0))
             .when(d >= 1, F.lit(1.0))
             .otherwise(d))


def _corr_to_dist(rho: Column, absolute: bool) -> Column:
    # reference CorrelationDistanceModel.compute_distances (distance.py:592-603)
    if absolute:
        return _clamp01(F.lit(1.0) - F.abs(rho))
    return _clamp01(F.lit(0.5) - rho / F.lit(2.0))


def _spearman_int_dist(a_cols: Sequence[Column], b_cols: Sequence[Column],
                       absolute: bool) -> Column:
    """Spearman distance between two fixed-k rows in EXACT integer
    arithmetic up to the final (mirrored) divide.

    With A=2·rank(a), B=2·rank(b) exact int64: num = k·ΣAB − ΣA·ΣB and
    da·db = (k·ΣAA − ΣA²)(k·ΣBB − ΣB²) are exact, so ρ = ±1 is the exact
    integer test num² == da·db and the distance there is the literal
    0.0 / 1.0 on BOTH engines; elsewhere one sqrt + one divide over
    identical integers is bit-identical IEEE on Spark and DuckDB
    (q_distance_spearman_rows r8 driver hash-fail root cause)."""
    k = len(a_cols)
    A = _row_ranks2(a_cols)
    B = _row_ranks2(b_cols)
    sa = sum(A[1:], A[0])
    sb = sum(B[1:], B[0])
    sab = sum((x * y for x, y in zip(A[1:], B[1:])), A[0] * B[0])
    saa = sum((x * x for x in A[1:]), A[0] * A[0])
    sbb = sum((y * y for y in B[1:]), B[0] * B[0])
    num = F.lit(k) * sab - sa * sb
    dd = (F.lit(k) * saa - sa * sa) * (F.lit(k) * sbb - sb * sb)
    root = F.lit(2.0) * F.sqrt(dd.cast("double"))
    if absolute:
        exact = F.lit(0.0)
        rest = F.lit(1.0) - F.abs(num).cast("double") / F.sqrt(dd.cast("double"))
    else:
        exact = F.when(num > 0, F.lit(0.0)).otherwise(F.lit(1.0))
        rest = F.lit(0.5) - num.cast("double") / root
    return (F.when(dd == 0, F.lit(None).cast("double"))
             .when(num * num == dd, exact)
             .otherwise(_clamp01(rest)))


def _pair_frame(df: DataFrame, id_col: str, cols: Sequence[str]):
    a = df.select(F.col(id_col).alias("id_a"),
                  *[F.col(c).cast("double").alias(f"a_{c}") for c in cols])
    b = df.select(F.col(id_col).alias("id_b"),
                  *[F.col(c).cast("double").alias(f"b_{c}") for c in cols])
    return a.join(b, F.col("id_a") < F.col("id_b"))


def pair_matrix(tbl, fill: float):
    """``(ids, D)`` from a fetched long-form ``(id_a, id_b, dist)`` table:
    the sorted distinct ids of both id columns and the dense symmetric
    ``n × n`` distance matrix over them, ``fill`` wherever no pair gives
    a value (the diagonal included).  Read column-wise in numpy."""
    import numpy as np

    a, b, d = (tbl.column(i).to_numpy() for i in range(3))
    ids, pos = np.unique(np.concatenate([a, b]), return_inverse=True)
    i, j = pos[:len(a)], pos[len(a):]
    D = np.full((len(ids), len(ids)), fill, dtype=np.float64)
    D[i, j] = d
    D[j, i] = d
    return ids.tolist(), D


def row_distances(df: DataFrame, id_col: str, cols: Sequence[str], *,
                  metric: str = "euclidean", normalize: bool = False,
                  inv_cov=None) -> DataFrame:
    """Long-form pairwise row distances ``(id_a, id_b, dist)``."""
    if normalize:
        df = _standardize(df, cols)
    pairs = _pair_frame(df, id_col, cols)
    diffs = [F.col(f"a_{c}") - F.col(f"b_{c}") for c in cols]
    if metric == "euclidean":
        expr = F.sqrt(sum((d * d for d in diffs), F.lit(0.0)))
    elif metric == "manhattan":
        expr = sum((F.abs(d) for d in diffs), F.lit(0.0))
    elif metric == "cosine":
        dot = sum((F.col(f"a_{c}") * F.col(f"b_{c}") for c in cols), F.lit(0.0))
        na = F.sqrt(sum((F.col(f"a_{c}") ** 2 for c in cols), F.lit(0.0)))
        nb = F.sqrt(sum((F.col(f"b_{c}") ** 2 for c in cols), F.lit(0.0)))
        # Orange's Cosine is a DISTANCE: 1 − similarity (distance.py:394)
        expr = F.lit(1.0) - F.try_divide(dot, na * nb)
    elif metric == "jaccard":
        # binary Jaccard distance over nonzero indicators (distance.py:559)
        inter = sum(((F.col(f"a_{c}") != 0) & (F.col(f"b_{c}") != 0)).cast("double")
                    for c in cols)
        union = sum(((F.col(f"a_{c}") != 0) | (F.col(f"b_{c}") != 0)).cast("double")
                    for c in cols)
        expr = F.lit(1.0) - F.try_divide(inter, union)
    elif metric == "hamming":
        expr = sum((F.col(f"a_{c}") != F.col(f"b_{c}")).cast("double")
                   for c in cols)
    elif metric in ("pearson", "pearson_absolute"):
        rho = _row_pearson([F.col(f"a_{c}") for c in cols],
                           [F.col(f"b_{c}") for c in cols])
        expr = _corr_to_dist(rho, metric.endswith("absolute"))
    elif metric in ("spearman", "spearman_absolute"):
        expr = _spearman_int_dist([F.col(f"a_{c}") for c in cols],
                                  [F.col(f"b_{c}") for c in cols],
                                  metric.endswith("absolute"))
    elif metric == "bhattacharyya":
        # rows as probability distributions: -ln Σ√(p·q), clipped at 0
        # (reference _bhattacharyya, distance.py:776-784);
        # Σ√(aᵢ/Σa · bᵢ/Σb) = Σ√(aᵢbᵢ) / √(Σa·Σb) — single row-local form
        sa = sum((F.col(f"a_{c}") for c in cols), F.lit(0.0))
        sb = sum((F.col(f"b_{c}") for c in cols), F.lit(0.0))
        s = sum((F.sqrt(F.col(f"a_{c}") * F.col(f"b_{c}")) for c in cols),
                F.lit(0.0))
        expr = F.greatest(F.lit(0.0), -F.log(F.try_divide(s, F.sqrt(sa * sb))))
    elif metric == "mahalanobis":
        if inv_cov is None:
            inv_cov = inverse_covariance(df, cols)
        k = len(cols)
        q = F.lit(0.0)
        for i in range(k):
            for j in range(k):
                if inv_cov[i][j]:
                    q = q + diffs[i] * diffs[j] * F.lit(float(inv_cov[i][j]))
        expr = F.sqrt(q)
    else:
        raise ValueError(metric)
    return pairs.select("id_a", "id_b", expr.alias("dist"))


def inverse_covariance(df: DataFrame, cols: Sequence[str]) -> list[list[float]]:
    """k×k covariance from one agg pass, inverted on the driver
    (SURVEY §2.11: Mahalanobis = driver-side inverse covariance broadcast)."""
    import numpy as np

    aggs = [F.avg(F.col(a) * F.col(b)).alias(f"e_{i}_{j}")
            for i, a in enumerate(cols) for j, b in enumerate(cols) if i <= j]
    aggs += [F.avg(c).alias(f"m_{c}") for c in cols]
    r = df.agg(*aggs).first()
    k = len(cols)
    cov = np.zeros((k, k))
    for i in range(k):
        for j in range(i, k):
            v = r[f"e_{i}_{j}"] - r[f"m_{cols[i]}"] * r[f"m_{cols[j]}"]
            cov[i, j] = cov[j, i] = v
    return np.linalg.pinv(cov).tolist()


def column_distances(df: DataFrame, cols: Sequence[str], *,
                     metric: str = "euclidean") -> DataFrame:
    """Distances BETWEEN columns in one aggregation pass — no transpose:
    each pair's distance is a sum aggregate (the reference transposes the
    matrix; at 100 TB the transpose doesn't exist but the agg does)."""
    aggs = []
    for a, b in combinations(cols, 2):
        ca, cb = F.col(a).cast("double"), F.col(b).cast("double")
        if metric == "euclidean":
            e = F.sqrt(F.sum((ca - cb) * (ca - cb)))
        elif metric == "manhattan":
            e = F.sum(F.abs(ca - cb))
        elif metric == "cosine":
            e = F.lit(1.0) - F.try_divide(
                F.sum(ca * cb), F.sqrt(F.sum(ca * ca)) * F.sqrt(F.sum(cb * cb)))
        elif metric in ("pearson", "pearson_absolute"):
            e = _corr_to_dist(F.corr(ca, cb), metric.endswith("absolute"))
        elif metric == "bhattacharyya":
            e = F.greatest(F.lit(0.0), -F.log(F.try_divide(
                F.sum(F.sqrt(ca * cb)), F.sqrt(F.sum(ca) * F.sum(cb)))))
        else:
            raise ValueError(metric)
        aggs.append(e.alias(f"{a}|{b}"))
    row = df.agg(*aggs)
    pairs = F.array(*[
        F.struct(F.lit(c.split("|")[0]).alias("col_a"),
                 F.lit(c.split("|")[1]).alias("col_b"),
                 F.col(f"`{c}`").alias("dist")) for c in row.columns])
    return (row.select(F.explode(pairs).alias("p"))
               .select("p.col_a", "p.col_b", "p.dist"))


def _spearman_cols_driver(spark, tbl, cols, absolute: bool) -> DataFrame:
    """Driver-side exact finish of :func:`spearman_column_distances`
    for a fetched joint (value-tuple, count) frame.

    Mirrors the distributed plan term for term: rows with a NULL key
    are dropped (the inner rank-map joins drop them), NaN groups with
    itself and ranks greater than every double (Spark's
    normalizenanandzero join keys + NaN-last sort order), all sums are
    arbitrary-precision Python ints (superset of the decimal(38,0)
    path), and the one int->float64 conversion per term is correctly
    rounded on every engine — so the emitted doubles are bit-identical
    to the distributed plan and the SQL oracle."""
    import math

    k = len(cols)
    groups = []
    for *vals, n in zip(*(tbl.column(f"v_{c}").to_pylist() for c in cols),
                        tbl.column("__n").to_pylist()):
        if None not in vals:
            groups.append(([None if math.isnan(v) else v for v in vals],
                           n))

    rk_maps = []
    for j in range(k):
        cnt: dict = {}
        for key, n in groups:
            cnt[key[j]] = cnt.get(key[j], 0) + n
        below, rk = 0, {}
        for v in sorted(cnt, key=lambda x: (x is None, x if x is not None
                                            else 0.0)):
            rk[v] = 2 * below + cnt[v] + 1      # 2·avg-tie rank, exact int
            below += cnt[v]
        rk_maps.append(rk)

    tot, s, ss = 0, [0] * k, [0] * k
    sab = {p: 0 for p in combinations(range(k), 2)}
    for key, n in groups:
        rks = [rk_maps[j][key[j]] for j in range(k)]
        tot += n
        for j in range(k):
            s[j] += n * rks[j]
            ss[j] += n * rks[j] * rks[j]
        for ia, ib in sab:
            sab[(ia, ib)] += n * rks[ia] * rks[ib]

    return local_frame(
        spark, _spearman_pairs_finish(tot, s, ss, sab, cols, absolute),
        "col_a string, col_b string, dist double")


def _spearman_pairs_finish(tot, s, ss, sab, cols, absolute):
    """Exact int → float64 finish shared by the driver path and the
    distributed path's collected sums: the ±1 integer identities, the
    one correctly-rounded conversion per term, and the [0, 1] clamp
    (−0.0 unrepresentable) — bit-identical on every engine."""
    import math

    out_rows = []
    for ia, ib in combinations(range(len(cols)), 2):
        num = tot * sab[(ia, ib)] - s[ia] * s[ib]
        da = tot * ss[ia] - s[ia] * s[ia]
        db = tot * ss[ib] - s[ib] * s[ib]
        if da == 0 or db == 0:
            d = None
        elif num == da and da == db:            # exact rho = +1
            d = 0.0
        elif num == -da and da == db:           # exact rho = -1
            d = 0.0 if absolute else 1.0
        else:
            root = math.sqrt(float(da)) * math.sqrt(float(db))
            if absolute:
                rest = 1.0 - abs(float(num)) / root
            else:
                rest = 0.5 - float(num) / root / 2.0
            d = 0.0 if rest <= 0.0 else (1.0 if rest >= 1.0 else rest)
        out_rows.append((cols[ia], cols[ib], d))
    return out_rows


def spearman_column_distances(df: DataFrame, cols: Sequence[str], *,
                              absolute: bool = False) -> DataFrame:
    """SpearmanR distance between columns: replace each column with TWICE
    its average-tie rank — an exact int64 (reference SpearmanModel,
    distance.py:609-620; 2·rank leaves ρ unchanged) — then Pearson on the
    rank integers via exact decimal(38,0) sums, one final mirrored
    sqrt+divide.  At scale only (value, count) pairs pass through a single
    reducer (the cumsum over the distinct-value frame); the correlation is
    one aggregation over all pairs with exact, order-independent partial
    sums — no streaming-co-moment float drift across partitions (the
    signed-zero / last-bit lesson, SURVEY §8).

    Physical shape (r10, the r9 2.4x regression fix): ONE scan of the
    data into a joint ``(v_c1..v_ck) -> count`` frame; everything after
    is a re-aggregation of THAT frame.  When the joint frame is small
    (one :func:`fetch_local` fetch) the ranks and exact integer sums are
    computed on the driver in arbitrary-precision Python ints — one
    shuffle, one fetch job, zero windows/joins (measured 1.4 s -> ~0.5 s
    at sf0.1);
    the final ``num / (sqrt(da)·sqrt(db))`` is the identical
    correctly-rounded int->float64 conversion on every engine, so the
    result is bit-for-bit the distributed plan's.  Past the cap (a
    near-unique column at cluster scale) the distributed path runs:
    per-column marginal rank maps cumulated over single-reducer
    (value, count) frames and joined back — the joint frame is
    persisted because each marginal branch prunes the joint aggregate
    to its own 2 columns, so the exchanges canonicalize differently
    and AQE would re-run the scan per branch (measured: 4 parquet
    scans unpersisted, 1 persisted)."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    joint = (df.groupBy(*[F.col(c).cast("double").alias(f"v_{c}")
                          for c in cols])
               .agg(F.count(F.lit(1)).alias("__n")))
    # listwise deletion, BEFORE ranking: a NULL-keyed group would sort
    # first in the marginal cumsum window and silently shift every rank
    # by 2·(null count) while the inner joins later drop those rows
    # anyway — rank over exactly the rows that participate
    for c in cols:
        joint = joint.where(F.col(f"v_{c}").isNotNull())
    tbl = fetch_local(joint)
    if tbl is not None:
        return _spearman_cols_driver(df.sparkSession, tbl, list(cols),
                                     absolute)
    joint = joint.persist(StorageLevel.MEMORY_AND_DISK)
    ranked = joint
    for c in cols:
        # 2·(avg rank of v) = 2·(#rows < v) + (#ties of v) + 1 — exact
        # int64.  A global rank() window would serialize to one partition;
        # instead the marginal (value, count) frame — derived from the
        # joint frame, no rescan of the data — is cumulated over and the
        # value→rank map joined back onto the joint frame.
        # No broadcast hint: for near-unique continuous columns the rank
        # map is ~row-count rows; let AQE pick broadcast when it is small.
        marg = (joint.groupBy(F.col(f"v_{c}").alias("__v"))
                     .agg(F.sum("__n").alias("__cn")))
        w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
        rk = marg.select(
            "__v",
            (F.lit(2) * F.coalesce(F.sum("__cn").over(w), F.lit(0))
             + F.col("__cn") + F.lit(1)).alias(f"rk_{c}"))
        ranked = ranked.join(rk, ranked[f"v_{c}"] == rk["__v"]) \
                       .drop("__v", "__cn")

    def dec(col: Column) -> Column:
        return col.cast("decimal(38,0)")

    n_ = dec(F.col("__n"))
    aggs = [F.sum(n_).alias("__cnt")]
    for a, b in combinations(cols, 2):
        # products of decimal(38,0)-cast ranks stay exact past int64
        # (2·rank ≤ 2n; n·(2n)² overflows int64 near n = 10⁹ rows);
        # weighting by the group count n keeps the sums identical to the
        # per-row aggregation, term for term
        aggs.append(F.sum(n_ * dec(F.col(f"rk_{a}")) * dec(F.col(f"rk_{b}")))
                    .alias(f"sab|{a}|{b}"))
    for c in cols:
        aggs.append(F.sum(n_ * dec(F.col(f"rk_{c}"))).alias(f"s|{c}"))
        aggs.append(F.sum(n_ * dec(F.col(f"rk_{c}")) * dec(F.col(f"rk_{c}")))
                    .alias(f"ss|{c}"))
    sums = ranked.agg(*aggs)
    # ONE bounded collect (a single row of exact decimals), then the
    # driver finish shared with the capped path — this both releases
    # the persisted joint frame deterministically (r10 review: the
    # lazy-tail version pinned the cache for the session with no
    # handle) and replaces the Column-expression ±1/clamp tail with
    # the identical Python-int math, so the emitted doubles are
    # unchanged bit for bit.
    row = sums.collect()[0]
    joint.unpersist()
    k = len(cols)
    tot = int(row["__cnt"])
    s = [int(row[f"s|{c}"]) for c in cols]
    ss = [int(row[f"ss|{c}"]) for c in cols]
    sab = {(ia, ib): int(row[f"sab|{cols[ia]}|{cols[ib]}"])
           for ia, ib in combinations(range(k), 2)}
    return local_frame(
        df.sparkSession,
        _spearman_pairs_finish(tot, s, ss, sab, list(cols), absolute),
        "col_a string, col_b string, dist double")


def distance_transform(dist: DataFrame, *, dist_col: str = "dist",
                       normalize: bool = True,
                       invert: bool = False) -> DataFrame:
    """Distance Transformation widget
    (``Orange/widgets/unsupervised/owdistancetransformation.py``):
    normalize a long-form distance table to [0, 1] by its maximum
    and/or invert similarities (``max − d`` after normalization:
    ``1 − d``).  One max aggregate folded in lazily (broadcast scalar
    frame — no driver action), then a row-local map; the max of exact
    pair distances is order-independent, so the transform replays
    exactly."""
    mx = dist.agg(F.max(dist_col).alias("_mx"))
    out = dist.crossJoin(F.broadcast(mx))
    d = F.col(dist_col)
    if normalize:
        d = F.when(F.col("_mx") > 0, d / F.col("_mx")).otherwise(F.lit(0.0))
    if invert:
        top = F.lit(1.0) if normalize else F.col("_mx")
        d = top - d
    return out.withColumn(dist_col, d).drop("_mx")
