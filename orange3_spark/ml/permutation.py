"""Permutation importance — the Permutation Plot's computation, made
deterministic and distributed.

Reference: ``Orange/widgets/evaluate/owpermutationplot.py:61-93`` —
shuffle the TARGET n times (``np.random.shuffle(data_perm.Y)``), refit,
and compare the score against the un-shuffled fit; a model that scores
as well on shuffled labels is fitting noise.

Two deliberate departures, both required at scale:

* **Deterministic permutation.** ``np.random.shuffle`` is
  driver-bound and irreproducible across partitionings.  Here the
  permutation is a pure function of the row id: rows are bucketed by an
  md5 hash, and WITHIN each bucket the target column is reassigned from
  id-order to md5-order (two partitioned ``row_number`` windows joined
  on (bucket, rank)).  A within-bucket permutation breaks the X→y
  association exactly as well, every engine reproduces it bit-for-bit,
  and no window is global — buckets bound the sort.
* **One-scan scoring.** The model is OLS on a quantized integer grid
  (the cv_ols moment trick): every fit is one map-side-combined
  aggregation of exact int64 moments, so n_perm+1 "fits" are n_perm+1
  cheap aggregations — never 2(n_perm+1) table scans.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from orange3_spark.session import fetch_local

PERM_QSCALE = 1_000_000_000.0


def hash_permute_column(df: DataFrame, id_col: str, col: str, *,
                        salt: str = "p", n_buckets: int = 64) -> DataFrame:
    """``df`` with ``col`` deterministically permuted against the other
    columns (within md5 buckets — see module docstring).  All other
    columns ride with the original row."""
    b = F.pmod(F.conv(F.substring(F.md5(F.col(id_col).cast("string")),
                                  1, 8), 16, 10).cast("long"),
               F.lit(n_buckets))
    w_id = Window.partitionBy("_b").orderBy(F.col(id_col))
    w_h = Window.partitionBy("_b").orderBy("_h", F.col(id_col))
    base = (df.withColumn("_b", b)
            .withColumn("_h", F.md5(F.concat(F.lit(salt),
                                             F.col(id_col)
                                             .cast("string")))))
    left = (base.drop(col)
            .withColumn("_rn", F.row_number().over(w_id)))
    right = (base.select("_b", "_h", F.col(id_col), col)
             .withColumn("_rn", F.row_number().over(w_h))
             .select("_b", "_rn", col))
    return (left.join(right, ["_b", "_rn"])
            .drop("_b", "_rn", "_h"))


def ols_r2_quantized(df: DataFrame, features: Sequence[str],
                     target: str, *, scale: int = 100) -> float:
    """R² of OLS on the ×``scale`` integer grid: ONE aggregation of
    exact int64 moments (associative — partition-invariant), then a
    driver-side normal-equation solve.  Caller must keep
    ``scale²·max|x|²·n < 2⁶³`` (loud overflow check below)."""
    import numpy as np

    p = len(features)
    z = [F.lit(1).cast("long")] + [
        F.floor(F.col(c).cast("double") * scale + F.lit(0.5)).cast("long")
        for c in features]
    y = F.floor(F.col(target).cast("double") * scale
                + F.lit(0.5)).cast("long")
    aggs = [F.count(F.lit(1)).alias("n"), F.sum(y * y).alias("yy"),
            F.sum(y).alias("sy")]
    for i in range(p + 1):
        for j in range(i, p + 1):
            aggs.append(F.sum(z[i] * z[j]).alias(f"m_{i}_{j}"))
        aggs.append(F.sum(z[i] * y).alias(f"v_{i}"))
    r = df.na.drop(subset=[*features, target]).agg(*aggs).first()
    _check_moment_overflow(r, p)
    return r2_from_moments({k: r[k] for k in r.asDict()}, p)


def _check_moment_overflow(r, p: int) -> None:
    """Spark's non-ANSI sum(long) wraps silently; raise loudly if any
    diagonal moment (the largest-magnitude sums) nears int64 range."""
    hot = [abs(int(r["yy"]))] + [abs(int(r[f"m_{i}_{i}"]))
                                 for i in range(1, p + 1)]
    if max(hot) >= (1 << 62):
        raise OverflowError("quantized moments near int64 range; "
                            "lower `scale` or rescale features")


def r2_from_moments(r: dict, p: int) -> float:
    """R² from exact integer moments — shared verbatim by the Spark
    path and the replay oracle, so both sides run the IDENTICAL float
    op sequence on identical integers."""
    import numpy as np

    M = np.zeros((p + 1, p + 1))
    v = np.zeros(p + 1)
    for i in range(p + 1):
        for j in range(i, p + 1):
            M[i, j] = M[j, i] = float(r[f"m_{i}_{j}"])
        v[i] = float(r[f"v_{i}"])
    beta = np.linalg.solve(M, v)
    yy, sy, n = float(r["yy"]), float(r["sy"]), float(r["n"])
    rss = yy - 2.0 * float(beta @ v) + float(beta @ M @ beta)
    tss = yy - sy * sy / n
    return 1.0 - rss / tss if tss > 0 else 0.0


def permutation_importance_ols(df: DataFrame, id_col: str,
                               features: Sequence[str], target: str, *,
                               n_perm: int = 3, n_buckets: int = 64,
                               scale: int = 100) -> list[tuple]:
    """``[(label, r2_q)]``: the true fit's R² followed by ``n_perm``
    target-permuted refits (labels ``perm1..``), each R² in fixed-point
    ×1e9.  A healthy signal has ``true ≫ permᵢ``.

    FUSED plan: the true pairing and every permutation are stacked into
    one (label, bucket, rank, y) frame (the label's rank column selects
    which hash order pairs y back to its x row), so all n_perm+1 "fits"
    are ONE join + ONE grouped moment aggregation — per-label work
    never becomes per-label jobs.

    Bounded local twin: when the frame is :func:`fetch_local`-sized
    (width p+2) it is fetched ONCE — with the bucket and the per-label
    md5 sort keys computed SPARK-side (engine-portable hashes, zero
    Python hashing) — and the pairing +
    moments run in numpy.  Every moment is an exact int64 sum of
    quantized values (both engines wrap mod 2⁶⁴), and the per-bucket
    (hash, id) sort orders are total, so the moment set — and therefore
    every R² — is bit-identical to the distributed plan; r2_from_moments
    and the overflow guard are shared verbatim.  Past the cap the
    window+join plan below runs unchanged (its bucket-bounded sorts
    spill; a fetch would not)."""
    p = len(features)
    b = F.pmod(F.conv(F.substring(F.md5(F.col(id_col).cast("string")),
                                  1, 8), 16, 10).cast("long"),
               F.lit(n_buckets))
    labels_all = ["true"] + [f"perm{i}" for i in range(1, n_perm + 1)]
    pre = df.na.drop(subset=[*features, target])
    tbl = fetch_local(pre.select(
        F.col(id_col).alias("_id"), b.alias("_b"),
        *[F.col(c).cast("double").alias(f"_x{i}")
          for i, c in enumerate(features)],
        F.col(target).cast("double").alias("_y"),
        *[F.md5(F.concat(F.lit(lb), F.col(id_col).cast("string")))
          .alias(f"_h_{lb}") for lb in labels_all[1:]]), width=p + 2)
    if tbl is not None:
        return _perm_importance_local(tbl, labels_all, scale, p)
    # the window+join plan consumes `pre` twice (x side and stacked y
    # side): persist so the caller's upstream lineage runs once
    from pyspark import StorageLevel
    pre = pre.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _perm_importance_distributed(
            pre, id_col, features, target, labels_all, scale, b, p)
    finally:
        pre.unpersist()


def _perm_importance_local(tbl, labels_all, scale, p):
    import math

    import numpy as np

    bv = tbl.column("_b").to_numpy()
    idv = tbl.column("_id").to_numpy()
    qz = [np.ones(tbl.num_rows, dtype=np.int64)] + [
        np.floor(tbl.column(f"_x{i}").to_numpy() * scale + 0.5)
        .astype(np.int64) for i in range(p)]
    qy = np.floor(tbl.column("_y").to_numpy() * scale
                  + 0.5).astype(np.int64)
    # x side ordered by (bucket, id); y side by (bucket, hash, id):
    # positions align per bucket because both sorts share the
    # bucket counts — the same (bucket, rank) pairing as the join
    xi = np.lexsort((idv, bv))
    base_m = {"n": tbl.num_rows, "yy": int((qy * qy).sum()),
              "sy": int(qy.sum())}
    for i in range(p + 1):
        for j in range(i, p + 1):
            base_m[f"m_{i}_{j}"] = int((qz[i] * qz[j]).sum())
    out = []
    for lb in labels_all:
        m = dict(base_m)
        if lb == "true":
            for i in range(p + 1):
                m[f"v_{i}"] = int((qz[i] * qy).sum())
        else:
            h = np.asarray(tbl.column(f"_h_{lb}").to_numpy(), dtype="S32")
            yi = np.lexsort((idv, h, bv))
            yp = qy[yi]
            for i in range(p + 1):
                m[f"v_{i}"] = int((qz[i][xi] * yp).sum())
        _check_moment_overflow(m, p)
        r2 = r2_from_moments(m, p)
        out.append((lb, int(math.floor(r2 * PERM_QSCALE + 0.5))))
    return out


def _perm_importance_distributed(pre, id_col, features, target, labels,
                                 scale, b, p):
    import math

    base = pre.withColumn("_b", b)
    w_id = Window.partitionBy("_b").orderBy(F.col(id_col))
    base = base.withColumn("_rn", F.row_number().over(w_id))
    ranked = base
    for lb in labels[1:]:
        h = F.md5(F.concat(F.lit(lb), F.col(id_col).cast("string")))
        ranked = ranked.withColumn(
            f"_rn_{lb}",
            F.row_number().over(
                Window.partitionBy("_b").orderBy(h, F.col(id_col))))
    rn_of = {"true": "_rn", **{lb: f"_rn_{lb}" for lb in labels[1:]}}
    stacked = (ranked.select(
        "_b", F.col(target).alias("_y"),
        F.explode(F.array(*[
            F.struct(F.lit(lb).alias("label"),
                     F.col(rn_of[lb]).alias("_rn"))
            for lb in labels])).alias("_s"))
        .select("_b", "_y", F.col("_s.label").alias("label"),
                F.col("_s._rn").alias("_rn")))
    joined = base.drop(target).join(stacked, ["_b", "_rn"])
    z = [F.lit(1).cast("long")] + [
        F.floor(F.col(c).cast("double") * scale + F.lit(0.5)).cast("long")
        for c in features]
    y = F.floor(F.col("_y").cast("double") * scale
                + F.lit(0.5)).cast("long")
    aggs = [F.count(F.lit(1)).alias("n"), F.sum(y * y).alias("yy"),
            F.sum(y).alias("sy")]
    for i in range(p + 1):
        for j in range(i, p + 1):
            aggs.append(F.sum(z[i] * z[j]).alias(f"m_{i}_{j}"))
        aggs.append(F.sum(z[i] * y).alias(f"v_{i}"))
    rows = {r["label"]: r for r in
            joined.groupBy("label").agg(*aggs).collect()}
    out = []
    for lb in labels:
        r = rows[lb]
        _check_moment_overflow(r, p)
        r2 = r2_from_moments({k: r[k] for k in r.asDict()}, p)
        out.append((lb, int(math.floor(r2 * PERM_QSCALE + 0.5))))
    return out
