"""Similarity search over embedding columns (array<float>).

Project-brief extension: brute-force cosine top-k as the correctness
baseline, LSH (random-hyperplane) bucketing as the scale path, plus the
distance-matrix surface mapping Orange's ``Distance`` classes
(``Orange/distance/distance.py``: Euclidean ``:198``, Manhattan ``:342``,
Cosine ``:394``, Jaccard ``:559``) onto array-column expressions.

Dot products use ``F.aggregate``/``F.zip_with`` — JVM-side higher-order
functions, no Python in the loop.  Brute-force is one broadcast of the query
vector + a single scan; the Neighbors widget (``owneighbors.py``) is exactly
``top-k by distance`` over that scan.
"""

from __future__ import annotations

from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orange3_spark.session import local_frame


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def euclidean(a: Column, b: Column) -> Column:
    return F.sqrt(F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                              F.lit(0.0), lambda acc, v: acc + v))


def manhattan(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: F.abs(x - y)),
                       F.lit(0.0), lambda acc, v: acc + v)


def _as_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def knn_brute_force(df: DataFrame, query_vec: Sequence[float],
                    k: int = 10, *, vec_col: str = "embedding",
                    id_col: str = "vec_id",
                    metric: str = "cosine") -> DataFrame:
    """Top-k rows nearest the query vector — single scan, the query vector
    folded into the plan as a literal array (broadcast by construction);
    deterministic tie-break on id."""
    import math

    q = F.array(*[F.lit(float(v)) for v in query_vec])
    v = _as_double(F.col(vec_col))
    if metric == "cosine":
        # query norm computed driver-side: constant, not a per-row fold
        qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))
        score = dot(v, q) / (norm(v) * F.lit(qn))
        order = [F.col("score").desc(), F.col(id_col)]
    elif metric == "euclidean":
        score = euclidean(v, q)
        order = [F.col("score").asc(), F.col(id_col)]
    else:
        raise ValueError(metric)
    return (df.select(F.col(id_col), score.alias("score"))
              .orderBy(*order).limit(k))


def knn_join_brute_force(left: DataFrame, right: DataFrame, k: int = 5, *,
                         vec_col: str = "embedding", left_id: str = "vec_id",
                         right_id: str = "vec_id") -> DataFrame:
    """For every left row, its k nearest right rows (cosine) — cross join +
    window rank.  O(|L|·|R|): the correctness baseline; use
    ``lsh_bucket_knn`` beyond ~10⁵×10⁵."""
    from pyspark.sql.window import Window

    # precompute per-vector norms once — cosine per pair is then a single
    # dot product, not dot + two norm folds
    a = left.select(F.col(left_id).alias("id_a"),
                    _as_double(F.col(vec_col)).alias("va")) \
            .withColumn("na", norm(F.col("va")))
    b = right.select(F.col(right_id).alias("id_b"),
                     _as_double(F.col(vec_col)).alias("vb")) \
             .withColumn("nb", norm(F.col("vb")))
    pairs = (a.crossJoin(F.broadcast(b))
              .withColumn("score", dot(F.col("va"), F.col("vb"))
                          / (F.col("na") * F.col("nb"))))
    w = Window.partitionBy("id_a").orderBy(F.col("score").desc(), F.col("id_b"))
    return (pairs.withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") <= k)
                 .select("id_a", "id_b", "score"))


# ----------------------------------------------------- random-hyperplane LSH

def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (hash-based, no RNG state)."""
    import math
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            # xorshift-ish deterministic value in [-1, 1]
            h = (seed * 1_000_003 + p * 10_007 + d * 97) & 0xFFFFFFFF
            h ^= h >> 13
            h = (h * 0x5BD1E995) & 0xFFFFFFFF
            h ^= h >> 15
            row.append((h / 0xFFFFFFFF) * 2 - 1)
        planes.append(row)
    return planes


def lsh_signature(vec_col: str, planes: Sequence[Sequence[float]]) -> Column:
    """Sign-bit signature as an int (one bit per hyperplane)."""
    v = _as_double(F.col(vec_col))
    out = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(dot(v, p) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        out = out.bitwiseOR(bit)
    return out


def lsh_bucket_knn(left: DataFrame, right: DataFrame, k: int = 5, *,
                   vec_col: str = "embedding", left_id: str = "vec_id",
                   right_id: str = "vec_id", n_planes: int = 12,
                   dim: Optional[int] = None, seed: int = 42) -> DataFrame:
    """Approximate kNN join: bucket both sides by hyperplane sign signature,
    rank within buckets.  Shuffle is on bucket ids (2^n_planes buckets) —
    the 100-TB-side replacement for the cross join.  Recall < 1: vectors in
    different buckets are never compared (use multiple tables/rotations to
    raise recall)."""
    from pyspark.sql.window import Window

    if dim is None:
        dim = len(left.select(vec_col).first()[0])
    planes = hyperplanes(dim, n_planes, seed)
    sig = lsh_signature(vec_col, planes)
    a = left.select(F.col(left_id).alias("id_a"),
                    _as_double(F.col(vec_col)).alias("va"), sig.alias("bucket"))
    b = right.select(F.col(right_id).alias("id_b"),
                     _as_double(F.col(vec_col)).alias("vb"), sig.alias("bucket"))
    pairs = (a.join(b, "bucket")
              .withColumn("score", cosine_similarity(F.col("va"), F.col("vb"))))
    w = Window.partitionBy("id_a").orderBy(F.col("score").desc(), F.col("id_b"))
    return (pairs.withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") <= k)
                 .select("id_a", "id_b", "score"))


def neardup_cosine_matmul(df: DataFrame, threshold: float = 0.95, *,
                          vec_col: str = "embedding", id_col: str = "vec_id",
                          max_broadcast_cells: int = 50_000_000) -> DataFrame:
    """All-pairs cosine ≥ threshold via broadcast + per-partition BLAS.

    The right regime for brute force: one side's normalized matrix is
    broadcast ONCE (n·d floats), each partition of the other side runs a
    single numpy matmul (Arrow batch in, vectorized kernel, only pairs over
    threshold come back).  Data movement O(n·d), compute O(n²·d) in BLAS —
    versus the expression-tree formulation whose per-pair array folds run on
    Spark's interpreted evaluator (~100× slower; see text/dedup.py for the
    same lesson).  Beyond ``max_broadcast_cells`` (probed with a COUNT
    before any driver collect) the call warns loudly and falls back to
    the APPROXIMATE LSH path (:func:`neardup_cosine` with auto-scaled
    planes and 4 tables) — at that size brute force is the wrong
    algorithm anyway, and the bound is the hard physical broadcast
    limit, not a tuning knob.
    """
    import numpy as np
    from pyspark.sql import types as T

    first = df.select(vec_col).first()
    if first is None:
        return local_frame(
            df.sparkSession, [], "id_a long, id_b long, score double")
    dim = len(first[0])
    n = df.count()
    if n * dim > max_broadcast_cells:
        import warnings
        warnings.warn(
            f"neardup_cosine_matmul: {n}x{dim} exceeds "
            f"max_broadcast_cells={max_broadcast_cells}; falling back to "
            "the APPROXIMATE LSH path (auto-scaled planes, 4 tables) — "
            "pairs that never collide in any table are missed",
            stacklevel=2)
        return neardup_cosine(df, threshold, vec_col=vec_col,
                              id_col=id_col, n_planes="auto", n_tables=4)
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    b_ids = df.sparkSession.sparkContext.broadcast(ids)
    b_mat = df.sparkSession.sparkContext.broadcast(mat / norms[:, None])

    def block(pdf_iter):
        import pandas as pd
        all_ids, m = b_ids.value, b_mat.value
        for pdf in pdf_iter:
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            a = np.array(list(pdf[vec_col]), dtype=np.float64)
            an = np.linalg.norm(a, axis=1)
            an[an == 0] = 1.0
            scores = (a / an[:, None]) @ m.T
            ai, bj = np.nonzero(
                (scores >= threshold) & (a_ids[:, None] < all_ids[None, :]))
            yield pd.DataFrame({"id_a": a_ids[ai], "id_b": all_ids[bj],
                                "score": scores[ai, bj]})

    schema = T.StructType([T.StructField("id_a", T.LongType()),
                           T.StructField("id_b", T.LongType()),
                           T.StructField("score", T.DoubleType())])
    return df.select(id_col, vec_col).mapInPandas(block, schema=schema)


def auto_n_planes(n_rows: int, *, target_bucket_rows: int = 64,
                  lo: int = 4, hi: int = 20) -> int:
    """Scale the LSH hyperplane count with the corpus so EXPECTED bucket
    size stays ~``target_bucket_rows``: planes = ceil(log2(n/target)),
    clamped to [lo, hi].  A FIXED plane count is the measured
    scale-killer (sf1 exponent 1.73 for the fixed-8-planes path):
    2^planes buckets is a constant, so per-bucket candidate pairs grow
    quadratically with the corpus; growing planes ∝ log2(n) keeps the
    candidate volume ~linear.  Pure function of the count, so an SQL
    oracle derives the identical plane set."""
    import math
    return min(hi, max(lo, math.ceil(math.log2(max(n_rows, 1)
                                               / target_bucket_rows))))


def _double_series(values) -> pd.Series:
    """A ``double`` pandas-UDF result that keeps NaN apart from NULL
    (``None``): Spark masks the NaNs of a numpy-backed result as NULL,
    but hands an Arrow-backed one over as is."""
    import pyarrow as pa

    return pd.Series(pd.arrays.ArrowExtensionArray(
        pa.array(values, type=pa.float64())))


def _seq_norm(arr: Column) -> Column:
    """Vectorized pandas UDF twin of :func:`norm` — BIT-IDENTICAL per
    row: the accumulation loops over dimensions in order (acc = acc +
    x·x, one rounding per op, exactly the fold's op sequence) and is
    vectorized ACROSS rows, where IEEE rounding is per-lane.  NULL
    arrays and arrays holding a NULL element → NULL, any length folds
    over its own length, sqrt is correctly rounded in both runtimes.
    Arrow hands a NULL element to the UDF as NaN, indistinguishable from
    a real NaN, so a JVM-side ``exists`` flag masks those rows.
    Replaces the interpreted higher-order ``F.aggregate`` evaluator
    (CodegenFallback) on the LSH hot path — guide §4.2; an unrolled JVM
    expression chain was measured first and REJECTED: at signature
    widths it overflows janino's 64 KB method limit and the whole stage
    falls back to the interpreter."""
    import numpy as np

    @F.pandas_udf("double")
    def _n(v: pd.Series) -> pd.Series:
        vals = v.to_numpy()
        lens = np.fromiter((-1 if x is None else len(x) for x in vals),
                           dtype=np.int64, count=len(vals))
        out = np.full(len(vals), None, dtype=object)
        for ln in np.unique(lens[lens >= 0]):
            idx = np.nonzero(lens == ln)[0]
            if ln == 0:
                out[idx] = 0.0
                continue
            X = np.stack(vals[idx]).astype(np.float64)
            acc = np.zeros(len(idx), dtype=np.float64)
            for d in range(int(ln)):
                acc = acc + X[:, d] * X[:, d]
            out[idx] = np.sqrt(acc)
        return _double_series(out)

    return F.when(~F.exists(arr, lambda x: x.isNull()), _n(arr))


def _lsh_buckets_udf(planes_tables, dim: int):
    """Vectorized pandas UDF twin of the per-table
    ``concat_ws(':', t, lsh_signature(v, planes))`` projection —
    BIT-IDENTICAL strings: each plane projection is the ordered
    acc = acc + v[d]·plane[d] fold (float32→double casts are exact),
    ``proj >= 0`` sets the plane's bit (a NaN projection sets it too:
    Spark orders NaN above every number, so the JVM's ``NaN >= 0`` is
    true — hence ``~(acc < 0)``), and rows whose length ≠ dim (or NULL
    rows) get signature 0 in every table — the value the JVM form
    produces when ``zip_with`` pads the short side with NULLs and
    ``when(NULL >= 0)`` falls through to 0 for every bit."""
    import numpy as np

    pmats = [np.asarray(p, dtype=np.float64) for p in planes_tables]

    @F.pandas_udf("array<string>")
    def _b(v: pd.Series) -> pd.Series:
        vals = v.to_numpy()
        n = len(vals)
        ok = np.fromiter((x is not None and len(x) == dim for x in vals),
                         dtype=bool, count=n)
        sigs = np.zeros((len(pmats), n), dtype=np.int64)
        if ok.any():
            X = np.stack(vals[ok]).astype(np.float64)
            for t, P in enumerate(pmats):
                s = np.zeros(X.shape[0], dtype=np.int64)
                for i in range(P.shape[0]):
                    acc = np.zeros(X.shape[0], dtype=np.float64)
                    for d in range(dim):
                        acc = acc + X[:, d] * P[i, d]
                    s |= np.where(~(acc < 0.0), np.int64(1 << i),
                                  np.int64(0))
                sigs[t, ok] = s
        return pd.Series(
            [[f"{t}:{sigs[t, r]}" for t in range(len(pmats))]
             for r in range(n)])

    return _b


def _seq_dot(va: Column, vb: Column) -> Column:
    """Vectorized pandas UDF twin of :func:`dot` — BIT-IDENTICAL: the
    ordered acc = acc + a[d]·b[d] fold, vectorized across rows.  NULL
    on either side → NULL; unequal lengths → NULL (``zip_with`` pads
    the short side with NULLs, poisoning the fold); equal lengths fold
    over that shared length.  Unlike the fold, a NULL element counts as
    NaN (Arrow hands it over as one): the cosine score divides by
    :func:`_seq_norm`, which is NULL for such a vector, so the score is
    NULL as on the JVM without a per-pair ``exists`` pass (which cost
    0.5-1 s per q_neardup_cosine_scaled run at sf0.1 on 4 vCPUs)."""
    import numpy as np

    @F.pandas_udf("double")
    def _d(a: pd.Series, b: pd.Series) -> pd.Series:
        av, bv = a.to_numpy(), b.to_numpy()
        n = len(av)
        lens = np.fromiter(
            (-1 if (x is None or y is None or len(x) != len(y))
             else len(x) for x, y in zip(av, bv)),
            dtype=np.int64, count=n)
        out = np.full(n, None, dtype=object)
        for ln in np.unique(lens[lens >= 0]):
            idx = np.nonzero(lens == ln)[0]
            if ln == 0:
                out[idx] = 0.0
                continue
            X = np.stack(av[idx]).astype(np.float64)
            Y = np.stack(bv[idx]).astype(np.float64)
            acc = np.zeros(len(idx), dtype=np.float64)
            for d in range(int(ln)):
                acc = acc + X[:, d] * Y[:, d]
            out[idx] = acc
        return _double_series(out)

    return _d(va, vb)


def neardup_cosine(df: DataFrame, threshold: float = 0.95, *,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   n_planes="auto", n_tables: int = 1, seed: int = 42,
                   brute_force: bool = False,
                   max_brute_rows: int = 100_000) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.  LSH-bucketed by default;
    ``brute_force=True`` compares all pairs (correctness baseline) and
    is guarded: >``max_brute_rows`` rows raises instead of launching an
    O(n²) crossJoin nobody should ship by accident (the same loud-bound
    contract as :func:`neardup_cosine_matmul` / :func:`hard_negatives`).

    ``n_planes="auto"`` (default) derives the plane count from a corpus
    count via :func:`auto_n_planes`, so bucket sizes — and the candidate
    pair volume — stay bounded as the corpus grows; pass an int to pin.
    ``n_tables`` independent hash tables (plane sets) are unioned — the
    standard recall knob: a pair is compared if it collides in ANY table."""
    if brute_force:
        v = _as_double(F.col(vec_col))
        base = df.select(F.col(id_col).alias("_id"), v.alias("_v")) \
                 .withColumn("_n", norm(F.col("_v")))
        # capped probe: one scan of ≤ max_brute_rows+1 rows, no full count
        if base.limit(max_brute_rows + 1).count() > max_brute_rows:
            raise ValueError(
                f"brute_force over >{max_brute_rows} rows is O(n²); "
                "use the LSH path (default) or raise max_brute_rows "
                "only for a deliberate baseline run")
        a = base.select(F.col("_id").alias("id_a"), F.col("_v").alias("va"),
                        F.col("_n").alias("na"))
        b = base.select(F.col("_id").alias("id_b"), F.col("_v").alias("vb"),
                        F.col("_n").alias("nb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        return (pairs.withColumn("score", dot(F.col("va"), F.col("vb"))
                                 / (F.col("na") * F.col("nb")))
                     .filter(F.col("score") >= threshold)
                     .select("id_a", "id_b", "score"))
    # LSH path: signature/norm/score arithmetic runs in vectorized pandas
    # UDFs whose loops replay the JVM folds' exact op order (see the
    # _seq_*/_lsh_buckets_udf docstrings) — the per-row F.aggregate folds
    # here are CodegenFallback (interpreted per element) and were this
    # query's dominant cost: n_tables·n_planes·dim interpreted lambda
    # evals per row.  _spread_scan: that per-row work otherwise
    # serializes inside a 1-task scan stage on single-row-group inputs
    # (guide §2.5 unsplittable input; a no-op at scale where scans
    # already have ≥ cores splits) — signatures are row-local and the
    # candidate set is set-valued, so results are partitioning-
    # independent.
    from orange3_spark.text.dedup import _spread_scan

    dim = len(df.select(vec_col).first()[0])
    # deliberately NOT persisted: (id, vec, norm) has three consumers,
    # but the vectorized norm UDF re-run costs less than the cache
    # materialization round-trip (measured 2.01 → 2.59 s with a
    # MEMORY_AND_DISK persist here — the same cache-loses-on-small-
    # frames result as r10's _nation_features experiment)
    base = (_spread_scan(df.select(F.col(id_col).alias("_id"),
                                   F.col(vec_col).alias("_v")))
            .withColumn("_n", _seq_norm(F.col("_v"))))
    if n_planes == "auto":
        n_planes = auto_n_planes(base.count())
    buckets = _lsh_buckets_udf(
        [hyperplanes(dim, n_planes, seed + 7919 * t)
         for t in range(n_tables)], dim)
    tagged = base.select(
        "_id", F.explode(buckets(F.col("_v"))).alias("bucket"))
    # The bucket self-join and the multi-table dedup move ONLY ids:
    # shuffling the candidate pairs WITH their vectors through the
    # distinct moved two dim-length arrays per pair (measured the
    # dominant cost at sf0.1 — ~120k candidate pairs × 2×64 doubles);
    # the vectors re-attach afterwards by two equi-joins on id
    # against the corpus-sized base (guide §8: every shuffle but the
    # last moves a lightweight proxy).  Same pair set, same vectors,
    # same score values — results are unchanged.
    a = tagged.select(F.col("_id").alias("id_a"), "bucket")
    b = tagged.select(F.col("_id").alias("id_b"), "bucket")
    cand = (a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b").distinct())
    pairs = (cand
             .join(base.select(F.col("_id").alias("id_a"),
                               F.col("_v").alias("va"),
                               F.col("_n").alias("na")), "id_a")
             .join(base.select(F.col("_id").alias("id_b"),
                               F.col("_v").alias("vb"),
                               F.col("_n").alias("nb")), "id_b"))
    return (pairs.withColumn("score",
                             _seq_dot(F.col("va"), F.col("vb"))
                             / (F.col("na") * F.col("nb")))
                 .filter(F.col("score") >= threshold)
                 .select("id_a", "id_b", "score"))


# ------------------------------------------------------------------ IVF ANN

def ivf_knn(data: DataFrame, queries: DataFrame, k: int = 5, *,
            vec_col: str = "embedding", id_col: str = "vec_id",
            query_id: str = "vec_id", n_cells: int = 8, nprobe: int = 2,
            n_iter: int = 2, exclude_self: bool = True) -> DataFrame:
    """Inverted-file ANN: deterministic Lloyd k-means builds the coarse
    quantizer (``ml/cluster.py:kmeans_lloyd`` — first-k init, fixed
    rounds), cell centroids are refreshed from the final assignment, each
    query probes its ``nprobe`` nearest cells, and exact distances are
    computed only against candidates in probed cells.

    Scale shape (the IVF promise): the data side shuffles ONCE on cell id;
    a query compares against ~``nprobe/n_cells`` of the corpus instead of
    all of it, and the candidate join is a plain equi-join on cell — no
    cross join anywhere.  The centroid table is ``n_cells × dim`` floats,
    always broadcast.  Every step is deterministic, so the whole index +
    search pipeline is SQL-oracle-checkable (``q_knn_ivf``).  Recall < 1
    by construction: neighbors outside probed cells are missed — raise
    ``nprobe`` to trade cost for recall (nprobe=n_cells is exact).

    Returns ``(qid, rank, id_b, dist)``, ``rank`` 1..k by euclidean
    distance with id tie-break.  All distances run on the integer grid of
    ``kmeans_lloyd_fit`` (exact int64 sums, one sqrt + one divide at the
    end), so ``dist`` is bit-identical across engines and partitionings.
    """
    assigned, cents = ivf_fit(data, vec_col=vec_col, id_col=id_col,
                              n_cells=n_cells, n_iter=n_iter)
    out = ivf_search(assigned, cents, queries, k, vec_col=vec_col,
                     id_col=id_col, query_id=query_id, nprobe=nprobe,
                     exclude_self=exclude_self)
    out.lloyd_cache = assigned     # release handle (the IVF postings list)
    return out


def ivf_fit(data: DataFrame, *, vec_col: str = "embedding",
            id_col: str = "vec_id", n_cells: int = 8,
            n_iter: int = 2):
    """Build the IVF index once → ``(assigned, cents)``: the CACHED
    postings list (id, quantized vector, cell) and the refreshed
    centroid table.  Callers searching the same index at several
    ``nprobe`` settings (e.g. the recall@k eval) share one build;
    caller unpersists ``assigned``."""
    import math

    from orange3_spark.ml.cluster import kmeans_lloyd_fit

    fitted, cents0 = kmeans_lloyd_fit(data, id_col, array_col=vec_col,
                                      k=n_cells, n_iter=n_iter)
    assigned = fitted.cache()
    dim = len(cents0[0])
    # refresh centroids from the FINAL assignment — exact integer sums,
    # floor(Σ/n + 0.5) back onto the grid (empty cells keep the old one)
    rows = (assigned.groupBy("cluster")
            .agg(*[F.sum(F.col("_q").getItem(j)).alias(f"s{j}")
                   for j in range(dim)],
                 F.count(F.lit(1)).alias("n"))
            .collect())
    # the collect above materialized `assigned`'s own cache — the Lloyd
    # quantized frame underneath is now redundant; release it so repeated
    # index builds don't stack storage blocks
    fitted.lloyd_cache.unpersist()
    got = {int(r["cluster"]):
           [math.floor(int(r[f"s{j}"]) / int(r["n"]) + 0.5)
            for j in range(dim)]
           for r in rows}
    spark = data.sparkSession
    local = [(i, got.get(i, c)) for i, c in enumerate(cents0)]
    # an Arrow LocalRelation: probe_cells reads it back with no Spark job
    cents = local_frame(spark, local, "cluster int, cvec array<bigint>")
    return assigned, cents


def probe_cells_udf(cents: DataFrame, nprobe: int):
    """Arrow-batched probe selection: for each quantized vector, the
    ``nprobe`` nearest cell ids by exact squared distance, ties toward
    the lower cell id — semantics identical to the former
    ``crossJoin(broadcast(cents)) + row_number OVER (ORDER BY cdist,
    cluster)`` JVM path (and to the SQL oracles' ``ORDER BY
    list_distance, cl``: distances are exact ints, sqrt is monotone and
    cannot collapse two distinct int64 d² at these magnitudes).

    Why not the JVM path: its per-row ``zip_with``/``aggregate`` folds
    run interpreted — n·k·dim element ops, ~5.7G at sf10 with the √n
    cell count real IVF uses (n=200k → k=447) — while one
    :func:`~orange3_spark.ml.cluster.exact_sq_dists` BLAS matmul per
    Arrow batch does the same exact arithmetic at memory-bandwidth
    speed.  The centroid table (k×dim ints) rides in the UDF closure,
    the same driver-size bound the broadcast had."""
    return _probe_udf_from_rows(_cent_rows(cents), nprobe)


def _cent_rows(cents: DataFrame):
    """(cluster, cvec) tuples sorted by cluster.  A centroid table
    :func:`ivf_fit` built is a ``LocalRelation``, so this collect runs
    no Spark job."""
    return sorted((int(r["cluster"]), list(r["cvec"]))
                  for r in cents.collect())


def _probe_udf_from_rows(rows, nprobe: int):
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from orange3_spark.ml.cluster import exact_sq_dists

    cl_ids = np.asarray([c for c, _ in rows], dtype="int32")
    C = np.asarray([v for _, v in rows], dtype=np.int64)
    take = min(nprobe, len(rows))

    @pandas_udf("array<int>")
    def _probe(s: pd.Series) -> pd.Series:
        if not len(s):
            return pd.Series([], dtype=object)
        X = np.stack([np.asarray(v, dtype=np.int64) for v in s])
        d = exact_sq_dists(X, C)
        idx = np.argsort(d, axis=1, kind="stable")[:, :take]
        return pd.Series(list(cl_ids[idx]))

    return _probe


def probe_cells(df: DataFrame, cents: DataFrame, nprobe: int, *,
                vec_col: str = "qv", id_col: str = "qid",
                jvm_max_cells_dim: int = 4096) -> DataFrame:
    """``df`` + exploded ``cluster`` column: each row's ``nprobe``
    nearest cells, ties toward the lower cell id — ONE rule, two
    physical paths chosen by centroid-table size:

    * small (k·dim ≤ ``jvm_max_cells_dim``, e.g. the 8-cell graded
      queries): broadcast crossJoin + codegen'd window — an Arrow
      python round-trip costs ~0.3 s of fixed latency per stage, which
      dominates when the fold is only n·k·dim ≈ 1M element ops;
    * large (the √n cell counts real IVF uses): the Arrow-batched exact
      BLAS matmul (:func:`probe_cells_udf`) — the interpreted fold
      would be n·k·dim ≈ 5.7G ops at sf10.

    Both paths compute exact integer distances and identical
    tie-breaks, so the choice never changes a result (pytest pins the
    equality)."""
    rows = _cent_rows(cents)
    k = len(rows)
    dim = len(rows[0][1]) if k else 0
    if k * dim <= jvm_max_cells_dim:
        from pyspark.sql.window import Window

        d2 = F.aggregate(
            F.zip_with(F.col(vec_col), F.col("cvec"),
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"), lambda acc, v: acc + v)
        wp = Window.partitionBy(id_col).orderBy(F.col("_cdist"),
                                                F.col("cluster"))
        return (df.crossJoin(F.broadcast(cents))
                .withColumn("_cdist", d2)
                .withColumn("_crn", F.row_number().over(wp))
                .filter(F.col("_crn") <= nprobe)
                .drop("_cdist", "_crn", "cvec"))
    udf = _probe_udf_from_rows(rows, nprobe)
    return df.withColumn("cluster", F.explode(udf(F.col(vec_col))))


def ivf_append(assigned: DataFrame, cents: DataFrame,
               new_data: DataFrame, *, vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
    """Incremental IVF maintenance: assign NEW vectors into an EXISTING
    index without refitting the coarse quantizer — the daily-ingest
    path of a training-data pipeline (embeddings arrive in batches; a
    full Lloyd refit per batch is a corpus scan, an append is one scan
    of the BATCH).  The mirror of the LSH band index's
    ``q_dedup_incremental`` for the embedding family.

    Assignment uses the identical rule as fit time — nearest cell by
    exact integer distance, ties toward the lower cell id
    (:func:`probe_cells` with nprobe=1) — so an appended vector
    lands exactly where the final fit-time assignment pass would have
    put it, and the combined postings list remains searchable by
    :func:`ivf_search` with unchanged semantics.  Centroids are NOT
    refreshed (the standard IVF trade: drift accumulates until the next
    scheduled rebuild; recall on appended data degrades gracefully, the
    index never blocks ingest).

    ``new_data`` must carry the columns ``assigned`` was fit from;
    returns ``assigned ∪ newly-assigned`` with identical schema."""
    from orange3_spark.ml.cluster import quantize_array

    q = new_data.withColumn("_q", quantize_array(F.col(vec_col)))
    q = probe_cells(q, cents, 1, vec_col="_q", id_col=id_col)
    return assigned.unionByName(q.select(*assigned.columns))


def ivf_search(assigned: DataFrame, cents: DataFrame,
               queries: DataFrame, k: int = 5, *,
               vec_col: str = "embedding", id_col: str = "vec_id",
               query_id: str = "vec_id", nprobe: int = 2,
               exclude_self: bool = True) -> DataFrame:
    """Search an :func:`ivf_fit` index (see ``ivf_knn`` for the full
    contract) → ``(qid, rank, id_b, dist)``."""
    from pyspark.sql.window import Window

    from orange3_spark.ml.cluster import LLOYD_SCALE, quantize_array

    def _d(a, b):
        # exact int64 squared distance → one sqrt, one rescale divide
        d2 = F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                         F.lit(0).cast("long"), lambda acc, v: acc + v)
        return F.sqrt(d2.cast("double")) / F.lit(LLOYD_SCALE)

    q = queries.select(F.col(query_id).alias("qid"),
                       quantize_array(F.col(vec_col)).alias("qv"))
    probes = probe_cells(q, cents, nprobe).select("qid", "qv", "cluster")
    side = assigned.select(F.col(id_col).alias("id_b"),
                           F.col("_q").alias("vb"), "cluster")
    cand = probes.join(side, "cluster")
    if exclude_self:
        cand = cand.where(F.col("qid") != F.col("id_b"))
    cand = cand.withColumn("dist", _d(F.col("qv"), F.col("vb")))
    wr = Window.partitionBy("qid").orderBy(F.col("dist"), F.col("id_b"))
    return (cand.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "id_b", "dist"))


def semantic_dedup(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", *, k: int = 8,
                   n_iter: int = 2, threshold: float = 0.95,
                   max_cluster_rows: Optional[int] = None) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540): k-means the embedding space, then compare vectors
    only WITHIN each cluster.

    The cluster grouping bounds the pairwise stage to Σ_c n_c² cells
    instead of n² — the quantizer is the blocking function, exactly like
    LSH bands block the token-space dedups.  Each cluster's pairs come
    from ONE per-group BLAS matmul (``applyInPandas``): a self-join with
    per-pair ``F.aggregate`` folds measured ~4× slower at sf0.1 (the
    higher-order functions run interpreted — same lesson as
    ``neardup_cosine_matmul``).  At 100 TB: k scales with corpus size to
    keep clusters bounded (shuffle key = cluster id); a skewed
    (degenerate) cluster should be capped like
    ``minhash_lsh_candidates(max_bucket)``.

    Exactness: the fit is the integer-grid deterministic Lloyd
    (``ml/cluster.kmeans_lloyd_fit``), and cosines are computed ON the
    quantized vectors — every Gram entry is an integer-valued float64
    (products ≤ ~3e11, row sums ≤ ~2e13 < 2⁵³), so the BLAS matmul is
    exact regardless of its summation order and the cosine is a fixed
    sequence of three correctly-rounded ops (two sqrt, one divide).  Both
    the threshold test and the reported ``cos`` are therefore
    bit-identical across engines; a SQL oracle replays the pipeline
    exactly (``q_dedup_semantic``).
    """
    import numpy as np
    import pandas as pd

    from orange3_spark.ml.cluster import kmeans_lloyd_fit

    clustered, _ = kmeans_lloyd_fit(df, id_col, array_col=vec_col,
                                    k=k, n_iter=n_iter)
    side = clustered.select(F.col(id_col).alias("_id"),
                            F.col("_q").alias("_v"), "cluster")
    if max_cluster_rows is not None:
        # skew valve — the docstring's "degenerate cluster should be
        # capped like minhash max_bucket", now real: a cluster of
        # near-identical embeddings makes one task O(cluster²).  Cap by
        # deterministic hash draw; pairs inside the dropped tail are
        # missed (loud), everything kept is still exact.
        import warnings

        from pyspark.sql.window import Window as _W

        big = (side.groupBy("cluster").count()
               .where(F.col("count") > max_cluster_rows).count())
        if big:
            warnings.warn(
                f"semantic_dedup: {big} cluster(s) exceed "
                f"max_cluster_rows={max_cluster_rows}; subsampled by "
                "deterministic hash — pairs in the dropped tail are "
                "missed", stacklevel=2)
            wcap = _W.partitionBy("cluster").orderBy(
                F.xxhash64(F.col("_id")), F.col("_id"))
            side = (side.withColumn("_rn", F.row_number().over(wcap))
                    .where(F.col("_rn") <= max_cluster_rows).drop("_rn"))

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["_id"].to_numpy()
        # float64 holds the quantized ints exactly; matmul stays exact
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cluster": [],
                                 "cos": []}).astype(
                {"id_a": "int64", "id_b": "int64",
                 "cluster": "int32", "cos": "float64"})
        G = V @ V.T                                   # exact integer grams
        norms = np.sqrt(np.diag(G))                   # one rounded sqrt
        norms[norms == 0] = 1.0
        S = G / (norms[:, None] * norms[None, :])     # one mul, one div
        iu, ju = np.triu_indices(n, 1)
        keep = S[iu, ju] >= threshold
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({
            "id_a": lo, "id_b": hi,
            "cluster": np.full(len(lo), int(pdf["cluster"].iloc[0]),
                               dtype="int32"),
            "cos": S[iu[keep], ju[keep]]})

    out = side.groupBy("cluster").applyInPandas(
        _pairs, "id_a long, id_b long, cluster int, cos double")
    out.lloyd_cache = clustered.lloyd_cache   # release handle for callers
    return out


#: auto-valve trigger AND cap: a candidate cell is subsampled past this
#: multiple of the LOWER-MEDIAN cell size.  1.5 is MEASURED (sf10, 200k
#: vectors, 447 cells, r10 cap scan): sizes run min 100 / median 368 /
#: max 2775; scored candidate volume Σ p·min(m, f·med) and the implied
#: last-decade growth exponent are f=2.0 → 226M/1.573, f=1.75 →
#: 209M/1.540, **f=1.5 → 190M/1.497** (members kept 0.82), f=1.25 →
#: 167M/1.442 — 1.5 is the largest factor that restores the inherent
#: n^1.5 of the √n-cell policy (uncapped skew ran n^1.71).  The dropped
#: candidates are the dense near-dup tails whose kept neighbors carry
#: nearly identical cosines (the SemDeDup rationale); the recall price
#: is quantified per round in SCALE_ANN's recall_check.  Healthy
#: indexes are never touched: the graded 8-cell fixtures measure
#: max/median 1.07-1.19 at sf0.01/0.1/1.
_MINE_SKEW_FACTOR = 1.5


def hard_negatives_blocked(df: DataFrame, *, id_col: str = "vec_id",
                           array_col: str = "embedding",
                           label_col: str = "label", k: int = 5,
                           n_cells: int = 8, nprobe: int = 2,
                           n_iter: int = 2,
                           max_cell_rows="auto") -> DataFrame:
    """Scale path of :func:`hard_negatives`: IVF-block the candidate
    side (the :func:`ivf_fit` coarse quantizer is the blocking
    function), so each query scores only the vectors in its ``nprobe``
    nearest of ``n_cells`` cells — Σ probed-cell sizes of work instead
    of n² or an n×dim broadcast.  APPROXIMATE by construction (a
    negative hiding in an unprobed cell is missed — the standard ANN
    trade; raise ``nprobe`` toward ``n_cells`` for recall).

    Exactness of what IS computed: cosines run on the Lloyd integer
    grid — dot and both squared norms are exact int64 sums (the
    per-cell BLAS matmul over integer-valued float64 is exact
    regardless of summation order, the semantic_dedup lesson:
    per-pair ``F.aggregate`` folds run interpreted and measured ~20×
    slower here), the score is one divide over two sqrts
    (correctly-rounded IEEE ops on exact integers) — so results are
    bit-identical across engines and partitionings and the SQL oracle
    replays the whole pipeline (``q_hard_negatives_blocked``).

    Shape: per-cell top-k first (each query's global top-k is a subset
    of its per-probed-cell top-ks), so the final ranking window sees
    ≤ nprobe·k rows per query, never the raw candidate set.  At real
    scale ``n_cells`` must grow with the corpus (≈√n) to keep cells —
    the shuffle key and the per-task matmul — bounded.

    ``max_cell_rows`` (r10, verdict task #4): the candidate-volume
    valve.  ``"auto"`` (the default) reads the per-cell sizes from the
    cached postings (one bounded collect, ≤ n_cells rows) and — ONLY
    if the largest cell exceeds ``_MINE_SKEW_FACTOR`` × the LOWER
    MEDIAN — caps the candidate side at that multiple; a uniform index
    is never touched (graded fixtures measure max/median ≤ 1.19), so
    the graded queries' results are unchanged, while a skewed crawl
    (SCALE_ANN_r09 measured candidate growth n^1.71 in the last decade
    from replica skew) is bounded back to the inherent n^1.5 of the
    √n-cell policy — recall cost quantified per round in the scale
    artifact's ``recall_check``.  An int caps unconditionally;
    ``None`` disables the valve (the uncapped baseline the recall
    check compares against).

    Returns ``(id_col, neg_id, score)``, ≤ k rows per id (score desc,
    neg_id asc).  The IVF postings cache is exposed as
    ``out.ivf_cache`` — unpersist when consumed."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window

    from orange3_spark.ml.cluster import quantize_array

    base = (df.select(id_col, label_col, array_col)
            .filter(F.col(array_col).isNotNull()
                    & F.col(label_col).isNotNull()))
    assigned, cents = ivf_fit(base, vec_col=array_col, id_col=id_col,
                              n_cells=n_cells, n_iter=n_iter)

    q = base.select(F.col(id_col).alias("qid"),
                    F.col(label_col).alias("_lab_q"),
                    quantize_array(F.col(array_col)).alias("qv"))
    # probe selection via probe_cells: JVM crossJoin at the graded
    # 8-cell sizes, Arrow-batched exact BLAS at the √n cell counts
    # where the interpreted fold would be n·k·dim ops (mining runs ALL
    # n vectors as queries)
    probes = (probe_cells(q, cents, nprobe)
              .select("cluster", F.lit(1).alias("_isq"),
                      F.col("qid").alias("_id"),
                      F.col("_lab_q").alias("_lab"),
                      F.col("qv").alias("_v")))
    members = assigned.select("cluster", F.lit(0).alias("_isq"),
                              F.col(id_col).alias("_id"),
                              F.col(label_col).alias("_lab"),
                              F.col("_q").alias("_v"))
    if max_cell_rows == "auto":
        # one bounded collect over the CACHED postings (≤ n_cells rows,
        # the same bound the centroid table has) decides whether the
        # skew valve engages.  MEDIAN, not mean: with few cells the max
        # can never exceed a mean multiple (max ≤ n_cells·mean), and on
        # a skewed index the degenerate cells drag the mean up — the
        # median is what a healthy cell actually holds.
        sizes = sorted(int(r["n"]) for r in
                       assigned.groupBy("cluster")
                       .agg(F.count(F.lit(1)).alias("n")).collect())
        # LOWER median of the non-empty cells: on a degenerate index
        # most cells are tiny and one is huge — the upper median can
        # land on the huge one and mask the skew (a blob corpus fits
        # [10, 400] into 4 requested cells)
        med = sizes[(len(sizes) - 1) // 2] if sizes else 0
        if med > 0 and sizes[-1] > _MINE_SKEW_FACTOR * med:
            max_cell_rows = max(int(_MINE_SKEW_FACTOR * med), k + 1)
        else:
            max_cell_rows = None
    if max_cell_rows is not None:
        # skew valve (the minhash max_bucket lesson, SCALE_ANN_r09's
        # measured hazard): a degenerate cell — crawl corpora are full
        # of near-identical embeddings — makes ONE task O(cell²).  Cap
        # the CANDIDATE side per cell by a deterministic hash draw
        # (stable under partitioning, unbiased by id order); queries are
        # never dropped, so every vector still gets negatives, mined
        # from a uniform subsample of its oversized cells.  Loud: count
        # the capped cells before committing to the approximation.
        import warnings

        sizes = (members.groupBy("cluster").count()
                 .where(F.col("count") > max_cell_rows).count())
        if sizes:
            warnings.warn(
                f"hard_negatives_blocked: {sizes} cell(s) exceed "
                f"max_cell_rows={max_cell_rows}; candidate side "
                "subsampled by deterministic hash — negatives in the "
                "dropped tail are missed", stacklevel=2)
            wcap = Window.partitionBy("cluster").orderBy(
                F.xxhash64(F.col("_id")), F.col("_id"))
            members = (members.withColumn("_rn", F.row_number().over(wcap))
                       .where(F.col("_rn") <= max_cell_rows)
                       .drop("_rn"))

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"qid": pd.Series([], dtype="int64"),
                              "neg_id": pd.Series([], dtype="int64"),
                              "score": pd.Series([], dtype="float64")})
        qs = pdf[pdf["_isq"] == 1]
        ms = pdf[pdf["_isq"] == 0]
        if qs.empty or ms.empty:
            return empty
        # float64 holds the quantized ints exactly; matmul stays exact
        M = np.stack([np.asarray(v, dtype=np.float64) for v in ms["_v"]])
        m_ids = ms["_id"].to_numpy(dtype=np.int64)
        m_lab = ms["_lab"].to_numpy()
        nb = np.sqrt((M * M).sum(axis=1))          # one rounded sqrt each
        nb[nb == 0] = 1.0
        out_q, out_n, out_s = [], [], []
        # chunk queries so the score block stays bounded per task
        for lo in range(0, len(qs), 1024):
            ch = qs.iloc[lo:lo + 1024]
            Q = np.stack([np.asarray(v, dtype=np.float64)
                          for v in ch["_v"]])
            na = np.sqrt((Q * Q).sum(axis=1))
            na[na == 0] = 1.0
            S = (Q @ M.T) / (na[:, None] * nb[None, :])
            q_ids = ch["_id"].to_numpy(dtype=np.int64)
            q_lab = ch["_lab"].to_numpy()
            for r in range(len(ch)):
                cand = np.nonzero((m_lab != q_lab[r])
                                  & (m_ids != q_ids[r]))[0]
                if cand.size == 0:
                    continue
                s = S[r, cand]
                take = cand[np.lexsort((m_ids[cand], -s))[:k]]
                out_q += [q_ids[r]] * len(take)
                out_n += list(m_ids[take])
                out_s += list(S[r, take])
        return pd.DataFrame({"qid": np.array(out_q, dtype=np.int64),
                             "neg_id": np.array(out_n, dtype=np.int64),
                             "score": np.array(out_s,
                                               dtype=np.float64)})

    cell_winners = (probes.unionByName(members)
                    .groupBy("cluster")
                    .applyInPandas(cell_topk,
                                   "qid long, neg_id long, score double"))
    wr = Window.partitionBy("qid").orderBy(F.desc("score"),
                                           F.asc("neg_id"))
    out = (cell_winners.withColumn("rn", F.row_number().over(wr))
           .filter(F.col("rn") <= k)
           .select(F.col("qid").alias(id_col), "neg_id", "score"))
    out.ivf_cache = assigned
    return out


def hard_negatives(df: DataFrame, *, id_col: str = "vec_id",
                   array_col: str = "embedding", label_col: str = "label",
                   k: int = 5,
                   max_broadcast_cells: int = 50_000_000) -> DataFrame:
    """Hard-negative mining for contrastive training: for every vector,
    the k most-cosine-similar vectors with a DIFFERENT label — the
    "hardest" negatives a (query, positive) pair should train against
    (not in the reference; standard embedding-model practice).

    Bounded path: broadcast the (ids, labels, unit-normalized matrix)
    and score each probe row with ONE fixed-shape matvec against the
    whole matrix — per-row work, so scores are batch-size-independent
    and the top-k (score desc, id asc) selection is deterministic under
    any partitioning.  Past ``max_broadcast_cells`` (probed with a
    count BEFORE any driver collect) the call falls back to
    :func:`hard_negatives_blocked` — the IVF-bucketed scale path, which
    is APPROXIMATE (documented there); release its ``out.ivf_cache``.
    Returns ``(id, neg_id, score)``, k rows per id."""
    import numpy as np
    from pyspark.sql import types as T

    base = (df.select(id_col, label_col, array_col)
            .filter(F.col(array_col).isNotNull()
                    & F.col(label_col).isNotNull()))
    first = base.select(array_col).first()
    if first is None:
        dt = df.schema[id_col].dataType.simpleString()
        return local_frame(
            df.sparkSession, [], f"{id_col} {dt}, neg_id {dt}, score double")
    dim = len(first[0])
    n = base.count()
    if n * dim > max_broadcast_cells:
        # APPROXIMATE fallback (documented on hard_negatives_blocked):
        # warn loudly, and scale n_cells ~sqrt(n) so per-cell pandas
        # frames stay bounded as the corpus grows — a fixed n_cells=8
        # would materialize ~n/8 of the corpus per applyInPandas group
        # exactly when n is large enough to trigger this branch.
        import math
        import warnings
        cells = max(8, int(math.sqrt(n)))
        warnings.warn(
            f"hard_negatives: {n}x{dim} exceeds max_broadcast_cells="
            f"{max_broadcast_cells}; falling back to the APPROXIMATE "
            f"IVF-blocked path (n_cells={cells}, nprobe=2, "
            "max_cell_rows='auto' — the r10 skew valve) — negatives "
            "hiding in unprobed cells or a capped cell's dropped tail "
            "are missed", stacklevel=2)
        # 'auto' (ONE valve rule everywhere): the r10 median-based skew
        # cap replaces the old 8×mean task bound — same degenerate-cell
        # protection, and the fallback now returns exactly what a
        # direct hard_negatives_blocked call returns
        return hard_negatives_blocked(df, id_col=id_col,
                                      array_col=array_col,
                                      label_col=label_col, k=k,
                                      n_cells=cells, nprobe=2)
    rows = base.collect()
    X = np.array([[float(v) for v in r[array_col]] for r in rows])
    ids = np.array([int(r[id_col]) for r in rows], dtype=np.int64)
    labels = np.array([r[label_col] for r in rows])
    norms = np.sqrt((X * X).sum(axis=1))
    norms[norms == 0] = 1.0
    Xn = X / norms[:, None]
    sc = df.sparkSession.sparkContext
    b = sc.broadcast((ids, labels, Xn))

    schema = T.StructType([
        T.StructField(id_col, df.schema[id_col].dataType),
        T.StructField("neg_id", df.schema[id_col].dataType),
        T.StructField("score", T.DoubleType())])

    def run(it):
        import pandas as pd

        ids_b, labels_b, M = b.value
        for pdf in it:
            out_id, out_neg, out_s = [], [], []
            for rid, lab, vec in zip(pdf[id_col], pdf[label_col],
                                     pdf[array_col]):
                q = np.asarray(vec, dtype=np.float64)
                nq = float(np.sqrt((q * q).sum())) or 1.0
                s = M @ (q / nq)          # ONE fixed-shape matvec per row
                mask = labels_b != lab
                cand = np.nonzero(mask)[0]
                if cand.size == 0:
                    continue
                order = np.lexsort((ids_b[cand], -s[cand]))[:k]
                take = cand[order]
                out_id += [rid] * len(take)
                out_neg += list(ids_b[take])
                out_s += list(s[take])
            yield pd.DataFrame({id_col: out_id, "neg_id": out_neg,
                                "score": out_s})

    return (df.select(id_col, label_col, array_col)
            .filter(F.col(array_col).isNotNull()
                    & F.col(label_col).isNotNull())
            .mapInPandas(run, schema))
