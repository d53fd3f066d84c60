"""Product quantization (PQ) for the embedding column — the third ANN
path next to brute-force/LSH/IVF (Jégou et al. 2011, "Product
quantization for nearest neighbor search").

At 100 TB the embedding table itself is the bottleneck: a 64-dim float
vector is 256 bytes, its PQ code (m=4 subspaces × 16 centroids) is 4
bytes.  Encode once, then answer top-k queries by ASYMMETRIC DISTANCE
(ADC): per query, an m×k lookup table of exact subspace distances is
built driver-side from the fitted centroids, and each row's approximate
distance is m integer table lookups — pure whole-stage-codegen column
expressions over the codes column, no join, no UDF, no vector reads.

Determinism contract (same family as ``ml/cluster.kmeans_lloyd_fit``):
inputs quantized to the LLOYD_SCALE integer grid, sub-quantizers are
deterministic Lloyd (first-k init by id, exact int64 distances,
lower-index tie break, ``floor(Σ/n + 0.5)`` centroid updates), so codes
and ADC distances are pure functions of the data — the SQL oracle refits
and re-encodes from scratch and matches bit-for-bit.

Scale shape: the fit is ``n_iter`` linear scans TOTAL (all m subspaces
assign + accumulate inside one Arrow pass per round — not m separate
fits); driver state is m·k·(dim/m) ints.  Encoding is one scan; ADC
scoring is one scan of (id, codes).
"""

from __future__ import annotations

import math
from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orange3_spark.ml.cluster import LLOYD_SCALE, quantize_array
from orange3_spark.session import arrow_matrix, fetch_local, local_frame


def _assign_codes_udf(cents):
    """pandas_udf: quantized vector → array<int> of m subspace codes
    (exact int64 distances, argmin ties to the lower code)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = [np.asarray(c, dtype=np.int64) for c in cents]   # m × k × sub
    m = len(C)
    sub = C[0].shape[1]

    @pandas_udf("array<int>")
    def _codes(s: pd.Series) -> pd.Series:
        if not len(s):
            return pd.Series(np.zeros((0, m), dtype="int32").tolist())
        X = np.stack([np.asarray(v, dtype=np.int64) for v in s])
        out = np.empty((len(X), m), dtype="int32")
        for j in range(m):
            Xj = X[:, j * sub:(j + 1) * sub]
            d = ((Xj[:, None, :] - C[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j] = np.argmin(d, axis=1)
        return pd.Series(list(out))

    return _codes


def pq_fit(df: DataFrame, id_col: str, *, array_col: str,
           m: int = 4, k: int = 16, n_iter: int = 2,
           quantize: float = LLOYD_SCALE, pre_quantized: bool = False):
    """Fit m deterministic sub-quantizers and encode the input.

    Returns ``(encoded, centroids)``: the input plus ``codes``
    (``array<int>`` of length m) and the fitted integer-grid centroid
    lists ``centroids[j][c]``.  The persisted quantized frame is exposed
    as ``encoded.pq_cache`` — unpersist once consumed (same contract as
    ``kmeans_lloyd_fit``).  ``pre_quantized=True`` takes ``array_col``
    as already-integer-grid values (e.g. IVF residuals) verbatim."""
    import numpy as np

    from orange3_spark.ml.cluster import rightsize_persist

    if pre_quantized:
        qdf = df.withColumn("_q", F.col(array_col).cast("array<bigint>"))
    else:
        qdf = df.withColumn("_q",
                            quantize_array(F.col(array_col), quantize))
    # Bounded local twin (the Lloyd-family pattern): one fetch replaces
    # the count + init-take + per-round suff-stats jobs; the local
    # rounds mirror _assign_codes_udf's exact-int64 distances/argmin and
    # the identical floor(Σ/n + 0.5) update, so the codebooks — and the
    # final distributed encoding — are bit-identical.  Past the fetch
    # cap the job-per-round loop runs.
    tbl = fetch_local(qdf.select(id_col, "_q"))
    local = tbl is not None and tbl.num_rows > 0
    if local:
        qdf, _ = rightsize_persist(qdf, n_rows=tbl.num_rows)
        X = arrow_matrix(tbl.column("_q"), np.int64)
        ids = tbl.column(id_col).to_pylist()
        first = X[sorted(range(len(ids)), key=ids.__getitem__)[:k]].tolist()
    else:
        qdf, _ = rightsize_persist(qdf)
        first = [[int(x) for x in r["_q"]]
                 for r in qdf.select(id_col, "_q").orderBy(id_col).take(k)]
    if not first:
        raise ValueError("pq_fit: empty input frame")
    dim = len(first[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    cents = [[row[j * sub:(j + 1) * sub] for row in first]
             for j in range(m)]

    if local and n_iter > 1:
        for _ in range(n_iter - 1):
            for j in range(m):
                Cj = np.asarray(cents[j], dtype=np.int64)
                Xj = X[:, j * sub:(j + 1) * sub]
                d = ((Xj[:, None, :] - Cj[None, :, :]) ** 2).sum(axis=2)
                codes_j = np.argmin(d, axis=1)
                for c in np.unique(codes_j):
                    msk = codes_j == c
                    n = int(msk.sum())
                    s = Xj[msk].sum(axis=0)
                    cents[j][int(c)] = [math.floor(int(x) / n + 0.5)
                                        for x in s]
    for _ in range(0 if local else n_iter - 1):
        coded = qdf.withColumn("codes", _assign_codes_udf(cents)(F.col("_q")))

        def _suff(it, sub=sub, m=m):
            acc: dict = {}
            for pdf in it:
                if not len(pdf):
                    continue
                X = np.stack([np.asarray(v, dtype=np.int64)
                              for v in pdf["_q"]])
                K_ = np.stack([np.asarray(v, dtype=np.int64)
                               for v in pdf["codes"]])
                for j in range(m):
                    Xj = X[:, j * sub:(j + 1) * sub]
                    for c in np.unique(K_[:, j]):
                        msk = K_[:, j] == c
                        a = acc.setdefault((j, int(c)),
                                           [0, np.zeros(sub, np.int64)])
                        a[0] += int(msk.sum())
                        a[1] += Xj[msk].sum(axis=0)
            rows = {"j": [], "cl": [], "n": [], "s": []}
            for (j, c), (n, s) in acc.items():
                rows["j"].append(j)
                rows["cl"].append(c)
                rows["n"].append(n)
                rows["s"].append(s.tolist())
            # empty partition → yield nothing: an all-empty dict frame
            # types "s" float64 and Arrow refuses the array<long> cast
            if rows["j"]:
                yield pd.DataFrame(rows)

        parts = (coded.select("_q", "codes")
                 .mapInPandas(_suff, "j int, cl int, n long, s array<long>")
                 .collect())
        agg: dict = {}
        for r in parts:
            key = (int(r["j"]), int(r["cl"]))
            n, s = agg.get(key, (0, None))
            sv = [int(x) for x in r["s"]]
            agg[key] = (n + int(r["n"]),
                        sv if s is None else [a + b for a, b in zip(s, sv)])
        for j in range(m):
            for c in range(k):
                if (j, c) in agg:
                    n, s = agg[(j, c)]
                    cents[j][c] = [math.floor(x / n + 0.5) for x in s]

    encoded = qdf.withColumn("codes", _assign_codes_udf(cents)(F.col("_q")))
    encoded.pq_cache = qdf
    return encoded, cents


def adc_table_q(centroids, qq: Sequence[int]):
    """Exact integer ADC lookup table ``d[j][c] = |q_j − centroid_jc|²``
    from an already-quantized query (python-int arithmetic, no
    overflow)."""
    m, k = len(centroids), len(centroids[0])
    sub = len(centroids[0][0])
    return [[sum((qq[j * sub + i] - centroids[j][c][i]) ** 2
                 for i in range(sub))
             for c in range(k)]
            for j in range(m)]


def adc_table(centroids, query_vec: Sequence[float], *,
              quantize: float = LLOYD_SCALE):
    """ADC table from a raw (double) query vector."""
    qq = [math.floor(float(x) * quantize + 0.5) for x in query_vec]
    return adc_table_q(centroids, qq)


def pq_adc_topk(encoded: DataFrame, centroids,
                query_vec: Sequence[float], *, id_col: str,
                n: int = 10, quantize: float = LLOYD_SCALE) -> DataFrame:
    """Top-n rows by asymmetric PQ distance to ``query_vec`` →
    ``(id_col, adist)``.  The distance is m ``element_at`` lookups on
    array literals — whole-stage codegen, one scan, partitioned top-n."""
    dist = _adc_lookup_expr(adc_table(centroids, query_vec,
                                      quantize=quantize))
    return (encoded.select(F.col(id_col), dist.cast("long").alias("adist"))
            .orderBy("adist", id_col).limit(n))


def _adc_lookup_expr(dtab, codes_col: str = "codes"):
    """m ``element_at`` lookups on array literals — one codegen column."""
    dist = None
    for j, row in enumerate(dtab):
        lut = F.array(*[F.lit(int(v)) for v in row])
        term = F.element_at(lut, F.element_at(F.col(codes_col), j + 1) + 1)
        dist = term if dist is None else dist + term
    return dist


def ivfpq_topk(df: DataFrame, query_vec: Sequence[float], *, id_col: str,
               array_col: str, n_cells: int = 16, nprobe: int = 4,
               m: int = 4, k: int = 16, n_iter: int = 2, topn: int = 10,
               quantize: float = LLOYD_SCALE) -> DataFrame:
    """IVF-PQ top-n: coarse quantizer (deterministic Lloyd cells) +
    product-quantized RESIDUALS + ADC over the probed cells only —
    the production ANN shape at 100 TB (probe nprobe/n_cells of the
    corpus, rank rows without ever reading a vector).

    Everything stays on the integer grid: residuals are differences of
    quantized ints, the sub-codebooks fit on them exactly, probe
    selection sorts exact integer cell distances (ties to the lower cell
    id), and ADC distances are integer table lookups — so the whole
    index + query is a pure function of the data and SQL-replayable.

    Returns ``(id_col, adist)``, ascending ``(adist, id)``; rows outside
    the probed cells are excluded by a cluster predicate that prunes at
    the scan when the encoded table is stored partitioned by cell."""
    from orange3_spark.ml.cluster import kmeans_lloyd_fit

    assigned, cells = kmeans_lloyd_fit(df, id_col, array_col=array_col,
                                       k=n_cells, n_iter=n_iter,
                                       quantize=quantize)
    spark = df.sparkSession
    cent_df = local_frame(
        spark, [(i, [int(x) for x in c]) for i, c in enumerate(cells)],
        "cluster int, cv array<long>")
    res = (assigned.join(F.broadcast(cent_df), "cluster")
           .select(id_col, "cluster",
                   F.zip_with("_q", "cv", lambda a, b: a - b).alias("rv")))
    encoded, books = pq_fit(res, id_col, array_col="rv", m=m, k=k,
                            n_iter=n_iter, pre_quantized=True)

    qq = [math.floor(float(x) * quantize + 0.5) for x in query_vec]
    order = sorted((sum((a - b) ** 2 for a, b in zip(qq, c)), i)
                   for i, c in enumerate(cells))
    probed = [i for _, i in order[:nprobe]]

    dist = None
    for cell in probed:
        rq = [a - b for a, b in zip(qq, cells[cell])]
        cell_dist = _adc_lookup_expr(adc_table_q(books, rq))
        dist = (F.when(F.col("cluster") == cell, cell_dist) if dist is None
                else dist.when(F.col("cluster") == cell, cell_dist))
    out = (encoded.where(F.col("cluster").isin(*[int(c) for c in probed]))
           .select(F.col(id_col), dist.cast("long").alias("adist"))
           .orderBy("adist", id_col).limit(topn))
    # expose both fit caches instead of dropping them: the returned
    # (lazy) top-n reads the encoded lineage, so an eager unpersist here
    # would force a full recompute at collect time.  Callers release via
    # these handles (or a session clearCache between queries, the
    # grading/bench contract).
    out.lloyd_cache = assigned.lloyd_cache
    out.pq_cache = encoded.pq_cache
    return out
