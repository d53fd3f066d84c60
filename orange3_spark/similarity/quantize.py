"""Scalar int8 embedding quantization — storage/compute shrink for ANN.

At 100 TB the embedding column dominates storage and shuffle width; the
standard remedy before PQ/IVF is symmetric per-vector int8 quantization
(q_i = round(x_i / max|x| · 127)), a 4× shrink that keeps cosine
ordering nearly intact.  Formulated as posexplode + window max +
groupBy: whole-stage codegen end to end (no HOF lambdas — they are
CodegenFallback and their two-arg form silently binds (element, index)),
and every emitted statistic is an exact integer, so the oracle replays
it bit-for-bit.

FLOAT→DOUBLE casts are exact; ``max(abs(x))`` is order-independent; the
only rounding is ``floor(v + 0.5)`` on an IEEE expression mirrored
verbatim in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from orange3_spark.session import local_frame


def quantize_int8_codes(df: DataFrame, *, id_col: str = "vec_id",
                        array_col: str = "embedding") -> DataFrame:
    """Long-form int8 codes ``(id_col, pos, q)`` with ``pos`` 1-based,
    plus the per-vector ``scale`` — q = round-half-up(x/scale·127)
    clamped to [-127, 127]; an all-zero vector quantizes to zeros."""
    x = (df.select(F.col(id_col),
                   F.posexplode(F.col(array_col).cast("array<double>"))
                   .alias("_pos", "x"))
         .select(id_col, (F.col("_pos") + 1).alias("pos"), "x"))
    w = Window.partitionBy(id_col)
    x = x.withColumn("scale", F.max(F.abs(F.col("x"))).over(w))
    q = (F.when(F.col("scale") == 0, F.lit(0))
         .otherwise(
             F.greatest(F.lit(-127), F.least(F.lit(127),
                 F.floor(F.col("x") / F.col("scale") * F.lit(127.0)
                         + F.lit(0.5)))))
         .cast("long"))
    return x.select(id_col, "pos", q.alias("q"), "scale")


def quantize_int8_summary(df: DataFrame, *, id_col: str = "vec_id",
                          array_col: str = "embedding") -> DataFrame:
    """Per-vector quantization summary ``(id_col, scale, sum_q,
    sum_abs_q, dot_pos)`` — exact-integer checksums (position-weighted
    ``dot_pos`` pins element order) suitable for hash verification and
    drift monitoring of a quantized embedding store."""
    codes = quantize_int8_codes(df, id_col=id_col, array_col=array_col)
    return (codes.groupBy(id_col, "scale")
            .agg(F.sum("q").cast("long").alias("sum_q"),
                 F.sum(F.abs(F.col("q"))).cast("long").alias("sum_abs_q"),
                 F.sum(F.col("q") * F.col("pos")).cast("long")
                 .alias("dot_pos"))
            .select(id_col, "scale", "sum_q", "sum_abs_q", "dot_pos"))


# ------------------------------------------------ JL random projection

RP_SCALE = 1 << 20   # 2^20 fixed-point for inputs AND weights


def rp_matrix(in_dim: int, out_dim: int, *, seed: int = 42):
    """Deterministic quantized Gaussian projection matrix
    ``[(i, j, wq)]`` (Johnson–Lindenstrauss): seeded numpy, scaled by
    1/sqrt(out_dim), then fixed-point ×2^20 integers — so the
    projection below is EXACT integer arithmetic (associative under any
    partitioning, replayable as SQL literals)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    W = rng.standard_normal((in_dim, out_dim)) / np.sqrt(out_dim)
    Wq = np.floor(W * RP_SCALE + 0.5).astype(np.int64)
    return [(i, j, int(Wq[i, j]))
            for i in range(in_dim) for j in range(out_dim)]


def random_projection(df: DataFrame, *, id_col: str = "vec_id",
                      array_col: str = "embedding", out_dim: int = 16,
                      seed: int = 42, in_dim: int | None = None) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction → long-form
    ``(id_col, j, yq)`` with ``yq = Σ round(x_i·2^20)·wq_ij`` — the 4×+
    shuffle-width shrink before ANN indexing, as exact int64 sums
    (|x|≲2⁷, |w|≲2³ ⇒ |term|≲2^47·dim < 2^63).

    Plan: row-local posexplode → broadcast join with the (in_dim ×
    out_dim) weight table → one map-side-combined groupBy.  Recover the
    float projection as ``yq / 2^40``."""
    if in_dim is None:
        first = df.select(F.size(array_col).alias("n")).first()
        in_dim = int(first["n"])
    spark = df.sparkSession
    W = local_frame(spark, rp_matrix(in_dim, out_dim, seed=seed),
                    "i int, j int, wq long")
    x = (df.select(F.col(id_col),
                   F.posexplode(F.col(array_col).cast("array<double>"))
                   .alias("i", "xv"))
         .withColumn("xq", F.floor(F.col("xv") * F.lit(float(RP_SCALE))
                                   + F.lit(0.5)).cast("long"))
         .drop("xv"))
    return (x.join(F.broadcast(W), "i")
            .groupBy(id_col, "j")
            .agg(F.sum(F.col("xq") * F.col("wq")).alias("yq")))
