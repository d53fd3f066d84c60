"""Basket format: sparse ``name=value`` lines → long-form DataFrame.

Reference: ``Orange/data/io.py:221-245`` + Cython ``_io.pyx`` build a sparse
CSR matrix.  Sparse-on-Spark stays LONG FORM ``(row_id, key, value)``
(SURVEY §1.2: sparsity either stays long-form or becomes an ml.linalg
SparseVector at the ML boundary) — the format maps to text-scan + split +
explode, fully distributed, no driver assembly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orange3_spark.session import local_frame


def read_basket(spark: SparkSession, path: str) -> DataFrame:
    """``(row_id, key, value)`` rows; bare items get value 1.0."""
    lines = (spark.read.text(path)
             .withColumn("row_id", F.monotonically_increasing_id()))
    items = lines.select(
        "row_id",
        F.explode(F.split(F.col("value"), r",\s*")).alias("item"))
    items = items.filter(F.trim("item") != "")
    kv = F.split(F.col("item"), "=", 2)
    return items.select(
        "row_id",
        F.trim(kv.getItem(0)).alias("key"),
        F.coalesce(F.try_element_at(kv, F.lit(2)).cast("double"),
                   F.lit(1.0)).alias("value"))


def basket_to_wide(long_df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Optional pivot to a wide table (zeros filled) — distinct keys must be
    bounded; pass ``keys`` explicitly at scale to skip the probe."""
    p = long_df.groupBy("row_id").pivot("key", keys).agg(F.first("value"))
    return p.na.fill(0.0, [c for c in p.columns if c != "row_id"])


def basket_to_sparse_vectors(long_df: DataFrame, dim: int | None = None,
                             keys: list[str] | None = None) -> DataFrame:
    """``(row_id, features: SparseVector)`` for the MLlib boundary.

    Everything heavy is JVM-side: the key→index mapping is a broadcast
    join (unknown keys drop, like the reference's basket vocabulary),
    the per-row (index, value) list is a ``sort_array(collect_list)``,
    and only the final ``SparseVector(dim, indices, values)`` wrap is
    Python — an Arrow-batched UDF (``useArrow=True``; the plain
    pandas_udf path can't carry VectorUDT through Arrow, the
    Arrow-optimized scalar UDF can), zero row-at-a-time pickling.
    """
    from pyspark.ml.linalg import SparseVector, VectorUDT

    if keys is None:
        keys = [r[0] for r in
                long_df.select("key").distinct().orderBy("key").collect()]
    dim = dim or len(keys)
    spark = long_df.sparkSession
    idx_df = local_frame(
        spark, [(k, i) for i, k in enumerate(keys)], "key string, _idx int")
    agg = (long_df.join(F.broadcast(idx_df), "key")
           .groupBy("row_id")
           .agg(F.sort_array(
               F.collect_list(F.struct("_idx", "value"))).alias("_kv"))
           .select("row_id",
                   F.col("_kv._idx").alias("_idx"),
                   F.col("_kv.value").cast("array<double>").alias("_val")))
    # a row whose keys are ALL outside the vocabulary must still appear
    # (as an all-zero vector) — the inner join above would drop it and
    # the row would silently vanish at the MLlib hand-off
    agg = (long_df.select("row_id").distinct()
           .join(agg, "row_id", "left")
           .select("row_id",
                   F.coalesce("_idx", F.array().cast("array<int>"))
                   .alias("_idx"),
                   F.coalesce("_val", F.array().cast("array<double>"))
                   .alias("_val")))

    @F.udf(returnType=VectorUDT(), useArrow=True)
    def assemble(indices, values):
        return SparseVector(dim, list(indices), list(values))

    return agg.select("row_id", assemble("_idx", "_val").alias("features"))
