"""Distributed global row numbering — the zipWithIndex pattern expressed
JVM-side, replacing unpartitioned ``Window.orderBy`` (which funnels every
row through ONE reducer).

Shape: number rows inside each partition with a window PARTITIONED on
``spark_partition_id()`` (parallel — one reducer per source partition),
collect the metadata-sized per-partition counts to the driver, and add the
cumulative offset back as a literal ``CASE`` map.  Cost: one extra
map-side-combined count scan + one parallel exchange; driver state is one
long per partition.

Positional alignment is only meaningful when the frame has a deterministic
physical order (a parquet scan, or an explicit ``sort``) — the same caveat
the reference's row-indexing carries (``Orange/data/table.py`` positional
semantics are array-index based).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from orange3_spark.session import local_frame


def with_row_index(df: DataFrame, name: str = "_rn", *,
                   order_by: Optional[Sequence[Column]] = None) -> DataFrame:
    """Append a 1-based global row index column without a global window.

    ``order_by`` sorts first (a distributed range-partitioned sort); the
    index then follows that order.  Without it, the index follows the
    frame's physical partition/row order.
    """
    from pyspark.sql.window import Window

    if order_by is not None:
        df = df.sort(*order_by)
    part = df.withColumn("_pid", F.spark_partition_id()) \
             .withColumn("_mid", F.monotonically_increasing_id())
    counts = sorted(
        (r["_pid"], r["cnt"]) for r in
        part.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect())
    offsets: dict[int, int] = {}
    running = 0
    for pid, cnt in counts:
        offsets[pid] = running
        running += cnt
    # offsets ride in as a broadcast equi-join (a literal CASE chain would
    # bloat codegen at thousands of partitions)
    off_df = local_frame(
        df.sparkSession, [(int(pid), int(o)) for pid, o in offsets.items()],
        "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy("_mid")
    return (part.join(F.broadcast(off_df), "_pid")
                .withColumn(name, F.row_number().over(w) + F.col("_off"))
                .drop("_pid", "_mid", "_off"))
