"""Deterministic sketches: KMV distinct-count and Count-Min frequency.

At 100 TB, exact `count(DISTINCT x)` and exact per-item frequencies are
full-shuffle aggregations over unbounded key spaces; the classic answer
is a BOUNDED-STATE sketch (Bar-Yossef et al. 2002 KMV; Cormode &
Muthukrishnan 2005 CMS).  Spark ships HLL++ (`approx_count_distinct`),
but its estimate is engine-internal and not replayable — these sketches
instead use the engine-portable md5 hash family the CV folds / samplers
already standardize on, so every estimate is a pure integer function of
the data that DuckDB reproduces bit-for-bit (true "approximate but
deterministic": the approximation is in the ESTIMATOR, never in the
execution).

Scale shape:
  * KMV keeps the k smallest distinct 32-bit hash values per group — a
    per-partition Arrow pre-prune bounds the global merge input to
    k·partitions rows, then one partitioned window takes the global
    k-min set.  Estimate = ``(k−1)·2³² DIV h_k`` (exact integer
    division; relative error ~1/√k).
  * CMS is a depth×width integer count table (one groupBy over
    ``depth`` exploded lanes per row — bounded output regardless of
    input key cardinality); a point estimate is the min over depth
    lane counts, an overestimate by construction.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from orange3_spark.session import local_frame

#: KMV hashes are the first 8 md5 hex digits → uniform on [0, 2³²)
_KMV_SPACE = 1 << 32


def _h32(col) -> object:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def kmv_distinct(df: DataFrame, col: str, *, group_by: str,
                 k: int = 256) -> DataFrame:
    """K-minimum-values distinct-count estimate per group →
    ``(group_by, n_kept, h_k, est_distinct)``.

    Exactly-k contract: when a group has fewer than k distinct hashes
    the estimate IS the exact distinct count (``n_kept``); otherwise
    ``(k−1)·2³² DIV h_k`` with ``h_k`` the k-th smallest hash."""
    import pandas as pd

    dist = (df.select(F.col(group_by).cast("string").alias("g"),
                      _h32(F.col(col)).alias("h"))
            .groupBy("g", "h").agg(F.lit(1)))

    def _prune(it):
        # per-partition k smallest per group: bounds the merge input to
        # k·partitions rows; the global k-min set is unchanged (any
        # global top-k member is a partition top-k member)
        for pdf in it:
            if len(pdf):
                yield (pdf.sort_values(["g", "h"])
                       .groupby("g", sort=False).head(k)[["g", "h"]])
            else:
                yield pd.DataFrame({"g": pd.Series([], dtype=str),
                                    "h": pd.Series([], dtype="int64")})

    pruned = dist.select("g", "h").mapInPandas(_prune, "g string, h long")
    w = Window.partitionBy("g").orderBy("h")
    kmin = (pruned.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k))
    return (kmin.groupBy("g")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.max("h").alias("h_k"))
            .select(F.col("g").alias(group_by), "n_kept", "h_k",
                    F.when(F.col("n_kept") < k, F.col("n_kept"))
                    .otherwise(F.expr(f"(({k} - 1) * {_KMV_SPACE}L) "
                                      f"DIV h_k"))
                    .cast("long").alias("est_distinct")))


def cms_lanes(df: DataFrame, col: str, *, width: int = 1024,
              depth: int = 4) -> DataFrame:
    """Count-Min table: ``(lane, bucket, n)`` — depth·width rows of
    bounded state, one map-side-combined groupBy regardless of the
    input's key cardinality.

    Streaming-compatible as-is: on a ``readStream`` frame the same
    expression maintains the sketch as a bounded streaming aggregation
    (depth·width state-store keys forever, the property that makes CMS
    the right frequency monitor on an unbounded stream) — stream/batch
    equality is pinned in tests/test_streaming.py."""
    lanes = F.array(*[
        F.struct(F.lit(d).alias("lane"),
                 F.pmod(_h32(F.concat(F.lit(f"{d}|"), F.col(col))),
                        F.lit(width)).alias("bucket"))
        for d in range(depth)])
    return (df.select(F.explode(lanes).alias("lb"))
            .select("lb.lane", "lb.bucket")
            .groupBy("lane", "bucket")
            .agg(F.count(F.lit(1)).alias("n")))


def hll_lc_table(m: int) -> list[int]:
    """Linear-counting lookup ``LC[V] = floor(m·ln(m/V))`` for V=1..m.

    HLL's small-range correction needs ``ln`` — a libm call that is NOT
    bit-portable across engines.  But V (the number of empty registers)
    has only m possible values, so the whole correction is a 256-entry
    integer table computed once driver-side and embedded as a literal
    in both the Spark plan and the oracle SQL — determinism by
    construction."""
    import math

    return [int(m * math.log(m / v)) for v in range(1, m + 1)]


def hll_distinct(df: DataFrame, col: str, *, group_by: str,
                 p: int = 8) -> DataFrame:
    """HyperLogLog distinct-count estimate per group →
    ``(group_by, n_zero, s_scaled, est_distinct)`` (Flajolet et al.
    2007) — but DETERMINISTIC and oracle-replayable, unlike Spark's
    engine-internal HLL++ (``approx_count_distinct``).

    Construction keeps every cross-engine-sensitive step in exact
    integers:

    * 60-bit hash from the md5 family (15 hex digits — portable to
      DuckDB via ``CAST('0x'||hex AS BIGINT)``); register index =
      ``h % m`` (m = 2^p), remaining 52-bit word ``v = h DIV m``.
    * rho = leading-zero count + 1 = ``53 - length(bin(v))`` — an
      exact string-length computation both engines share (``bin``
      drops leading zeros in both), never float ``log2``.
    * The harmonic sum is kept SCALED-INTEGER: ``s_scaled =
      Σ 2^(53 − M_j)`` over present registers plus ``2^53`` per empty
      register (≤ m·2^53 ≤ 2^61 — no overflow, associative, identical
      under any partitioning or engine).
    * The only float op is the final ``alpha·m²·2^53 / s_scaled`` —
      one IEEE division of exact integers by a shared literal
      constant, bit-identical across engines; floored to a long.

    m registers of bounded state per group; merges by ``max`` per
    register — the textbook mergeable-sketch contract, which is also
    what makes it the right distinct counter over a 100 TB shuffle or
    an unbounded stream."""
    return hll_estimate(hll_registers(df, col, group_by=group_by, p=p),
                        group_by=group_by, p=p)


def hll_registers(df: DataFrame, col: str, *, group_by: str,
                  p: int = 8) -> DataFrame:
    """The HLL register table ``(g, idx, mj)`` — ONE aggregation, so it
    runs unchanged as a bounded streaming aggregation (m state-store
    keys per group forever); :func:`hll_estimate` is the finishing
    read-side step, exactly how a mergeable-sketch store deploys."""
    m = 1 << p
    h = F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15),
               16, 10).cast("long")
    return (df.select(F.col(group_by).cast("string").alias("g"),
                      h.alias("h"))
            # integer div, NOT `/`: h is 60-bit — a double round-trip
            # would round it to a multiple of 128 first
            .select("g", F.pmod(F.col("h"), F.lit(m)).alias("idx"),
                    F.expr(f"h div {m}").alias("v"))
            .withColumn("rho",
                        F.when(F.col("v") > 0,
                               F.lit(53) - F.length(F.bin(F.col("v"))))
                        .otherwise(F.lit(53)))
            .groupBy("g", "idx").agg(F.max("rho").alias("mj")))


def hll_registers_windowed(df: DataFrame, col: str, *, group_by: str,
                           time_col: str = "ts", duration: str = "1 hour",
                           watermark: Optional[str] = None,
                           p: int = 8) -> DataFrame:
    """Time-windowed HLL register table ``(window_start, g, idx, mj)`` —
    the per-window sketch a streaming deployment actually stores.

    Same register construction as :func:`hll_registers`, keyed by a
    tumbling window: state is bounded in KEYS (m registers per group per
    window) and, with a ``watermark``, in TIME — closed windows are
    finalized and evicted, and rows arriving behind the watermark are
    dropped and COUNTED by the engine's ``numRowsDroppedByWatermark``
    (exact drop count pinned in tests/test_streaming.py).  Runs
    unchanged in batch (window is an ordinary group key), which is the
    twin the oracle checks."""
    m = 1 << p
    src = df
    if watermark:
        src = src.withWatermark(time_col, watermark)
    h = F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15),
               16, 10).cast("long")
    return (src.select(F.window(time_col, duration).alias("w"),
                       F.col(group_by).cast("string").alias("g"),
                       h.alias("h"))
            .select("w", "g", F.pmod(F.col("h"), F.lit(m)).alias("idx"),
                    F.expr(f"h div {m}").alias("v"))
            .withColumn("rho",
                        F.when(F.col("v") > 0,
                               F.lit(53) - F.length(F.bin(F.col("v"))))
                        .otherwise(F.lit(53)))
            .groupBy("w", "g", "idx").agg(F.max("rho").alias("mj"))
            .select(F.col("w.start").alias("window_start"),
                    "g", "idx", "mj"))


def hll_estimate(regs: DataFrame, *, group_by: str,
                 p: int = 8) -> DataFrame:
    """Estimates from a :func:`hll_registers` table (see
    :func:`hll_distinct` for the determinism construction)."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    # exact-integer scaled constant folded driver-side; the /s division
    # is the single float op on both engines
    c = alpha * m * m * float(1 << 53)
    # one SQL literal: F.lit of the list made ~1,000 py4j calls (m = 256)
    lc_table = F.expr(f"array({', '.join(map(str, hll_lc_table(m)))})")
    per_g = (regs.groupBy("g")
             .agg(F.count(F.lit(1)).alias("n_present"),
                  F.sum(F.expr("shiftleft(1L, 53 - mj)")).alias("s_present")))
    return (per_g.select(
        F.col("g").alias(group_by),
        (F.lit(m) - F.col("n_present")).cast("long").alias("n_zero"),
        (F.col("s_present")
         + (F.lit(m) - F.col("n_present"))
         * F.shiftleft(F.lit(1).cast("long"), 53)).alias("s_scaled"))
        .withColumn("est_raw",
                    F.floor(F.lit(c) / F.col("s_scaled").cast("double"))
                    .cast("long"))
        # small-range (linear counting) branch via the embedded integer
        # table — branch predicate and lookup are both exact integers
        .withColumn("est_distinct",
                    F.when((F.col("n_zero") > 0)
                           & (F.col("est_raw") < F.lit(5 * m // 2)),
                           F.element_at(lc_table,
                                        F.col("n_zero").cast("int")))
                    .otherwise(F.col("est_raw")).cast("long"))
        .drop("est_raw"))


def bloom_buckets(df: DataFrame, col: str, *, bits: int = 8192,
                  depth: int = 4) -> DataFrame:
    """Bloom-filter membership sketch: the set of SET bit positions
    ``(bucket)`` — at most ``bits`` rows of state no matter the input
    cardinality, built with the same md5 lane family as CMS so DuckDB
    reproduces the identical bit set.  Mergeable by unioning bucket
    sets (bitwise OR)."""
    lanes = F.array(*[
        F.pmod(_h32(F.concat(F.lit(f"{d}|"), F.col(col).cast("string"))),
               F.lit(bits))
        for d in range(depth)])
    return (df.select(F.explode(lanes).alias("bucket"))
            .distinct())


def bloom_probe(table: DataFrame, items: Sequence[str], *,
                bits: int = 8192, depth: int = 4) -> DataFrame:
    """Probe a ``bloom_buckets`` table → ``(item, n_lanes_set,
    maybe_present)``: an item *may* be present iff all ``depth`` lane
    bits are set (no false negatives; false-positive rate
    ≈ (1 − e^{−dn/bits})^d)."""
    import hashlib

    spark = table.sparkSession
    probes = [(it, int(hashlib.md5(f"{d}|{it}".encode()).hexdigest()[:8],
                       16) % bits)
              for it in items for d in range(depth)]
    pr = local_frame(spark, probes, "item string, bucket long")
    hits = (pr.join(table.withColumn("set_", F.lit(1)), "bucket", "left")
            .groupBy("item")
            .agg(F.sum(F.coalesce(F.col("set_"), F.lit(0)))
                 .cast("long").alias("n_lanes_set")))
    return hits.withColumn("maybe_present",
                           F.col("n_lanes_set") == F.lit(depth))


def quantile_bins(df: DataFrame, col: str, *, group_by: str,
                  n_bins: int = 512,
                  lo: float | None = None,
                  hi: float | None = None) -> DataFrame:
    """Mergeable equi-width histogram sketch → ``(group_by, bin, n)``
    (bin computed against the GLOBAL min/max so per-group tables merge
    by adding counts).  Exact integer state; the bin boundary float ops
    are a fixed IEEE tree over exact inputs, identical across engines.

    The scale story: ``approx_quantile`` / Greenwald-Khanna is
    engine-internal; a fixed-width bin table is the classic
    shuffle-once, mergeable alternative (one groupBy of bounded
    output), and quantile recovery is a window cumsum over ≤ n_bins
    rows per group."""
    if lo is None or hi is None:
        lo_hi = df.agg(F.min(col).alias("lo"),
                       F.max(col).alias("hi")).first()
        lo, hi = float(lo_hi["lo"]), float(lo_hi["hi"])
    if hi <= lo:
        # constant (or empty-range) column: every value lands in bin 0,
        # never a divide-by-zero NaN bin
        return (df.select(F.col(group_by).alias("g"),
                          F.lit(0).cast("long").alias("bin"))
                .groupBy("g", "bin").agg(F.count(F.lit(1)).alias("n")))
    w = (hi - lo) / n_bins
    b = F.floor((F.col(col).cast("double") - F.lit(lo)) / F.lit(w))
    return (df.select(F.col(group_by).alias("g"),
                      F.least(b, F.lit(n_bins - 1)).cast("long")
                      .alias("bin"))
            .groupBy("g", "bin").agg(F.count(F.lit(1)).alias("n")))


def quantile_from_bins(table: DataFrame, ps: Sequence[float], *,
                       lo: float, w: float) -> DataFrame:
    """Recover quantile estimates from a ``quantile_bins`` table →
    ``(g, p, q_est)``: find the bin where the cumulative count first
    reaches ``ceil(p·n)`` and interpolate linearly inside it.  All
    branch decisions are integer comparisons; the interpolation is one
    fixed float expression of exact integers."""
    spark = table.sparkSession
    pdf = local_frame(spark, [(float(p),) for p in ps], "p double")
    w_cum = (Window.partitionBy("g").orderBy("bin")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (table.withColumn("cum", F.sum("n").over(w_cum))
           .withColumn("total",
                       F.sum("n").over(Window.partitionBy("g"))))
    hit = (cum.crossJoin(F.broadcast(pdf))
           .withColumn("target", F.ceil(F.col("p") * F.col("total"))
                       .cast("long"))
           .where((F.col("cum") >= F.col("target"))
                  & (F.col("cum") - F.col("n") < F.col("target"))))
    frac = ((F.col("target") - (F.col("cum") - F.col("n")))
            .cast("double") / F.col("n").cast("double"))
    return hit.select("g", "p",
                      (F.lit(lo) + (F.col("bin").cast("double") + frac)
                       * F.lit(w)).alias("q_est"))


def cms_point_estimates(table: DataFrame, items: Sequence[str], *,
                        width: int = 1024, depth: int = 4) -> DataFrame:
    """Point-frequency estimates for ``items`` from a ``cms_lanes``
    table → ``(item, cms_n)``: min over the depth lane counts (an
    overestimate of the true count by construction; error ≤ 2N/width
    with probability 1−2^−depth)."""
    import hashlib

    spark = table.sparkSession
    probes = []
    for it in items:
        for d in range(depth):
            h = int(hashlib.md5(f"{d}|{it}".encode()).hexdigest()[:8], 16)
            probes.append((it, d, h % width))
    pr = local_frame(spark, probes, "item string, lane int, bucket int")
    return (pr.join(table, ["lane", "bucket"], "left")
            .groupBy("item")
            .agg(F.min(F.coalesce(F.col("n"), F.lit(0)))
                 .cast("long").alias("cms_n")))
