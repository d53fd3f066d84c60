"""Data validation and distribution-drift monitoring.

Two operators every production 100 TB pipeline runs on every batch,
absent in the reference (its closest analogue is the Feature Statistics
widget's passive display):

* :func:`validate` — an expectation suite (Great-Expectations-style):
  named boolean rules evaluated in ONE aggregation pass (each rule a
  codegen'd CASE sum — adding a rule never adds a scan); emits per-rule
  violation counts, the artifact a data-quality gate alerts on.
* :func:`drift_psi` — Population Stability Index between two row
  populations of the same frame (e.g. last week vs this week): fixed
  equi-width bins against shared bounds (exact integer counts,
  mergeable), PSI = Σ (pA−pB)·ln(pA/pB) with Laplace smoothing.  The
  bin table is the distributed part; the ln-sum runs driver-side over
  the ≤ n_bins exact integers (pure python — bit-identical on replay,
  never engine libm).  PSI ≥ 0.2 is the conventional "investigate"
  threshold.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orange3_spark.session import local_frame

PSI_QSCALE = 1_000_000_000.0


def validate(df: DataFrame, rules: Mapping[str, Column]) -> DataFrame:
    """``(rule, n_rows, n_violations)`` per named rule — a row passes a
    rule when the rule's Column is true; NULL predicate results count
    as violations (unknown is not a pass)."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for name, pred in rules.items():
        aggs.append(
            F.sum(F.when(pred, F.lit(0)).otherwise(F.lit(1)))
            .cast("long").alias(name))
    r = df.agg(*aggs).first()
    rows = [(name, int(r["_n"]), int(r[name])) for name in rules]
    return local_frame(
        df.sparkSession, rows, "rule string, n_rows long, n_violations long")


def psi_from_counts(counts_a: list[int], counts_b: list[int]) -> float:
    """PSI from two aligned integer bin-count vectors, Laplace-smoothed
    — pure python on exact ints, shared verbatim with the replay
    oracle."""
    import math

    k = len(counts_a)
    na, nb = sum(counts_a) + k, sum(counts_b) + k
    psi = 0.0
    for ca, cb in zip(counts_a, counts_b):
        pa, pb = (ca + 1) / na, (cb + 1) / nb
        psi += (pa - pb) * math.log(pa / pb)
    return psi


def drift_psi(df: DataFrame, col: str, split: Column, *,
              n_bins: int = 10,
              lo: float | None = None,
              hi: float | None = None) -> tuple[DataFrame, int]:
    """Bin table ``(bin, n_a, n_b)`` (rows where ``split`` is true are
    population A) and the fixed-point PSI (×1e9).  Shared bounds come
    from the WHOLE frame (one min/max pass when not given), so the two
    populations bin identically; counts are exact integers from one
    grouped aggregation."""
    import math

    if lo is None or hi is None:
        b = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).first()
        lo, hi = float(b["lo"]), float(b["hi"])
    if hi <= lo:
        # constant column: one bin, PSI trivially 0 — not a NaN bin
        binc = F.lit(0).cast("long")
    else:
        w = (hi - lo) / n_bins
        binc = F.least(F.floor((F.col(col).cast("double") - F.lit(lo))
                               / F.lit(w)), F.lit(n_bins - 1)).cast("long")
    tab = (df.where(F.col(col).isNotNull())
           .select(binc.alias("bin"), split.cast("int").alias("_a"))
           .groupBy("bin")
           .agg(F.sum("_a").cast("long").alias("n_a"),
                F.sum(1 - F.col("_a")).cast("long").alias("n_b"))
           .orderBy("bin"))
    rows = {int(r["bin"]): (int(r["n_a"]), int(r["n_b"]))
            for r in tab.collect()}
    ca = [rows.get(i, (0, 0))[0] for i in range(n_bins)]
    cb = [rows.get(i, (0, 0))[1] for i in range(n_bins)]
    psi_q = int(math.floor(psi_from_counts(ca, cb) * PSI_QSCALE + 0.5))
    return tab, psi_q


def chi2_from_counts(counts_a: list[int], counts_b: list[int]) -> float:
    """Two-sample χ² homogeneity statistic from aligned integer level
    counts — pure python on exact ints, shared verbatim with the replay
    oracle."""
    n_a, n_b = sum(counts_a), sum(counts_b)
    n = n_a + n_b
    chi2 = 0.0
    for ca, cb in zip(counts_a, counts_b):
        tot = ca + cb
        if tot == 0:
            continue
        ea = tot * n_a / n
        eb = tot * n_b / n
        chi2 += (ca - ea) ** 2 / ea + (cb - eb) ** 2 / eb
    return chi2


def drift_chi2(df: DataFrame, col: str, split: Column, *,
               max_levels: int = 1000) -> tuple[DataFrame, int]:
    """Categorical drift: level table ``(level, n_a, n_b)`` (rows where
    ``split`` is true are population A) and the fixed-point χ²
    statistic (×1e9) — one grouped exact-integer aggregation
    (cardinality-guarded), χ² computed driver-side over the bounded
    level counts."""
    import math

    from orange3_spark.guards import check_max_levels

    check_max_levels(df, [col], max_levels,
                     "χ² drift needs a categorical column")
    tab = (df.where(F.col(col).isNotNull())
           .select(F.col(col).cast("string").alias("level"),
                   split.cast("int").alias("_a"))
           .groupBy("level")
           .agg(F.sum("_a").cast("long").alias("n_a"),
                F.sum(1 - F.col("_a")).cast("long").alias("n_b"))
           .orderBy("level"))
    rows = sorted((r["level"], int(r["n_a"]), int(r["n_b"]))
                  for r in tab.collect())
    ca = [r[1] for r in rows]
    cb = [r[2] for r in rows]
    chi2_q = int(math.floor(chi2_from_counts(ca, cb)
                            * PSI_QSCALE + 0.5))
    return tab, chi2_q
