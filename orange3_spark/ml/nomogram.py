"""Nomogram point computation — the Naive Bayes log-odds-ratio table.

Reference: ``Orange/widgets/visualize/ownomogram.py:934-951``
(``calculate_log_odds_ratios``) over the model of
``Orange/classification/naive_bayes.py:34-55``: with integer
contingencies ``c[cls, val]`` and class frequencies ``f[cls]``,

    class_prob p   = (f + 1) / (Σf + k)          (Laplace, k classes)
    posterior  ca  = (c + 1) / (n_val + k)        (per value column)
    points         = ln( (ca/(1-ca)) / (p/(1-p)) )

The GUI renders these as aligned point scales; the COMPUTATION is the
table above, emitted per (attribute, value, class).

Spark shape: ONE distributed aggregation builds every attribute's
contingency at once (explode the attribute map → groupBy(attr, value,
class)), bounded by the discrete levels contract (cardinality-guarded);
the log table is a driver-side pure function of those exact integers —
so the replay oracle recomputes it bit-for-bit from the same counts.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orange3_spark.session import local_frame

NOMOGRAM_QSCALE = 1_000_000_000.0


def nb_contingencies(df: DataFrame, attrs: Sequence[str],
                     class_col: str, *,
                     max_levels: int = 256) -> DataFrame:
    """All-attribute contingency ``(attr, value, cls, n)`` in ONE
    explode + groupBy pass (one shuffle regardless of attribute count);
    rows with a missing attribute value or class are dropped, like the
    reference's contingency computation."""
    from orange3_spark.guards import check_max_levels

    check_max_levels(df, attrs, max_levels,
                     "discretize first (the reference's NB "
                     "preprocessor does the same)")
    pairs = F.array(*[
        F.struct(F.lit(a).alias("attr"),
                 F.col(a).cast("string").alias("value"))
        for a in attrs])
    return (df.where(F.col(class_col).isNotNull())
            .select(F.col(class_col).cast("string").alias("cls"),
                    F.explode(pairs).alias("av"))
            .where(F.col("av.value").isNotNull())
            .groupBy(F.col("av.attr").alias("attr"),
                     F.col("av.value").alias("value"), "cls")
            .agg(F.count(F.lit(1)).alias("n")))


def nomogram_points_from_counts(cont_rows, class_freq: dict):
    """Driver-side point table from exact integer counts —
    ``[(attr, value, cls, lor_q)]`` with the log-odds ratio in
    fixed-point (×1e9).  ``cont_rows`` is ``[(attr, value, cls, n)]``;
    ``class_freq`` maps cls → total count.  Pure python/math on exact
    integers, so any two runs (and the replay oracle) agree bitwise."""
    import math

    classes = sorted(class_freq)
    k = len(classes)
    tot = sum(class_freq.values())
    p = {c: (class_freq[c] + 1) / (tot + k) for c in classes}
    by_av: dict = {}
    for attr, value, cls, n in cont_rows:
        by_av.setdefault((attr, value), {})[cls] = int(n)
    out = []
    for (attr, value), per_cls in sorted(by_av.items()):
        n_val = sum(per_cls.values())
        for cls in classes:
            ca = (per_cls.get(cls, 0) + 1) / (n_val + k)
            odds = (ca / (1.0 - ca)) / (p[cls] / (1.0 - p[cls]))
            lor = math.log(odds)
            out.append((attr, value, cls,
                        int(math.floor(lor * NOMOGRAM_QSCALE + 0.5))))
    return out


def nb_nomogram(df: DataFrame, attrs: Sequence[str], class_col: str, *,
                max_levels: int = 256) -> DataFrame:
    """The nomogram table ``(attr, value, cls, lor_q)`` for a Naive
    Bayes model fit on ``df`` — distributed contingencies, driver-side
    exact log table (see module docstring)."""
    cont = [(r["attr"], r["value"], r["cls"], r["n"])
            for r in nb_contingencies(df, attrs, class_col,
                                      max_levels=max_levels).collect()]
    freq = {r["cls"]: int(r["n"]) for r in
            (df.where(F.col(class_col).isNotNull())
             .groupBy(F.col(class_col).cast("string").alias("cls"))
             .agg(F.count(F.lit(1)).alias("n"))).collect()}
    rows = nomogram_points_from_counts(cont, freq)
    return local_frame(df.sparkSession, rows,
                       "attr string, value string, cls string, lor_q long")
