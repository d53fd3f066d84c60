"""Transformation kernels + Continuize + Impute + Normalize + Remove.

References:
  * Transformation kernels — ``Orange/preprocess/transformation.py``:
    ``Identity :84``, ``Indicator :131``, ``Indicator1 :161``,
    ``Normalizer :176``, ``Lookup :211``, ``MappingTransform :273``.
  * Continuize — enum ``Orange/preprocess/preprocess.py:37-60``, engine
    ``continuize.py:11-100`` (9 treatments).
  * Impute — ``Orange/preprocess/impute.py`` (409 LoC).
  * Normalize/Scale — ``preprocess.py:261-355,467-545``,
    ``normalize.py:11-83``.
  * Remove* — ``preprocess.py:176-258,572``; Purge Domain
    ``Orange/preprocess/remove.py:13-120``.

Everything is a Column expression or a stats-agg + expression — one scan for
the stats, then row-local rewrites inside codegen.  Model-based imputation
lives in ``orange3_spark.ml``.
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orange3_spark.session import local_frame


# ------------------------------------------------------- transformation kernels

def identity(col: str) -> Column:
    return F.col(col)


def indicator(col: str, value) -> Column:
    """One-hot 0/1 (``transformation.py:131``); Indicator1 (−1/1) via
    ``indicator1``."""
    return F.when(F.col(col).isNull(), None).otherwise(
        (F.col(col) == F.lit(value)).cast("double"))


def indicator1(col: str, value) -> Column:
    return F.when(F.col(col).isNull(), None).otherwise(
        F.when(F.col(col) == F.lit(value), 1.0).otherwise(-1.0))


def normalizer(col: str, offset: float, factor: float) -> Column:
    """Affine ``(x - offset) * factor`` (``transformation.py:176``)."""
    return (F.col(col) - F.lit(offset)) * F.lit(factor)


def lookup(col: str, mapping: Mapping, default=None) -> Column:
    """Value remap via a literal map expression (``Lookup :211``,
    ``MappingTransform :273``) — broadcast-free, folded into codegen."""
    expr: Optional[Column] = None
    for k, v in mapping.items():
        cond = F.col(col) == F.lit(k)
        expr = F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
    if expr is None:
        return F.lit(default)
    return expr.otherwise(F.lit(default))


# ------------------------------------------------------------------ continuize

def continuize(df: DataFrame, col: str, values: Sequence[str],
               treatment: str = "indicators", *,
               base: Optional[str] = None,
               drop_source: bool = True) -> DataFrame:
    """Discrete → numeric, the 9 treatments of ``preprocess.py:37-60``:

    ``indicators`` one column per value; ``first_as_base`` /
    ``frequent_as_base`` skip the base value's column; ``remove`` drops the
    column; ``remove_multinomial`` drops if >2 values; ``as_ordinal`` value
    index; ``as_normalized_ordinal`` index/(k-1); ``leave`` unchanged.
    ``values`` is the ordered category list (order is semantic).
    """
    vals = list(values)
    if treatment == "leave":
        return df
    if treatment == "remove":
        return df.drop(col)
    if treatment == "remove_multinomial":
        return df.drop(col) if len(vals) > 2 else df
    if treatment in ("as_ordinal", "as_normalized_ordinal"):
        idx = lookup(col, {v: float(i) for i, v in enumerate(vals)})
        if treatment == "as_normalized_ordinal" and len(vals) > 1:
            idx = idx / F.lit(float(len(vals) - 1))
        out = df.withColumn(f"{col}_ordinal", idx)
        return out.drop(col) if drop_source else out
    if treatment in ("indicators", "first_as_base", "frequent_as_base"):
        if treatment == "first_as_base":
            base = base or vals[0]
        elif treatment == "frequent_as_base" and base is None:
            base = (df.groupBy(col).count().orderBy(F.desc("count"), col)
                      .limit(1).collect()[0][col])
        emit = [v for v in vals if treatment == "indicators" or v != base]
        out = df
        for v in emit:
            out = out.withColumn(f"{col}={v}", indicator(col, v))
        return out.drop(col) if drop_source else out
    raise ValueError(f"unknown treatment {treatment!r}")


# ---------------------------------------------------------------------- impute

def impute_constant(df: DataFrame, values: Mapping[str, object]) -> DataFrame:
    """NaN/NULL → constant (``impute.py:14-41``, Default/FixedValueByType
    ``:131,150``)."""
    return df.fillna(dict(values))


def impute_average(df: DataFrame, columns: Sequence[str],
                   *, discrete: Sequence[str] = ()) -> DataFrame:
    """Mean for continuous, mode for discrete (``impute.py:96``) — one stats
    pass, then coalesce."""
    exprs = [F.avg(c).alias(c) for c in columns if c not in set(discrete)]
    exprs += [F.mode(c).alias(c) for c in discrete]
    if not exprs:
        return df
    stats = df.agg(*exprs).collect()[0].asDict()
    return df.fillna({k: v for k, v in stats.items() if v is not None})


def impute_drop(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """DropInstances (``impute.py:86``)."""
    return df.dropna(subset=list(columns))


def impute_as_value(df: DataFrame, col: str, *,
                    missing_label: str = "N/A") -> DataFrame:
    """AsValue: missing → its own category + indicator column
    (``impute.py:285``)."""
    return (df.withColumn(f"{col}_defined",
                          F.col(col).isNotNull().cast("double"))
              .withColumn(col, F.coalesce(F.col(col), F.lit(missing_label))))


def impute_random(df: DataFrame, col: str, *, seed: int = 42) -> DataFrame:
    """Random-from-distribution (``impute.py:325-380``): sample the observed
    distribution per missing row — approximated by picking from collected
    distinct quantiles to stay scalable."""
    qs = df.filter(F.col(col).isNotNull()).approxQuantile(col, [i / 20 for i in range(21)], 0.01)
    if not qs:
        return df
    arr = F.array(*[F.lit(float(v)) for v in qs])
    pick = arr[(F.rand(seed) * len(qs)).cast("int")]
    return df.withColumn(col, F.coalesce(F.col(col), pick))


# ------------------------------------------------------------------- normalize

def impute_model(df: DataFrame, col: str, features: Sequence[str], *,
                 discrete: bool = False) -> DataFrame:
    """Model-based imputation (``impute.py:176-225``): fit a learner on the
    rows where ``col`` is defined (features = the other columns), predict
    the missing rows, coalesce.  One fit + one distributed predict."""
    from orange3_spark.ml import learners as L

    defined = df.filter(F.col(col).isNotNull())
    if discrete:
        model = L.random_forest_classifier(defined, features, col)
    else:
        model = L.ols_learner(defined, features, col)
    pred = model.predict(df)
    return (pred.withColumn(col, F.coalesce(F.col(col), F.col("prediction")))
                .drop("prediction"))


def randomize(df: DataFrame, columns: Sequence[str], *,
              seed: int = 42) -> DataFrame:
    """Randomize: shuffle selected columns INDEPENDENTLY of the rest,
    breaking row correlation (``preprocess.py:357-440``).

    Each shuffled column is reassigned by joining the row-indexed frame
    with its own values re-indexed in a seeded random order.  Row indexes
    come from :func:`operators.rowid.with_row_index` (partition-parallel
    zipWithIndex shape) — never an unpartitioned window: the seeded
    reorder is a DISTRIBUTED range-sort on ``rand(seed)``, and only
    per-partition counts touch the driver.
    """
    from orange3_spark.operators.rowid import with_row_index

    out = with_row_index(df, "_rn")
    for i, c in enumerate(columns):
        shuffled = with_row_index(
            out.select(F.col(c).alias(f"_sh_{c}")), "_rn",
            order_by=[F.rand(seed + i)])
        out = out.drop(c).join(shuffled, "_rn") \
                 .withColumnRenamed(f"_sh_{c}", c)
    return out.drop("_rn")


def create_instance(df: DataFrame, method: str = "mean", *,
                    values: Optional[Mapping[str, object]] = None) -> DataFrame:
    """Create Instance (``owcreateinstance.py``): synthesize one row from
    column statistics (mean/median/mode) or explicit values."""
    if values is not None:
        row = dict(values)
    else:
        agg = {"mean": F.avg, "median": lambda c: F.median(c),
               "mode": F.mode}[method]
        numeric = [f.name for f in df.schema.fields
                   if f.dataType.typeName() in
                   ("double", "float", "integer", "long", "short")]
        exprs = [agg(c).alias(c) if c in numeric else F.mode(c).alias(c)
                 for c in df.columns]
        row = df.agg(*exprs).first().asDict()
    return local_frame(df.sparkSession,
                       [tuple(row.get(c) for c in df.columns)],
                       df.select(*df.columns).schema)


def normalize(df: DataFrame, columns: Sequence[str], *,
              method: str = "standardize",  # standardize|center|scale|span_01|span_11
              ) -> DataFrame:
    """Normalize by SD / span (``preprocess.py:261-355``) — one stats pass
    for all columns, then affine expressions (no MLlib stage: plain exprs
    stay in codegen and keep column names)."""
    aggs = []
    for c in columns:
        aggs += [F.avg(c).alias(f"{c}__mean"), F.stddev_samp(c).alias(f"{c}__sd"),
                 F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max")]
    st = df.agg(*aggs).collect()[0]
    out = df
    for c in columns:
        mean, sd = st[f"{c}__mean"], st[f"{c}__sd"]
        lo, hi = st[f"{c}__min"], st[f"{c}__max"]
        if method == "standardize":
            expr = (F.col(c) - F.lit(mean)) / F.lit(sd if sd else 1.0)
        elif method == "center":
            expr = F.col(c) - F.lit(mean)
        elif method == "scale":
            expr = F.col(c) / F.lit(sd if sd else 1.0)
        elif method == "span_01":
            span = (hi - lo) or 1.0
            expr = (F.col(c) - F.lit(lo)) / F.lit(span)
        elif method == "span_11":
            span = (hi - lo) or 1.0
            expr = (F.col(c) - F.lit(lo)) / F.lit(span) * 2 - 1
        else:
            raise ValueError(method)
        out = out.withColumn(c, expr)
    return out


def adaptive_normalize(df: DataFrame, columns: Sequence[str], *,
                       method: str = "standardize",
                       scale_span: bool = True,
                       sparsity_threshold: float = 0.5
                       ) -> tuple[DataFrame, str]:
    """AdaptiveNormalize (``preprocess.py:615-660``): normalize dense
    data, merely SCALE sparse data — the reference avoids centering a
    sparse matrix because that would densify it.  Sparsity here is the
    measured zero-fraction over the named columns (one probe aggregate;
    the reference keys on the matrix's storage class, which a DataFrame
    doesn't carry — zero share is the property that decision encodes).

    Returns ``(transformed, branch)`` with branch ``'normalize'`` or
    ``'scale'`` so callers/tests can pin the dispatch."""
    zero_share = df.agg(*[
        F.avg((F.col(c).isNull() | (F.col(c) == 0)).cast("double"))
        .alias(c) for c in columns]).first()
    overall = sum(zero_share[c] or 0.0 for c in columns) / len(columns)
    if overall > sparsity_threshold:
        return (scale(df, columns, center=None,
                      scaling="span" if scale_span else "std"), "scale")
    return normalize(df, columns, method=method), "normalize"


# ---------------------------------------------------------------------- remove

def remove_constant_columns(df: DataFrame,
                            columns: Optional[Sequence[str]] = None) -> DataFrame:
    """RemoveConstant (``preprocess.py:176``) — one
    ``approx_count_distinct`` probe for all columns, then a select."""
    columns = list(columns or df.columns)
    probes = df.agg(*[F.countDistinct(c).alias(c) for c in columns]).collect()[0]
    drop = [c for c in columns if probes[c] <= 1]
    return df.drop(*drop)


def remove_nan_rows(df: DataFrame,
                    columns: Optional[Sequence[str]] = None) -> DataFrame:
    """RemoveNaNRows (``preprocess.py:200``)."""
    return df.dropna(how="any", subset=list(columns) if columns else None)


def remove_nan_columns(df: DataFrame, threshold: float = 1.0,
                       columns: Optional[Sequence[str]] = None) -> DataFrame:
    """RemoveNaNColumns with missing-fraction threshold
    (``preprocess.py:209``) — one counting pass."""
    columns = list(columns or df.columns)
    n = df.count()
    if n == 0:
        return df
    counts = df.agg(*[F.count(c).alias(c) for c in columns]).collect()[0]
    drop = [c for c in columns if (n - counts[c]) / n >= threshold]
    return df.drop(*drop)


def purge_unused_values(df: DataFrame, col: str,
                        known_values: Sequence[str]) -> list[str]:
    """Purge Domain: drop unused discrete values, keep order
    (``Orange/preprocess/remove.py:13-120``) — a distinct probe returning the
    still-present subset in original order."""
    present = {r[0] for r in df.select(col).distinct().collect()}
    return [v for v in known_values if v in present]


def remove_nan_classes(df: DataFrame,
                       class_cols: Sequence[str]) -> DataFrame:
    """RemoveNaNClasses (``preprocess.py:239``; deprecated alias of the
    HasClass filter): drop rows with a missing value in ANY class column."""
    return df.dropna(how="any", subset=list(class_cols))


def remove_sparse(df: DataFrame, threshold: float = 0.05, *,
                  filter0: bool = True,
                  columns: Optional[Sequence[str]] = None) -> DataFrame:
    """RemoveSparse (``preprocess.py:572``): drop columns with too many
    zeros (``filter0=True``) or NULLs.  ``threshold`` < 1 is a proportion
    of rows, ≥ 1 an absolute count; a column survives when its zero/NULL
    count is strictly below the threshold.  One counting pass."""
    columns = list(columns or df.columns)
    n = df.count()
    thr = threshold * n if threshold < 1 else threshold
    if filter0:
        aggs = [F.sum((F.col(c) == 0).cast("long")).alias(c) for c in columns]
    else:
        aggs = [F.sum(F.col(c).isNull().cast("long")).alias(c)
                for c in columns]
    counts = df.agg(*aggs).collect()[0]
    drop = [c for c in columns if (counts[c] or 0) >= thr]
    return df.drop(*drop)


def scale(df: DataFrame, columns: Sequence[str], *,
          center: Optional[str] = "mean",   # mean|median|None
          scaling: Optional[str] = "std",   # std|span|None
          ) -> DataFrame:
    """Scale preprocessor (``preprocess.py:467-545``): x → (x − c)/s with
    c ∈ {mean, interpolated median, 0} and s ∈ {population std, span, 1};
    s < 1e-15 degrades to 1 like the reference.  One stats pass for every
    column, then row-local affine expressions."""
    aggs = []
    for c in columns:
        aggs += [F.avg(c).alias(f"{c}__mean"),
                 F.stddev_pop(c).alias(f"{c}__sd"),
                 F.expr(f"percentile(`{c}`, 0.5)").alias(f"{c}__med"),
                 F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max")]
    st = df.agg(*aggs).collect()[0]
    out = df
    for c in columns:
        if center == "mean":
            cv = st[f"{c}__mean"]
        elif center == "median":
            cv = st[f"{c}__med"]
        elif center is None:
            cv = 0.0
        else:
            raise ValueError(center)
        if scaling == "std":
            sv = st[f"{c}__sd"]
        elif scaling == "span":
            sv = (st[f"{c}__max"] or 0.0) - (st[f"{c}__min"] or 0.0)
        elif scaling is None:
            sv = 1.0
        else:
            raise ValueError(scaling)
        if sv is None or abs(sv) < 1e-15:
            sv = 1.0
        out = out.withColumn(c, (F.col(c) - F.lit(float(cv or 0.0)))
                             / F.lit(float(sv)))
    return out
