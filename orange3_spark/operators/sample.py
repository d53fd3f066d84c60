"""Sampling — Data Sampler widget surface on Spark.

Reference: ``Orange/widgets/data/owdatasampler.py:41-42,216`` (fixed
proportion / fixed size / cross-validation folds / bootstrap, optional
stratification) and the SQL TABLESAMPLE path ``sql/table.py:577-631``.

All seeded (SURVEY §7 deterministic-randomness note).  Everything is a
single scan; ``fixed_size`` without replacement needs a global sort of
random keys only when exactness is required — the approximate fast path
(``exact=False``) over-samples then limits, avoiding the full sort.
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orange3_spark.session import arrow_values, fetch_capped


#: Strata are class values — a bounded set by construction.  The fetch
#: stops at MAX_STRATA+1 distinct keys and fails loudly past the cap (the
#: same 21-distinct-style guard as the discrete-type probe,
#: preprocess/transform.py) instead of collecting an unbounded key list
#: when someone stratifies on a continuous column by mistake.
MAX_STRATA = 1000


def sample_fraction(df: DataFrame, fraction: float, *, seed: int = 42,
                    stratify_by: Optional[str] = None) -> DataFrame:
    """Bernoulli sample; stratified variant keeps the fraction per class
    (``sampleBy``)."""
    if stratify_by is not None:
        tbl = fetch_capped(df.select(stratify_by).distinct(), MAX_STRATA)
        if tbl is None:
            raise ValueError(
                f"sample_fraction: stratify_by={stratify_by!r} has more "
                f"than {MAX_STRATA} distinct values — strata must be a "
                "categorical column; discretize a continuous key first")
        return df.sampleBy(stratify_by, dict.fromkeys(
            arrow_values(tbl.column(0)), fraction), seed=seed)
    return df.sample(fraction=fraction, seed=seed)


def sample_fixed(df: DataFrame, n: int, *, seed: int = 42,
                 replacement: bool = False, exact: bool = True) -> DataFrame:
    """Fixed-size sample.  With replacement = bootstrap of size n.

    ``exact=True`` takes the n rows with the smallest seeded content hash.
    A naive ``orderBy(rand()).limit(n)`` is a scan-and-heap over EVERY row's
    random key; instead a hash threshold prefilters to ~3n expected
    survivors (a pushdown-friendly row-local predicate, no shuffle) and
    only those are top-k'd.  Content hashing also makes the sample a pure
    function of (data, seed) — stable under repartitioning and task retry,
    which ``rand()`` is not.  Duplicate rows share a hash, so exact
    duplicates enter or leave the sample together (document-level dedup
    upstream is the usual cure)."""
    if replacement:
        # bootstrap: expected size n via sample(withReplacement); exact size
        # would need a limit on top of an over-sample
        total = df.count()
        return df.sample(withReplacement=True, fraction=n / max(total, 1), seed=seed)
    total = df.count()
    if total <= n:
        return df
    if exact:
        h = F.xxhash64(*[F.col(c) for c in df.columns], F.lit(seed))
        frac = min(1.0, 3.0 * n / total)
        thr = int(-(2 ** 63) + frac * 2 ** 64)
        cand = df.withColumn("__h", h)
        if frac < 1.0:
            filtered = cand.filter(F.col("__h") <= F.lit(thr))
            # 3× oversampling makes a short fall astronomically unlikely;
            # fall back to the unfiltered top-k if it ever happens
            cand = filtered if filtered.count() >= n else cand
        return cand.orderBy("__h").limit(n).drop("__h")
    frac = min(1.0, 1.5 * n / max(total, 1))
    return df.sample(fraction=frac, seed=seed).limit(n)


def cv_folds(df: DataFrame, k: int, *, key: Optional[Sequence[str]] = None,
             salt: str = "", fold_col: str = "fold") -> DataFrame:
    """Assign each row a fold 0..k-1 by hashing row CONTENT (the given key
    columns, or every column) — one pass, no shuffle.

    A hash of ``rand(seed)`` is only stable for a fixed partitioning: AQE
    repartitioning or a task retry would silently reassign folds.  Content
    hashing makes fold membership a pure function of the row, reproducible
    across runs, partitionings and engines."""
    cols = list(key) if key else df.columns
    h = F.xxhash64(*[F.col(c) for c in cols], F.lit(salt))
    return df.withColumn(fold_col, F.pmod(h, F.lit(k)).cast("int"))


def cv_folds_stratified(df: DataFrame, k: int, *, strata_col: str,
                        key: Optional[Sequence[str]] = None,
                        salt: str = "", fold_col: str = "fold",
                        max_strata: int = 1000) -> DataFrame:
    """STRATIFIED k-fold assignment — the reference's default CV
    (``Orange/evaluation/testing.py`` CrossValidation uses sklearn's
    StratifiedKFold): within each class stratum, rows are ordered by
    their content hash and folds assigned round-robin, so every fold
    holds each class in proportion (fold sizes per stratum differ by at
    most 1 — exactly sklearn's guarantee, which plain content-hash
    folds only match in expectation).

    Deterministic (pure function of row content) and distributed: ONE
    window partitioned by stratum — no global sort; strata cardinality
    is probe-guarded like the stratified sampler."""
    from pyspark.sql.window import Window

    from orange3_spark.guards import check_max_levels

    check_max_levels(df, [strata_col], max_strata,
                     "stratified folds need a categorical stratum")
    cols = list(key) if key else [c for c in df.columns
                                  if c != strata_col]
    # md5 (not xxhash64): the hash ORDER defines fold membership, so it
    # must be engine-portable for the oracle to replay it
    h = F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols],
                          F.lit(salt)))
    w = Window.partitionBy(strata_col).orderBy(h, *[F.col(c)
                                                    for c in cols])
    return df.withColumn(
        fold_col,
        F.pmod(F.row_number().over(w) - 1, F.lit(k)).cast("int"))


def random_split(df: DataFrame, weights: Sequence[float], *, seed: int = 42):
    return df.randomSplit(list(weights), seed=seed)


def sample_hash(df: DataFrame, key: str, fraction: float, *,
                salt: str = "") -> DataFrame:
    """Deterministic content-hash Bernoulli sample: keep rows whose
    ``md5(key)`` falls below the fraction threshold of the hex keyspace.

    Unlike seeded ``rand()`` this is reproducible across engines, partitions
    and re-runs (the property TABLESAMPLE lacks), making it the right
    primitive for train/test splits of a 100 TB corpus: membership depends
    only on the row's key, so late-arriving replicas of a row land in the
    same split.  Cost: a row-local hash, no shuffle, fully pushed into scan.
    """
    # compare in hex-string space: first 8 hex chars ≈ 32-bit uniform
    threshold = format(int(fraction * 0xFFFFFFFF), "08x")
    h = F.md5(F.concat(F.col(key).cast("string"), F.lit(salt)))
    return df.filter(F.substring(h, 1, 8) < F.lit(threshold))


def sample_fixed_hash(df: DataFrame, key: str, n: int, *,
                      salt: str = "") -> DataFrame:
    """The ``n`` rows with the smallest ``md5(key)``: a fixed-SIZE
    deterministic sample.  Unlike the hash-FRACTION Bernoulli sample
    (:func:`sample_hash`) its size does not grow with the corpus, so
    downstream bounded-n contracts (isomap/MDS/t-SNE embed guards,
    driver-side fits) hold at ANY scale — the same call that works at
    sf0.1 still works at sf100.  Deterministic across engines (an SQL
    oracle replays it as ``ORDER BY md5(CAST(key AS VARCHAR)) LIMIT n``)
    as long as ``key`` values are unique.  Physically a distributed
    top-k (TakeOrderedAndProject): per-partition heap of n, driver
    merge of n per partition — no global sort, no shuffle."""
    h = F.md5(F.concat(F.col(key).cast("string"), F.lit(salt)))
    return df.orderBy(h.asc()).limit(n)


def sample_hash_stratified(df: DataFrame, key: str, stratify_by: str,
                           fractions: Mapping[str, float], *,
                           salt: str = "") -> DataFrame:
    """Per-stratum deterministic hash sampling (Data Sampler's stratified
    mode, reproducible): each class value gets its own keep-fraction."""
    h = F.substring(F.md5(F.concat(F.col(key).cast("string"), F.lit(salt))), 1, 8)
    pred = None
    for value, frac in fractions.items():
        threshold = format(int(frac * 0xFFFFFFFF), "08x")
        p = (F.col(stratify_by) == F.lit(value)) & (h < F.lit(threshold))
        pred = p if pred is None else pred | p
    return df.filter(pred if pred is not None else F.lit(False))


def shuffle(df: DataFrame, *, seed: int = 42) -> DataFrame:
    """``Table.shuffle`` (``table.py:1618-1629``) — global random permutation.
    A full sort; at scale prefer per-partition local shuffles unless global
    order matters."""
    return df.orderBy(F.rand(seed))
