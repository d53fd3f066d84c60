"""Preprocess-operator queries: discretize, continuize, impute, normalize —
each exercised end-to-end with a DuckDB oracle where SQL-expressible
(EntropyMDL and feature scoring get rows-only checks, as the driver allows
for non-SQL-expressible ops)."""

from __future__ import annotations

from pyspark.sql import functions as F

from orange3_spark.operators import groupby as G
from orange3_spark.plans.registry import query
from orange3_spark.preprocess import discretize as D
from orange3_spark.preprocess import score as SC
from orange3_spark.preprocess import transform as P
from orange3_spark.session import load_tables, local_frame


def _t(spark, sf_dir, *names):
    d = load_tables(spark, sf_dir, names)
    return [d[n] for n in names]


@query("q_discretize_equal_width", """
WITH b AS (SELECT min(l_quantity) AS mn, max(l_quantity) AS mx FROM lineitem),
     w AS (SELECT mn, (mx - mn) / 4.0 AS wd FROM b)
SELECT CASE WHEN l_quantity IS NULL THEN NULL
            WHEN l_quantity <= mn + wd THEN 0
            WHEN l_quantity <= mn + 2 * wd THEN 1
            WHEN l_quantity <= mn + 3 * wd THEN 2
            ELSE 3 END AS bin,
       count(*) AS freq
FROM lineitem, w GROUP BY 1 ORDER BY 1
""")
def q_discretize_equal_width(spark, sf_dir):
    """EqualWidth binning (discretize.py:211): min/max pass → row-local CASE
    thresholds (codegen, no ML stage)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    out = D.discretize(li, "l_quantity", "equal_width", 4, out_col="bin")
    return out.groupBy("bin").agg(F.count(F.lit(1)).alias("freq")).orderBy("bin")


@query("q_discretize_equal_freq", """
WITH q AS (SELECT quantile_cont(l_quantity, 0.25) AS t1,
                  quantile_cont(l_quantity, 0.50) AS t2,
                  quantile_cont(l_quantity, 0.75) AS t3 FROM lineitem)
SELECT CASE WHEN l_quantity IS NULL THEN NULL
            WHEN l_quantity <= t1 THEN 0
            WHEN l_quantity <= t2 THEN 1
            WHEN l_quantity <= t3 THEN 2
            ELSE 3 END AS bin,
       count(*) AS freq
FROM lineitem, q GROUP BY 1 ORDER BY 1
""")
def q_discretize_equal_freq(spark, sf_dir):
    """EqualFreq binning (discretize.py:181): exact percentile thresholds
    (approxQuantile is the 100 TB path — same API, approx=True)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    out = D.discretize(li, "l_quantity", "equal_freq", 4, out_col="bin")
    return out.groupBy("bin").agg(F.count(F.lit(1)).alias("freq")).orderBy("bin")


@query("q_continuize_indicators", """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN NULL
                WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS n_F,
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN NULL
                WHEN o_orderstatus = 'O' THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS n_O,
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN NULL
                WHEN o_orderstatus = 'P' THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS n_P
FROM orders GROUP BY o_orderpriority
""")
def q_continuize_indicators(spark, sf_dir):
    """Continuize 'Indicators' treatment (continuize.py:11-100) — one-hot
    columns summed per group."""
    (orders,) = _t(spark, sf_dir, "orders")
    out = P.continuize(orders, "o_orderstatus", ["F", "O", "P"], "indicators")
    agg = G.aggregate(out, ["o_orderpriority"], {
        "o_orderstatus=F": [("sum", "n_F")],
        "o_orderstatus=O": [("sum", "n_O")],
        "o_orderstatus=P": [("sum", "n_P")],
    })
    return agg.select("o_orderpriority",
                      *[F.col(c).cast("double").alias(c)
                        for c in ("n_F", "n_O", "n_P")])


@query("q_impute_mean", """
WITH t AS (SELECT CASE WHEN l_discount = 0 THEN NULL ELSE l_discount END AS d,
                  l_returnflag FROM lineitem),
     m AS (SELECT avg(d) AS mean_d FROM t)
SELECT l_returnflag,
       count(*) AS n,
       sum(coalesce(d, mean_d)) AS d_imputed_sum
FROM t, m GROUP BY l_returnflag
""")
def q_impute_mean(spark, sf_dir):
    """Average imputation (impute.py:96): one stats pass + fillna; NULLs
    synthesized from zero discounts since the fixtures are complete."""
    (li,) = _t(spark, sf_dir, "lineitem")
    t = li.select(
        F.when(F.col("l_discount") == 0, None)
         .otherwise(F.col("l_discount")).alias("d"),
        "l_returnflag")
    imp = P.impute_average(t, ["d"])
    return G.aggregate(imp, ["l_returnflag"], {
        "l_returnflag": [("count", "n")],
        "d": [("sum", "d_imputed_sum")],
    })


@query("q_normalize_standardize", """
WITH s AS (SELECT avg(l_quantity) AS m, stddev_samp(l_quantity) AS sd
           FROM lineitem)
SELECT l_returnflag,
       avg((l_quantity - m) / sd) AS zmean,
       min((l_quantity - m) / sd) AS zmin,
       max((l_quantity - m) / sd) AS zmax
FROM lineitem, s GROUP BY l_returnflag
""")
def q_normalize_standardize(spark, sf_dir):
    """Normalize-by-SD (preprocess.py:261-355) as plain affine exprs from one
    stats pass."""
    (li,) = _t(spark, sf_dir, "lineitem")
    norm = P.normalize(li, ["l_quantity"], method="standardize")
    return G.aggregate(norm, ["l_returnflag"], {
        "l_quantity": [("mean", "zmean"), ("min", "zmin"), ("max", "zmax")],
    })


@query("q_entropy_mdl_bins", """
WITH c AS (SELECT l_quantity AS v, l_returnflag AS y, count(*) AS n
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
           GROUP BY 1, 2),
g AS (SELECT v,
             CAST(sum(CASE WHEN y='A' THEN n ELSE 0 END) AS DOUBLE) AS na,
             CAST(sum(CASE WHEN y='N' THEN n ELSE 0 END) AS DOUBLE) AS nn,
             CAST(sum(CASE WHEN y='R' THEN n ELSE 0 END) AS DOUBLE) AS nr
      FROM c GROUP BY v),
cum AS (SELECT v, lead(v) OVER (ORDER BY v) AS nxt,
               sum(na) OVER (ORDER BY v) AS ca,
               sum(nn) OVER (ORDER BY v) AS cn,
               sum(nr) OVER (ORDER BY v) AS cr
        FROM g),
tot AS (SELECT sum(na) AS ta, sum(nn) AS tn, sum(nr) AS tr,
               sum(na) + sum(nn) + sum(nr) AS n FROM g),
cand AS (SELECT (v + nxt) / 2 AS cut,
                ca, cn, cr, ta - ca AS ra, tn - cn AS rn2, tr - cr AS rr,
                ca + cn + cr AS nl, n - (ca + cn + cr) AS nr2,
                ta, tn, tr, n
         FROM cum, tot WHERE nxt IS NOT NULL),
ent AS (SELECT cut, nl, nr2, n, ta, tn, tr, ca, cn, cr, ra, rn2, rr,
   -(CASE WHEN ta > 0 THEN (ta/n)*log2(ta/n) ELSE 0 END
     + CASE WHEN tn > 0 THEN (tn/n)*log2(tn/n) ELSE 0 END
     + CASE WHEN tr > 0 THEN (tr/n)*log2(tr/n) ELSE 0 END) AS h_all,
   -(CASE WHEN ca > 0 THEN (ca/nl)*log2(ca/nl) ELSE 0 END
     + CASE WHEN cn > 0 THEN (cn/nl)*log2(cn/nl) ELSE 0 END
     + CASE WHEN cr > 0 THEN (cr/nl)*log2(cr/nl) ELSE 0 END) AS hl,
   -(CASE WHEN ra > 0 THEN (ra/nr2)*log2(ra/nr2) ELSE 0 END
     + CASE WHEN rn2 > 0 THEN (rn2/nr2)*log2(rn2/nr2) ELSE 0 END
     + CASE WHEN rr > 0 THEN (rr/nr2)*log2(rr/nr2) ELSE 0 END) AS hr
  FROM cand),
sc AS (SELECT cut, h_all - (nl*hl + nr2*hr)/n AS gain,
              (CASE WHEN ta>0 THEN 1 ELSE 0 END + CASE WHEN tn>0 THEN 1 ELSE 0 END
               + CASE WHEN tr>0 THEN 1 ELSE 0 END) AS k,
              (CASE WHEN ca>0 THEN 1 ELSE 0 END + CASE WHEN cn>0 THEN 1 ELSE 0 END
               + CASE WHEN cr>0 THEN 1 ELSE 0 END) AS k1,
              (CASE WHEN ra>0 THEN 1 ELSE 0 END + CASE WHEN rn2>0 THEN 1 ELSE 0 END
               + CASE WHEN rr>0 THEN 1 ELSE 0 END) AS k2,
              h_all, hl, hr, n
       FROM ent),
best AS (SELECT * FROM sc ORDER BY gain DESC, cut LIMIT 1)
SELECT cut,
       round(gain, CAST(5 - floor(log10(abs(gain))) AS INT)) AS gain,
       gain > (log2(n - 1) + log2(power(3, k) - 2)
               - (k*h_all - k1*hl - k2*hr)) / n AS accepted
FROM best
""")
def q_entropy_mdl_bins(spark, sf_dir):
    """EntropyMDL supervised binning (discretize.py:695-900): distributed
    contingency agg + driver-side Fayyad-Irani recursion.  The checked
    projection is the FIRST split — best info-gain boundary + MDL acceptance
    — which a window-SQL oracle reproduces bit-for-bit; the full recursion
    runs the identical aggregation+scoring and is pytest-verified."""
    import math

    (li,) = _t(spark, sf_dir, "lineitem")
    res = D.entropy_mdl_first_split(li, "l_quantity", "l_returnflag")
    cut, gain, accept = res
    gr = round(gain, int(5 - math.floor(math.log10(abs(gain))))) if gain else 0.0
    return local_frame(
        spark, [(float(cut), float(gr), bool(accept))],
        "cut double, gain double, accepted boolean")


_SIG6 = "round({v}, CAST(5 - floor(log10(abs({v}))) AS INT))"


@query("q_feature_scores", f"""
WITH c AS (SELECT l_linestatus AS f, l_returnflag AS y,
                  CAST(count(*) AS DOUBLE) AS n
           FROM lineitem
           WHERE l_linestatus IS NOT NULL AND l_returnflag IS NOT NULL
           GROUP BY 1, 2),
tot AS (SELECT sum(n) AS nn FROM c),
hy AS (SELECT -sum(p * log2(p)) AS h FROM
        (SELECT sum(n) / (SELECT nn FROM tot) AS p FROM c GROUP BY y)),
hf AS (SELECT -sum(p * log2(p)) AS h FROM
        (SELECT sum(n) / (SELECT nn FROM tot) AS p FROM c GROUP BY f)),
hcond AS (SELECT sum(fn / tot.nn * hfy) AS h FROM (
            SELECT f, any_value(fn) AS fn,
                   -sum((n/fn) * log2(n/fn)) AS hfy
            FROM (SELECT f, y, n, sum(n) OVER (PARTITION BY f) AS fn FROM c)
            GROUP BY f), tot),
gy AS (SELECT 1 - sum(p*p) AS g FROM
        (SELECT sum(n) / (SELECT nn FROM tot) AS p FROM c GROUP BY y)),
gcond AS (SELECT sum(fn / tot.nn * gfy) AS g FROM (
            SELECT f, any_value(fn) AS fn, 1 - sum((n/fn) * (n/fn)) AS gfy
            FROM (SELECT f, y, n, sum(n) OVER (PARTITION BY f) AS fn FROM c)
            GROUP BY f), tot),
cells AS (SELECT fv.f, yv.y, coalesce(c.n, 0) AS n, fv.fn, yv.yn
          FROM (SELECT f, sum(n) AS fn FROM c GROUP BY f) fv
          CROSS JOIN (SELECT y, sum(n) AS yn FROM c GROUP BY y) yv
          LEFT JOIN c ON c.f = fv.f AND c.y = yv.y),
chi AS (SELECT sum(power(n - fn*yn/tot.nn, 2) / (fn*yn/tot.nn)) AS v
        FROM cells, tot),
aq AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(l_quantity) AS m,
              var_samp(l_quantity) AS v
       FROM lineitem WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
       GROUP BY l_returnflag),
anq AS (SELECT (sum(n*(m-gm)*(m-gm)) / (count(*) - 1))
               / (sum((n-1)*v) / (sum(n) - count(*))) AS v
        FROM (SELECT n, m, v, sum(n*m) OVER () / sum(n) OVER () AS gm FROM aq)),
ap AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(l_extendedprice) AS m,
              var_samp(l_extendedprice) AS v
       FROM lineitem
       WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
       GROUP BY l_returnflag),
anp AS (SELECT (sum(n*(m-gm)*(m-gm)) / (count(*) - 1))
               / (sum((n-1)*v) / (sum(n) - count(*))) AS v
        FROM (SELECT n, m, v, sum(n*m) OVER () / sum(n) OVER () AS gm FROM ap)),
uq AS (SELECT power(corr(l_quantity, l_extendedprice), 2) AS r2,
              count(*) AS n FROM lineitem
       WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
ud AS (SELECT power(corr(l_discount, l_extendedprice), 2) AS r2,
              count(*) AS n FROM lineitem
       WHERE l_discount IS NOT NULL AND l_extendedprice IS NOT NULL)
SELECT 'l_linestatus' AS feature, 'info_gain' AS scorer,
       {_SIG6.format(v="hy.h - hcond.h")} AS score FROM hy, hcond
UNION ALL SELECT 'l_linestatus', 'gain_ratio',
       {_SIG6.format(v="(hy.h - hcond.h) / hf.h")} FROM hy, hcond, hf
UNION ALL SELECT 'l_linestatus', 'gini',
       {_SIG6.format(v="gy.g - gcond.g")} FROM gy, gcond
UNION ALL SELECT 'l_linestatus', 'chi2', {_SIG6.format(v="chi.v")} FROM chi
UNION ALL SELECT 'l_quantity', 'anova_f', {_SIG6.format(v="anq.v")} FROM anq
UNION ALL SELECT 'l_extendedprice', 'anova_f', {_SIG6.format(v="anp.v")} FROM anp
UNION ALL SELECT 'l_quantity', 'univar_lin',
       {_SIG6.format(v="uq.r2 / (1 - uq.r2) * (uq.n - 2)")} FROM uq
UNION ALL SELECT 'l_discount', 'univar_lin',
       {_SIG6.format(v="ud.r2 / (1 - ud.r2) * (ud.n - 2)")} FROM ud
""")
def q_feature_scores(spark, sf_dir):
    """InfoGain/GainRatio/Gini/χ²/ANOVA/UnivariateLinearRegression scores
    (score.py; reference ``Orange/preprocess/score.py:107,126,142,298-340``)
    — each from one contingency/moment aggregate, driver-scored, rounded to
    6 significant digits on both sides.  The sampling-bounded ReliefF /
    RReliefF scorers (inherently pairwise) stay pytest-verified."""
    import math

    def sig6(v):
        if not v or v != v or v in (float("inf"), float("-inf")):
            return 0.0
        return float(round(v, int(5 - math.floor(math.log10(abs(v))))))

    (li,) = _t(spark, sf_dir, "lineitem")
    rows = []
    # THREE scans total: one shared contingency feeds all four discrete
    # scorers, one grouped agg scores every ANOVA column, one agg scores
    # every univariate-regression column (r3 ran 9 separate scans here —
    # its second-biggest bench regression at 7.4 s)
    for feat in ("l_linestatus",):
        cont = SC.contingency_counts(li, feat, "l_returnflag")
        rows.append((feat, "info_gain", sig6(SC.info_gain_from(cont))))
        rows.append((feat, "gain_ratio", sig6(SC.gain_ratio_from(cont))))
        rows.append((feat, "gini", sig6(SC.gini_from(cont))))
        rows.append((feat, "chi2", sig6(SC.chi2_from(cont)[0])))
    anova = SC.anova_f_multi(li, ["l_quantity", "l_extendedprice"],
                             "l_returnflag")
    for feat in ("l_quantity", "l_extendedprice"):
        rows.append((feat, "anova_f", sig6(anova[feat])))
    uni = SC.univariate_linear_regression_multi(
        li, ["l_quantity", "l_discount"], "l_extendedprice")
    for feat in ("l_quantity", "l_discount"):
        rows.append((feat, "univar_lin", sig6(uni[feat])))
    return local_frame(spark, rows,
                       "feature string, scorer string, score double")


@query("q_discretize_timewidth", """
SELECT CAST(to_timestamp(floor(epoch(ts) / 21600) * 21600) AS TIMESTAMP)
         AS bin_start,
       count(*) AS n,
       sum(value) AS total
FROM events GROUP BY 1 ORDER BY 1
""")
def q_discretize_timewidth(spark, sf_dir):
    """FixedTimeWidth (Orange/preprocess/discretize.py:272): 6-hour bins by
    epoch-aligned integer arithmetic — row-local, codegen, no UDF; the bin
    start doubles as a calendar-stable join key."""
    (ev,) = _t(spark, sf_dir, "events")
    out = D.fixed_time_width(ev, "ts", 6, "hour", out_col="bin_start",
                             max_intervals=None)
    return (out.groupBy("bin_start")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("value").alias("total"))
               .orderBy("bin_start"))


@query("q_discretize_nice", """
WITH s AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
                  count(DISTINCT l_extendedprice) AS nu FROM lineitem),
fac AS (SELECT * FROM (VALUES (1, 0.01), (2, 0.02), (3, 0.025), (4, 0.05),
                              (5, 0.1), (6, 0.2), (7, 0.25), (8, 0.5),
                              (9, 1.0), (10, 2.0), (11, 5.0), (12, 10.0),
                              (13, 20.0)) AS t(i, f)),
cand AS (SELECT i, f / power(10, -floor(log10(hi - lo))) AS width, lo, hi, nu
         FROM fac, s),
cand2 AS (SELECT i, width, floor(lo / width) * width AS mn_,
                 ceil(hi / width) * width AS mx_, nu FROM cand),
cand3 AS (SELECT i, width, mn_,
                 round((mx_ - mn_) / width) AS nbins, nu FROM cand2),
valid AS (SELECT * FROM cand3 WHERE nbins BETWEEN 2 AND least(50, nu)),
dedup AS (SELECT *, lag(nbins) OVER (ORDER BY i) AS prev FROM valid),
kept AS (SELECT * FROM dedup WHERE prev IS NULL OR prev <> nbins),
chosen AS (SELECT * FROM kept WHERE nbins >= 3
           ORDER BY abs(4 - nbins), nbins DESC LIMIT 1)
SELECT CAST(greatest(0, least(nbins - 1,
         ceil((l_extendedprice - mn_) / width) - 1)) AS INT) AS bin,
       count(*) AS freq
FROM lineitem, chosen GROUP BY 1 ORDER BY 1
""")
def q_discretize_nice(spark, sf_dir):
    """Binning with nice decimal thresholds (discretize.py:332,433): one
    min/max/distinct agg, driver-side candidate arithmetic (powers of ten ×
    nice factors), pick the candidate nearest 4 bins, then a row-local
    bucketize.  The oracle replays the same candidate search in SQL."""
    (li,) = _t(spark, sf_dir, "lineitem")
    out = D.nice_binning(li, "l_extendedprice", 4, out_col="bin")
    return (out.groupBy("bin").agg(F.count(F.lit(1)).alias("freq"))
               .orderBy("bin"))


@query("q_scale_median_span", """
WITH s AS (SELECT quantile_cont(l_discount, 0.5) AS med,
                  max(l_discount) - min(l_discount) AS span
           FROM lineitem)
SELECT l_returnflag,
       avg((l_discount - med) / (CASE WHEN abs(span) < 1e-15 THEN 1.0
                                      ELSE span END)) AS avg_scaled,
       count(*) AS n
FROM lineitem, s GROUP BY l_returnflag ORDER BY l_returnflag
""")
def q_scale_median_span(spark, sf_dir):
    """Scale with median centering + span scaling
    (Orange/preprocess/preprocess.py:467-545, the two variants beyond
    normalize's mean/std): one stats pass, then a row-local affine map;
    aggregated per returnflag for a compact oracle-checked projection."""
    (li,) = _t(spark, sf_dir, "lineitem")
    scaled = P.scale(li, ["l_discount"], center="median", scaling="span")
    return (scaled.groupBy("l_returnflag")
                  .agg(F.avg("l_discount").alias("avg_scaled"),
                       F.count(F.lit(1)).alias("n"))
                  .orderBy("l_returnflag"))


@query("q_randomize", """
SELECT c_acctbal AS shuffled_acctbal FROM customer
""")
def q_randomize(spark, sf_dir):
    """Randomize (preprocess.py:357-440): shuffle ``c_acctbal``
    independently of the other columns with a seeded distributed
    permutation (range-sort on rand + partition-parallel row index —
    transform.py:randomize).  A permutation preserves the column's exact
    multiset, and the driver compares sorted rows, so the oracle is simply
    the unshuffled column; decoupling from the other columns is
    pytest-checked (test_randomize_breaks_correlation) since no SQL oracle
    can pin a random pairing."""
    (cust,) = _t(spark, sf_dir, "customer")
    out = P.randomize(cust.select("c_custkey", "c_acctbal"), ["c_acctbal"],
                      seed=7)
    return out.select(F.col("c_acctbal").alias("shuffled_acctbal"))


@query("q_adaptive_normalize", """
WITH d AS (SELECT CAST(l_quantity AS DOUBLE) AS qty,
                  CASE WHEN l_discount > 0.08
                       THEN CAST(l_discount AS DOUBLE)
                       ELSE 0.0 END AS disc
           FROM lineitem),
qstats AS (SELECT avg(qty) AS m, stddev_samp(qty) AS sd FROM d),
qn AS (SELECT (qty - m) / sd AS v FROM d, qstats),
dstats AS (SELECT min(disc) AS mn, max(disc) AS mx FROM d),
dn AS (SELECT (disc - 0.0) / (mx - mn) AS v FROM d, dstats)
SELECT 'qty' AS col_name, 'normalize' AS branch,
       CAST(sum(CASE WHEN v < -0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       CAST(sum(CASE WHEN v >= -0.5 AND v < 0.5 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_mid,
       CAST(sum(CASE WHEN v >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM qn
UNION ALL
SELECT 'disc', 'scale',
       CAST(sum(CASE WHEN v < -0.5 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN v >= -0.5 AND v < 0.5 THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST(sum(CASE WHEN v >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
FROM dn
""")
def q_adaptive_normalize(spark, sf_dir):
    """AdaptiveNormalize (preprocess.py:615): the zero-share probe routes
    a dense column through Normalize(standardize) and a mostly-zero
    column through Scale(span, no centering) — the sparse-safe path.

    Determinism note (this query was the r5 driver's one hash-fail): the
    standardized column's MEAN is a ~1e-13 cancellation artifact, and
    ``round(x, 6)`` of it yields -0.0 or +0.0 depending on the machine's
    partial-sum order — the local canon collapses signed zero, the
    driver's does not.  The check values are therefore integer BUCKET
    COUNTS at boundaries ±0.5 in normalized space: qty is lattice-valued
    (integers 1..50), so the z boundaries m±sd/2 sit ~0.5 qty-units from
    the nearest data point while the engines' m/sd agree to ~1e-13 —
    counts cannot flip; disc maps to {0, 0.9, 1.0}, all far from ±0.5.
    The dispatch itself is pinned by the branch column."""
    (li,) = _t(spark, sf_dir, "lineitem")
    data = li.select(
        F.col("l_quantity").cast("double").alias("qty"),
        F.when(F.col("l_discount") > 0.08,
               F.col("l_discount").cast("double"))
        .otherwise(F.lit(0.0)).alias("disc"))
    rows = []
    for col in ("qty", "disc"):
        out, branch = P.adaptive_normalize(data, [col])
        st = out.agg(
            F.sum((F.col(col) < -0.5).cast("long")).alias("lo"),
            F.sum(((F.col(col) >= -0.5) & (F.col(col) < 0.5))
                  .cast("long")).alias("mid"),
            F.sum((F.col(col) >= 0.5).cast("long")).alias("hi")).first()
        rows.append((col, branch, int(st["lo"]), int(st["mid"]),
                     int(st["hi"])))
    return local_frame(
        spark, rows, "col_name string, branch string, n_low long, "
                     "n_mid long, n_high long")


# SelectRandomFeatures: the seeded draw is a pure function of the column
# names, so the SAME selection is computed here once and embedded in both
# the Spark plan and the oracle SQL — the oracle then cross-checks real
# aggregates over the selected columns, not just the name list.
_RAND_FEAT_POOL = ["l_quantity", "l_extendedprice", "l_discount", "l_tax",
                   "l_linenumber", "l_orderkey", "l_partkey"]
_RAND_FEAT_KEEP = None  # filled lazily to keep import cheap


def _rand_feat_keep():
    global _RAND_FEAT_KEEP
    if _RAND_FEAT_KEEP is None:
        _RAND_FEAT_KEEP = SC.select_random_features(
            _RAND_FEAT_POOL, 3, seed=9)
    return _RAND_FEAT_KEEP


def _rand_feat_sql():
    keep = _rand_feat_keep()
    parts = [
        f"SELECT CAST({i + 1} AS BIGINT) AS pos, '{c}' AS feature, "
        f"avg(CAST({c} AS DOUBLE)) AS mean_val, "
        f"CAST(count({c}) AS BIGINT) AS n_val FROM lineitem"
        for i, c in enumerate(keep)]
    return "\nUNION ALL\n".join(parts)


@query("q_select_random", _rand_feat_sql())
def q_select_random(spark, sf_dir):
    """SelectRandomFeatures (``Orange/preprocess/fss.py:106-132``): a
    seeded hash-ranked k-subset of the feature columns — selection is a
    pure function of (names, seed), so it costs no scan and replays
    identically at any scale; the kept columns are then profiled in ONE
    aggregation pass (column pruning pushes exactly the 3 kept columns
    into the parquet scan)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    keep = _rand_feat_keep()
    aggs = []
    for c in keep:
        aggs.append(F.avg(F.col(c).cast("double")).alias(f"m|{c}"))
        aggs.append(F.count(F.col(c)).alias(f"n|{c}"))
    row = li.agg(*aggs)
    pairs = F.array(*[
        F.struct(F.lit(i + 1).cast("long").alias("pos"),
                 F.lit(c).alias("feature"),
                 F.col(f"`m|{c}`").alias("mean_val"),
                 F.col(f"`n|{c}`").alias("n_val"))
        for i, c in enumerate(keep)])
    return (row.select(F.explode(pairs).alias("p"))
               .select("p.pos", "p.feature", "p.mean_val", "p.n_val"))
