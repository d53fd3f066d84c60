"""Row-wise aggregates, correlations, deterministic sampling."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from orange3_spark.operators import rowagg
from orange3_spark.operators.sample import sample_hash, sample_hash_stratified
from orange3_spark.stats.basic import fdr, pearson_pairs, spearman_pairs


def test_rowagg_semantics(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0, 4.0, 8.0), (None, None, None, None), (3.0, None, 1.0, None)],
        "a double, b double, c double, d double")
    cols = ["a", "b", "c", "d"]
    out = rowagg.aggregate_columns(df, cols, list(rowagg.ROW_AGGS)).collect()
    r0, r1, r2 = out
    assert r0.row_sum == 15.0 and r0.row_median == 3.0 and r0.row_mean == 3.75
    assert math.isclose(r0.row_var, 7.1875)  # population variance
    assert r0.row_count_nonzero == 4
    # all-missing row -> missing result, not 0 (owaggregatecolumns semantics)
    assert all(r1[f"row_{a}"] is None for a in
               ("sum", "product", "min", "max", "mean", "var", "median"))
    assert r1.row_count_nonzero == 0
    assert r2.row_sum == 4.0 and r2.row_median == 2.0 and r2.row_min == 1.0


def test_pearson_spearman_monotone(spark):
    # y = x^3 is monotone but nonlinear: spearman == 1, pearson < 1
    df = spark.createDataFrame(
        [(float(x), float(x) ** 3) for x in range(1, 30)], "x double, y double")
    p = pearson_pairs(df, ["x", "y"]).collect()[0].r
    s = spearman_pairs(df, ["x", "y"]).collect()[0].r
    assert 0.8 < p < 1.0
    assert abs(s - 1.0) < 1e-12


def test_spearman_ties_average_rank(spark):
    df = spark.createDataFrame(
        [(1.0, 1.0), (1.0, 2.0), (2.0, 3.0), (2.0, 4.0), (3.0, 5.0)],
        "x double, y double")
    s = spearman_pairs(df, ["x", "y"]).collect()[0].r
    # average ranks x=[1.5,1.5,3.5,3.5,5] vs y=[1..5]: r = 9/(3*sqrt(10))
    assert abs(s - 0.9486832980505138) < 1e-9


def test_sample_hash_deterministic_and_unbiased(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    s1 = sample_hash(orders, "o_orderkey", 0.2)
    s2 = sample_hash(orders, "o_orderkey", 0.2)
    n, n1 = orders.count(), s1.count()
    assert n1 == s2.count()  # pure function of key
    assert 0.1 * n < n1 < 0.3 * n
    # different salt -> different membership
    s3 = sample_hash(orders, "o_orderkey", 0.2, salt="x")
    assert s3.count() != 0 and \
        s1.join(s3, "o_orderkey", "inner").count() < n1


def test_sample_hash_stratified(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = sample_hash_stratified(orders, "o_orderkey", "o_orderstatus",
                                 {"F": 1.0, "O": 0.0})
    got = {r[0] for r in out.select("o_orderstatus").distinct().collect()}
    assert got == {"F"}


def test_fdr_monotone():
    ps = [0.01, 0.04, 0.03, 0.002]
    out = fdr(ps)
    assert all(0 <= q <= 1 for q in out)
    assert out[3] <= out[0] <= out[2] <= out[1]


def test_feature_statistics_nan_and_mode(spark):
    """Missing accounting counts NULL and NaN; mode tie breaks to the
    smaller value; single agg pass covers all columns."""
    from orange3_spark.stats.basic import feature_statistics

    df = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0), (2.0, 7.0), (float("nan"), 7.0),
         (None, 9.0)],
        "a double, b double")
    out = {r.variable: r for r in feature_statistics(df, ["a", "b"]).collect()}
    a = out["a"]
    assert (a.n, a.n_missing, a.n_distinct) == (5, 2, 2)
    assert a.mode == 2.0 and a.min == 1.0 and a.max == 2.0
    b = out["b"]
    assert b.n_missing == 0 and b.mode == 5.0  # 5.0/7.0 tie at 2 -> smaller
    assert abs(b.median - 7.0) < 1e-9


def test_feature_statistics_approx_close_to_exact(spark, sf_dir):
    from orange3_spark.session import load_tables
    from orange3_spark.stats.basic import feature_statistics

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    exact = {r.variable: r for r in
             feature_statistics(li, ["l_quantity", "l_extendedprice"])
             .collect()}
    approx = {r.variable: r for r in
              feature_statistics(li, ["l_quantity", "l_extendedprice"],
                                 approx=True).collect()}
    for v in exact:
        e, a = exact[v], approx[v]
        assert abs(a.n_distinct - e.n_distinct) <= max(3, 0.05 * e.n_distinct)
        span = e.max - e.min or 1.0
        assert abs(a.median - e.median) <= 0.05 * span
        assert (a.n, a.n_missing, a.mode) == (e.n, e.n_missing, e.mode)


def test_kmv_distinct_exact_below_k_and_estimates_above(spark):
    from orange3_spark.stats.sketches import kmv_distinct

    rows = ([("small", f"v{i}") for i in range(20)] * 3
            + [("big", f"w{i}") for i in range(5000)])
    df = spark.createDataFrame(rows, "g string, v string")
    out = {r["g"]: r for r in
           kmv_distinct(df, "v", group_by="g", k=64).collect()}
    assert out["small"]["n_kept"] == 20
    assert out["small"]["est_distinct"] == 20      # exact below k
    est = out["big"]["est_distinct"]
    assert out["big"]["n_kept"] == 64
    assert abs(est - 5000) / 5000 < 0.5, est       # ~1/sqrt(64) error
    out2 = {r["g"]: r["est_distinct"] for r in
            kmv_distinct(df.repartition(11), "v", group_by="g",
                         k=64).collect()}
    assert out2 == {g: r["est_distinct"] for g, r in out.items()}


def test_cms_overestimates_and_is_deterministic(spark):
    from orange3_spark.stats.sketches import cms_lanes, cms_point_estimates

    rows = ([("apple",)] * 500 + [("pear",)] * 30
            + [(f"noise{i % 700}",) for i in range(3000)])
    df = spark.createDataFrame(rows, "tok string")
    table = cms_lanes(df, "tok", width=256, depth=4)
    est = {r["item"]: r["cms_n"] for r in cms_point_estimates(
        table, ["apple", "pear", "absent"], width=256, depth=4).collect()}
    assert est["apple"] >= 500 and est["apple"] <= 500 + 3530
    assert est["pear"] >= 30
    assert est["absent"] >= 0                       # may collide upward
    table2 = cms_lanes(df.repartition(9), "tok", width=256, depth=4)
    est2 = {r["item"]: r["cms_n"] for r in cms_point_estimates(
        table2, ["apple", "pear", "absent"], width=256, depth=4).collect()}
    assert est == est2


def test_hll_estimates_and_is_partition_invariant(spark):
    from orange3_spark.stats.sketches import hll_distinct

    rows = ([("small", f"v{i % 30}") for i in range(300)]
            + [("big", f"w{i}") for i in range(8000)])
    df = spark.createDataFrame(rows, "g string, v string")
    out = {r["g"]: r for r in
           hll_distinct(df, "v", group_by="g", p=8).collect()}
    # ~1.04/sqrt(256) ≈ 6.5% std error; allow 4 sigma
    assert abs(out["big"]["est_distinct"] - 8000) / 8000 < 0.26
    assert abs(out["small"]["est_distinct"] - 30) / 30 < 0.5
    out2 = {r["g"]: r["est_distinct"] for r in
            hll_distinct(df.repartition(13), "v", group_by="g",
                         p=8).collect()}
    assert out2 == {g: r["est_distinct"] for g, r in out.items()}
    # bounded state: s_scaled <= m * 2^53
    assert all(r["s_scaled"] <= 256 * (1 << 53) for r in out.values())


def test_bloom_no_false_negatives(spark):
    from orange3_spark.stats.sketches import bloom_buckets, bloom_probe

    df = spark.createDataFrame([(f"k{i}",) for i in range(2000)],
                               "v string")
    table = bloom_buckets(df, "v", bits=8192, depth=4)
    probes = [f"k{i}" for i in range(0, 2000, 97)] + ["zz1", "zz2", "zz3"]
    out = {r["item"]: r["maybe_present"] for r in
           bloom_probe(table, probes, bits=8192, depth=4).collect()}
    assert all(out[f"k{i}"] for i in range(0, 2000, 97))   # no false neg
    # determinism under repartition
    t2 = bloom_buckets(df.repartition(7), "v", bits=8192, depth=4)
    out2 = {r["item"]: r["maybe_present"] for r in
            bloom_probe(t2, probes, bits=8192, depth=4).collect()}
    assert out == out2


def test_quantile_sketch_brackets_exact_quantiles(spark):
    from orange3_spark.stats.sketches import (quantile_bins,
                                              quantile_from_bins)

    rows = [("a", float(i)) for i in range(1, 1001)]
    df = spark.createDataFrame(rows, "g string, x double")
    bins = quantile_bins(df, "x", group_by="g", n_bins=128,
                         lo=1.0, hi=1000.0)
    out = {r["p"]: r["q_est"] for r in
           quantile_from_bins(bins, [0.5, 0.9], lo=1.0,
                              w=(1000.0 - 1.0) / 128).collect()}
    # bin width ~7.8 → estimate within one bin of the true quantile
    assert abs(out[0.5] - 500.5) < 8.0
    assert abs(out[0.9] - 900.1) < 8.0
    bins2 = quantile_bins(df.repartition(9), "x", group_by="g",
                          n_bins=128, lo=1.0, hi=1000.0)
    out2 = {r["p"]: r["q_est"] for r in
            quantile_from_bins(bins2, [0.5, 0.9], lo=1.0,
                               w=(1000.0 - 1.0) / 128).collect()}
    assert out == out2


def test_hll_registers_merge_by_max(spark):
    """The mergeable-sketch contract: registers of a union equal the
    per-part registers merged by MAX — so shards sketched independently
    (different machines, days, or streams) combine exactly."""
    from pyspark.sql import functions as F

    from orange3_spark.stats.sketches import hll_estimate, hll_registers

    a = spark.createDataFrame([("g", f"a{i}") for i in range(400)],
                              "g string, v string")
    b = spark.createDataFrame([("g", f"b{i}") for i in range(300)]
                              + [("g", f"a{i}") for i in range(100)],
                              "g string, v string")
    direct = hll_registers(a.union(b), "v", group_by="g")
    merged = (hll_registers(a, "v", group_by="g")
              .unionByName(hll_registers(b, "v", group_by="g"))
              .groupBy("g", "idx").agg(F.max("mj").alias("mj")))
    est_d = hll_estimate(direct, group_by="g").collect()[0]
    est_m = hll_estimate(merged, group_by="g").collect()[0]
    assert est_d["est_distinct"] == est_m["est_distinct"]
    assert est_d["s_scaled"] == est_m["s_scaled"]


def test_validate_and_drift_psi(spark):
    from pyspark.sql import functions as F

    from orange3_spark.stats.validation import (drift_psi,
                                                psi_from_counts,
                                                validate)

    df = spark.createDataFrame(
        [(1, 5.0), (2, 10.0), (3, None), (4, 200.0)], "id long, x double")
    out = {r["rule"]: r["n_violations"] for r in validate(df, {
        "x_not_null": F.col("x").isNotNull(),
        "x_small": F.col("x") < 100,
    }).collect()}
    assert out["x_not_null"] == 1
    assert out["x_small"] == 2            # NULL counts as violation
    # identical populations -> PSI ~ 0; disjoint -> large
    assert psi_from_counts([50, 50], [50, 50]) == 0.0
    assert psi_from_counts([100, 0], [0, 100]) > 1.0
    rows = [(i, float(i % 100), i < 500) for i in range(1000)]
    d2 = spark.createDataFrame(rows, "id long, x double, early boolean")
    tab, psi_q = drift_psi(d2, "x", F.col("early"), n_bins=10,
                           lo=0.0, hi=99.0)
    assert psi_q < 10_000_000             # same distribution: PSI ~ 0
    _, psi_q2 = drift_psi(d2, "x", F.col("x") < 50.0, n_bins=10,
                          lo=0.0, hi=99.0)
    assert psi_q2 > 1_000_000_000         # disjoint halves: PSI >> 0.2
    _, psi_q3 = drift_psi(d2.repartition(7), "x", F.col("early"),
                          n_bins=10, lo=0.0, hi=99.0)
    assert psi_q3 == psi_q                # partition-invariant


def test_chi2_and_distance_transform(spark):
    from pyspark.sql import functions as F

    from orange3_spark.stats.distance import distance_transform
    from orange3_spark.stats.validation import chi2_from_counts, drift_chi2

    assert chi2_from_counts([50, 50], [50, 50]) == 0.0
    assert chi2_from_counts([100, 0], [0, 100]) > 100.0
    rows = ([("x", True)] * 50 + [("y", True)] * 50
            + [("x", False)] * 50 + [("y", False)] * 50)
    df = spark.createDataFrame(rows, "v string, early boolean")
    _, q = drift_chi2(df, "v", F.col("early"))
    assert q == 0                              # identical mixes
    rows2 = [("x", True)] * 90 + [("y", True)] * 10 \
        + [("x", False)] * 10 + [("y", False)] * 90
    _, q2 = drift_chi2(spark.createDataFrame(rows2, "v string, early boolean"),
                       "v", F.col("early"))
    assert q2 > 50 * 10**9                     # massive shift
    d = spark.createDataFrame([(1, 2, 4.0), (1, 3, 8.0), (2, 3, 0.0)],
                              "id_a long, id_b long, dist double")
    out = {(r["id_a"], r["id_b"]): r["dist"] for r in
           distance_transform(d, normalize=True, invert=True).collect()}
    assert out == {(1, 2): 0.5, (1, 3): 0.0, (2, 3): 1.0}


def test_binned_sketches_constant_column_guard(spark):
    from pyspark.sql import functions as F

    from orange3_spark.stats.sketches import quantile_bins
    from orange3_spark.stats.validation import drift_psi

    df = spark.createDataFrame([("g", 7.0, i < 3) for i in range(6)],
                               "g string, x double, early boolean")
    bins = quantile_bins(df, "x", group_by="g", n_bins=16,
                         lo=7.0, hi=7.0).collect()
    assert [(r["bin"], r["n"]) for r in bins] == [(0, 6)]
    _, psi_q = drift_psi(df, "x", F.col("early"), n_bins=16,
                         lo=7.0, hi=7.0)
    assert psi_q == 0


def test_check_max_levels_exact_at_boundary(spark):
    import pytest

    from orange3_spark.guards import check_max_levels

    # 10 distinct values: HLL estimate sits well inside the band around
    # max_levels=10, so the guard must settle it with the exact capped
    # probe — at the boundary, exactly max_levels levels must PASS...
    df = spark.createDataFrame([(i % 10, i % 3) for i in range(100)],
                               "a int, b int")
    check_max_levels(df, ["a", "b"], 10, "test")
    # ...and max_levels-1 must reject (HLL alone could swing either way)
    with pytest.raises(ValueError, match=r"\['a'\] exceed 9 levels"):
        check_max_levels(df, ["a", "b"], 9, "test")
    # far above the band: rejected by the HLL probe alone
    wide = spark.range(5000).select(F.col("id").alias("a"))
    with pytest.raises(ValueError, match="exceed 100 levels"):
        check_max_levels(wide, ["a"], 100, "test")


def test_feature_statistics_hist_twin_matches_distributed(spark,
                                                          no_local_twins):
    """The bounded-histogram single-scan path is the distributed
    exact-quantized plan's local twin: every field bit-identical
    (no_local_twins forces the two-scan plan) — nulls, NaN, mode ties,
    even/odd counts, negatives, interpolated medians."""
    from orange3_spark.stats.basic import feature_statistics

    df = spark.createDataFrame(
        [(1.25, -5.0, 100.0), (2.5, -5.0, None), (2.5, 7.75, 300.0),
         (float("nan"), 7.75, 200.0), (None, -6.5, 200.0),
         (3.75, None, 150.0), (2.5, -5.0, float("nan"))],
        "a double, b double, c double")
    cols = ["a", "b", "c"]
    fast = feature_statistics(df, cols, quantize=100.0).collect()
    with no_local_twins():
        slow = feature_statistics(df, cols, quantize=100.0).collect()
    by_var = lambda rows: {r.variable: r for r in rows}
    f, s = by_var(fast), by_var(slow)
    assert set(f) == set(s)
    for v in f:
        for field in ("n", "n_missing", "n_distinct", "mean", "stddev",
                      "min", "max", "median", "mode"):
            assert getattr(f[v], field) == getattr(s[v], field), \
                (v, field, getattr(f[v], field), getattr(s[v], field))


def test_spark_median_long_formula_pin(spark):
    """_spark_median_long mirrors F.median over longs exactly —
    including the interpolation formula's float op order at magnitudes
    where (lo+hi)/2 and lo+(hi-lo)/2 would differ in the last ulp."""
    from pyspark.sql import functions as F

    from orange3_spark.stats.basic import _spark_median_long

    cases = [
        [3],                            # single
        [1, 2],                         # even, interpolated
        [1, 2, 4],                      # odd
        [-7, -3, 10, 12],               # negatives, even
        [5, 5, 5, 9],                   # duplicates straddling the cut
        [2**53 + 1, 2**53 + 3],         # beyond exact-double integers
        [-(2**62), 2**62 - 1],          # extreme longs
        [0, 0, 0, 0, 1],
    ]
    for vals in cases:
        df = spark.createDataFrame([(int(v),) for v in vals], "q long")
        want = df.agg(F.median("q")).first()[0]
        got = _spark_median_long(
            [(v, sum(1 for x in vals if x == v)) for v in set(vals)])
        assert got == want, (vals, got, want)
