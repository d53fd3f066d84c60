"""Operator-semantics units — the edge cases the reference's widget tests
pin down (NaN keys, duplicate keys, rename-on-collision, tiebreakers)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orange3_spark.operators.filters import (
    ContinuousOps, FilterContinuous, FilterString, StringOps,
)
from orange3_spark.operators.merge import MergeError, merge
from orange3_spark.operators import reshape as R
from orange3_spark.operators import sample as SA
from tests.conftest import plan_leaves


@pytest.fixture(scope="module")
def left(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0), (4, "d", 40.0)],
        "k int, v_shared string, v_left double")


@pytest.fixture(scope="module")
def right(spark):
    return spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (None, "n", "z"), (9, "q", "w")],
        "k int, v_shared string, v_right string")


def test_merge_null_keys_never_match(spark):
    l = spark.createDataFrame([(1, "l1"), (None, "l2")], "k int, a string")
    r = spark.createDataFrame([(1, "r1"), (None, "r2")], "k int, b string")
    inner = merge(l, r, ["k"], how="inner", check_unique=False)
    assert [tuple(x) for x in inner.collect()] == [(1, "l1", "r1")]
    # outer keeps both NULL-keyed rows unmatched (owmergedata.py:582-592)
    outer = merge(l, r, ["k"], how="outer")
    assert outer.count() == 3


def test_merge_rename_on_collision(left, right):
    out = merge(left, right, ["k"], how="left")
    # same-named key dropped from right; v_shared collides -> renamed
    assert out.columns == ["k", "v_shared", "v_left", "v_shared (1)", "v_right"]


def test_merge_duplicate_right_keys_error(spark, left):
    dup = spark.createDataFrame([(1, "p"), (1, "q")], "k int, v string")
    with pytest.raises(MergeError):
        merge(left, dup, ["k"], how="left")


def test_merge_left_keeps_all_left_rows(left, right):
    out = merge(left, right, ["k"], how="left")
    assert out.count() == left.count()
    unmatched = out.filter(F.col("v_right").isNull()).count()
    assert unmatched == 2  # k=3 (no match), k=4 (no match)


def test_unique_tiebreakers(spark):
    df = spark.createDataFrame(
        [("g1", 1, 10.0), ("g1", 2, 20.0), ("g1", 3, 30.0), ("g2", 4, 40.0)],
        "g string, rid int, v double")
    first = R.unique(df, ["g"], tiebreaker="first", order_col="rid")
    assert {(r["g"], r["rid"]) for r in first.collect()} == {("g1", 1), ("g2", 4)}
    last = R.unique(df, ["g"], tiebreaker="last", order_col="rid")
    assert {(r["g"], r["rid"]) for r in last.collect()} == {("g1", 3), ("g2", 4)}
    middle = R.unique(df, ["g"], tiebreaker="middle", order_col="rid")
    assert {(r["g"], r["rid"]) for r in middle.collect()} == {("g1", 2), ("g2", 4)}
    discard = R.unique(df, ["g"], tiebreaker="discard")
    assert {(r["g"], r["rid"]) for r in discard.collect()} == {("g2", 4)}
    rnd1 = R.unique(df, ["g"], tiebreaker="random", seed=7)
    rnd2 = R.unique(df, ["g"], tiebreaker="random", seed=7)
    assert sorted(map(tuple, rnd1.collect())) == sorted(map(tuple, rnd2.collect()))


def test_filter_negate_keeps_null_operands(spark):
    df = spark.createDataFrame([(1.0,), (None,), (5.0,)], "x double")
    kept = FilterContinuous("x", ContinuousOps.GREATER, 2)(df)
    assert kept.count() == 1
    negated = FilterContinuous("x", ContinuousOps.GREATER, 2, negate=True)(df)
    # negation flips the mask: NULL operand row is KEPT (Orange semantics)
    assert negated.count() == 2


def test_filter_string_case_insensitive(spark):
    df = spark.createDataFrame([("Apple",), ("apple",), ("banana",)], "s string")
    ci = FilterString("s", StringOps.EQUAL, "APPLE", case_sensitive=False)(df)
    assert ci.count() == 2


def test_concatenate_intersection(spark):
    a = spark.createDataFrame([(1, "x", 1.0)], "k int, s string, v double")
    b = spark.createDataFrame([(2, "y")], "k int, s string")
    out = R.concatenate([a, b], domain_merge="intersection")
    assert out.columns == ["k", "s"] and out.count() == 2
    u = R.concatenate([a, b], domain_merge="union")
    assert u.columns == ["k", "s", "v"] and u.count() == 2


def test_split_column_onehot(spark):
    df = spark.createDataFrame([("a b",), ("b c",)], "s string")
    out = R.split_column(df, "s")
    rows = {tuple(r) for r in out.collect()}
    assert ("a b", 1, 1, 0) in rows and ("b c", 0, 1, 1) in rows


def test_sample_deterministic(spark, sf_dir):
    from orange3_spark.session import load_tables
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    s1 = SA.sample_fraction(li, 0.1, seed=42).count()
    s2 = SA.sample_fraction(li, 0.1, seed=42).count()
    assert s1 == s2 and 0 < s1 < li.count()
    folds = SA.cv_folds(li, 5, key=["l_orderkey", "l_linenumber"]) \
              .groupBy("fold").count().collect()
    assert len(folds) == 5
    # fold assignment is content-hashed: invariant under repartitioning
    f1 = {(r.l_orderkey, r.l_linenumber): r.fold
          for r in SA.cv_folds(li, 5, key=["l_orderkey", "l_linenumber"])
          .select("l_orderkey", "l_linenumber", "fold").collect()}
    f2 = {(r.l_orderkey, r.l_linenumber): r.fold
          for r in SA.cv_folds(li.repartition(7), 5,
                               key=["l_orderkey", "l_linenumber"])
          .select("l_orderkey", "l_linenumber", "fold").collect()}
    assert f1 == f2
    # exact fixed-size sample: right size, deterministic, repartition-stable
    s1 = SA.sample_fixed(li, 500, seed=7)
    s2 = SA.sample_fixed(li.repartition(7), 500, seed=7)
    assert s1.count() == 500
    k1 = {(r.l_orderkey, r.l_linenumber) for r in
          s1.select("l_orderkey", "l_linenumber").collect()}
    k2 = {(r.l_orderkey, r.l_linenumber) for r in
          s2.select("l_orderkey", "l_linenumber").collect()}
    assert k1 == k2


def test_stratified_sample(spark, sf_dir):
    from orange3_spark.session import load_tables
    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    s = SA.sample_fraction(cust, 0.5, seed=42, stratify_by="c_mktsegment")
    assert 0 < s.count() < cust.count()


def test_hstack_positional_and_keyed(spark):
    from orange3_spark.operators.reshape import hstack

    a = spark.createDataFrame([(1, "x"), (2, "y")], "id long, a string")
    b = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double")
    keyed = hstack(a, b, row_id="id").orderBy("id").collect()
    assert [(r.a, r.v) for r in keyed] == [("x", 10.0), ("y", 20.0)]
    pos = hstack(a.drop("id"), b.drop("id")).collect()
    assert len(pos) == 2 and {r.a for r in pos} == {"x", "y"}
    import pytest as _pt
    with _pt.raises(ValueError):
        hstack(a, a.withColumnRenamed("id", "id2"))  # duplicate 'a' column


def test_jdbc_reader_surface():
    """No DB here — assert the option plumbing builds a reader without
    touching the network (load() not called)."""
    from orange3_spark.sources import jdbc
    assert callable(jdbc.read_jdbc)


def test_asof_join_hand_case(spark):
    from orange3_spark.operators.window import asof_join

    left = spark.createDataFrame(
        [("u", 5, "L5"), ("u", 10, "L10"), ("u", 2, "L2"), ("v", 7, "L7")],
        "k string, t long, lv string")
    right = spark.createDataFrame(
        [("u", 3, "R3"), ("u", 5, "R5"), ("u", 9, "R9"), ("w", 1, "W1")],
        "k string, t long, rv string")
    got = {(r.k, r.t): (r.right_rv, r.right_t)
           for r in asof_join(left, right, on="t", by=["k"]).collect()}
    # exact-ts match (5->R5), backward match (10->R9), earliest (2->none)
    assert got[("u", 5)] == ("R5", 5)
    assert got[("u", 10)] == ("R9", 9)
    assert got[("u", 2)] == (None, None)
    assert got[("v", 7)] == (None, None)

    fwd = {(r.k, r.t): (r.right_rv, r.right_t)
           for r in asof_join(left, right, on="t", by=["k"],
                              direction="forward").collect()}
    assert fwd[("u", 2)] == ("R3", 3)
    assert fwd[("u", 10)] == (None, None)

    tol = {(r.k, r.t): r.right_rv
           for r in asof_join(left, right, on="t", by=["k"],
                              tolerance=2).collect()}
    assert tol[("u", 10)] == "R9"  # gap 1 within tolerance
    assert tol[("u", 5)] == "R5"   # gap 0
    assert tol[("u", 2)] is None   # no prior right row at all


def test_asof_join_no_join_explosion(spark):
    """The plan is union + window — no nested-loop or cartesian join."""
    from orange3_spark.operators.window import asof_join

    left = spark.createDataFrame([("u", i) for i in range(50)], "k string, t long")
    right = spark.createDataFrame([("u", i) for i in range(0, 50, 5)],
                                  "k string, t long").withColumn(
        "rv", F.col("t") * 2)
    out = asof_join(left, right, on="t", by=["k"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan
    rows = {r.t: r.right_rv for r in out.collect()}
    assert rows[7] == 10 and rows[5] == 10 and rows[4] == 0


def test_range_join_hand_case_and_plan(spark):
    from orange3_spark.operators.window import range_join

    left = spark.createDataFrame(
        [("u", 100.0, "a"), ("u", 200.0, "b"), ("v", 100.0, "c")],
        "k string, t double, tag string")
    right = spark.createDataFrame(
        [("u", 95.0, 1.0), ("u", 100.0, 2.0), ("u", 149.0, 3.0),
         ("u", 151.0, 4.0), ("v", 90.0, 5.0), ("w", 100.0, 6.0)],
        "k string, t double, rv double")
    out = range_join(left, right, on="t", lower=-50, upper=0, by=["k"],
                     right_cols=["rv"])
    got = sorted((r.tag, r.right_rv) for r in out.collect())
    # u@100 matches [50,100]: 95,100 ; u@200 matches [150,200]: 151
    # v@100 matches [50,100]: 90
    assert got == [("a", 1.0), ("a", 2.0), ("b", 4.0), ("c", 5.0)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_weighted_aggregates_hand_case(spark):
    """Weighted mean/var against hand-computed values; NaN/NULL x rows
    contribute neither value nor weight."""
    from orange3_spark.operators.groupby import weighted_agg_expr as WA

    df = spark.createDataFrame(
        [("g", 1.0, 1.0), ("g", 3.0, 3.0), ("g", None, 100.0),
         ("g", float("nan"), 100.0)],
        "k string, x double, w double")
    r = df.groupBy("k").agg(
        WA("mean", "x", "w").alias("m"), WA("var", "x", "w").alias("v"),
        WA("count", "x", "w").alias("n")).first()
    # mean = (1*1 + 3*3)/4 = 2.5 ; var = (1+27)/4 - 2.5^2 = 0.75 ; n = 4
    assert abs(r.m - 2.5) < 1e-12
    assert abs(r.v - 0.75) < 1e-12
    assert r.n == 4.0


def test_salted_aggregate_matches_plain_groupby(spark):
    """Two-phase salted agg must reproduce the plain groupBy exactly —
    including a pathologically hot key (90% of rows)."""
    from orange3_spark.operators.groupby import salted_aggregate

    rows = [("hot" if i % 10 else "cold", i, float(i % 97)) for i in range(2000)]
    df = spark.createDataFrame(rows, "k string, id long, x double")
    got = {r["k"]: r for r in salted_aggregate(
        df, ["k"], {"x": ["count", "sum", "mean", "min", "max"]},
        n_salts=16, salt_on=["id"]).collect()}
    want = {r["k"]: r for r in df.groupBy("k").agg(
        F.count("x").alias("x_count"), F.sum("x").alias("x_sum"),
        F.avg("x").alias("x_mean"), F.min("x").alias("x_min"),
        F.max("x").alias("x_max")).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k]["x_count"] == want[k]["x_count"]
        assert abs(got[k]["x_sum"] - want[k]["x_sum"]) < 1e-6
        assert abs(got[k]["x_mean"] - want[k]["x_mean"]) < 1e-9
        assert got[k]["x_min"] == want[k]["x_min"]
        assert got[k]["x_max"] == want[k]["x_max"]


def test_salted_aggregate_rejects_holistic(spark):
    from orange3_spark.operators.groupby import salted_aggregate

    df = spark.createDataFrame([("a", 1.0)], "k string, x double")
    with pytest.raises(ValueError, match="decomposable"):
        salted_aggregate(df, ["k"], {"x": ["median"]})


def test_stratified_sample_rejects_continuous_strata(spark):
    import orange3_spark.operators.sample as SA

    old = SA.MAX_STRATA
    SA.MAX_STRATA = 5
    try:
        df = spark.range(100).select(
            (F.col("id").cast("double") / 7.0).alias("x"), "id")
        with pytest.raises(ValueError, match="distinct values"):
            SA.sample_fraction(df, 0.5, stratify_by="x")
    finally:
        SA.MAX_STRATA = old


def test_sessionize_gap_boundaries(spark):
    """Events within the gap share a session; a gap strictly greater
    than the threshold opens a new one; ids are 0-based per key."""
    import datetime as dt

    from orange3_spark.operators.window import sessionize

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [(1, at(0)), (1, at(29)), (1, at(59)),      # chained: one session
            (1, at(95)),                               # 36min gap: new
            (2, at(0)), (2, at(31))]                   # >30min: two sessions
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(r["user_id"], r["ts"].minute + 60 * (r["ts"].hour - 12)):
           r["session_id"]
           for r in sessionize(df, key="user_id", gap="30 minutes").collect()}
    assert got[(1, 0)] == 0 and got[(1, 29)] == 0 and got[(1, 59)] == 0
    assert got[(1, 95)] == 1
    assert got[(2, 0)] == 0 and got[(2, 31)] == 1


def test_funnel_requires_strict_order(spark):
    """A key only advances when the next step happens strictly after its
    previous-step frontier."""
    import datetime as dt

    from orange3_spark.operators.window import funnel_counts

    t0 = dt.datetime(2024, 1, 1)

    def at(m):
        return t0 + dt.timedelta(minutes=m)

    rows = [(1, at(0), "view"), (1, at(5), "click"), (1, at(9), "buy"),
            (2, at(0), "click"), (2, at(5), "view"),     # click BEFORE view
            (3, at(0), "view")]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, "
                                     "event_type string")
    got = {r["step_name"]: r["n_keys"]
           for r in funnel_counts(df, ["view", "click", "buy"]).collect()}
    assert got == {"view": 3, "click": 1, "buy": 1}


def test_cohort_retention_ages(spark):
    import datetime as dt

    from orange3_spark.operators.window import cohort_retention

    mon = dt.datetime(2024, 1, 1)   # a Monday: week buckets align

    def at(days):
        return mon + dt.timedelta(days=days)

    rows = [(1, at(0)), (1, at(8)),            # cohort w0, active w0+w1
            (2, at(1)),                        # cohort w0, only w0
            (3, at(7)), (3, at(21))]           # cohort w1, active w1+w3
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(r["cohort"].day, r["age"]): r["n_active"]
           for r in cohort_retention(df, granularity="week").collect()}
    assert got == {(1, 0): 2, (1, 1): 1, (8, 0): 1, (8, 2): 1}


def test_pagerank_fixed_point_deterministic_and_dangling(spark,
                                                         no_local_twins):
    from orange3_spark.operators.graph import pagerank_frame, pagerank_topk

    # star: hub -> a,b,c (a,b,c dangling); hub should outrank leaves'
    # teleport-only baseline after one round of back-flow via dangling
    edges = spark.createDataFrame(
        [("hub", "a"), ("hub", "b"), ("hub", "c"),
         ("a", "hub"), ("b", "hub")], "src string, dst string")
    # no_local_twins forces the distributed Pregel loop
    with no_local_twins():
        ranks1 = pagerank_frame(edges, iterations=3)
        ranks2 = pagerank_frame(edges.repartition(7), iterations=3)
    r = {x["node"]: x["rank"] for x in ranks1.collect()}
    assert set(r) == {"hub", "a", "b", "c"}
    assert r["hub"] > r["a"] == r["b"] > 0
    # incoming mass is symmetric for a/b/c (rank ignores own out-edges;
    # c's dangling retained mass is redistributed to everyone equally)
    assert r["c"] == r["a"]
    # exact integer determinism under repartition
    r2 = {x["node"]: x["rank"] for x in ranks2.collect()}
    assert r == r2
    # direct calls self-clean intermediates; the result cache is the
    # caller's to release via the documented handle
    for rk in (ranks1, ranks2):
        assert rk.pagerank_cache is not None
        rk.pagerank_cache.unpersist()
    # the bounded local twin (default path at this size) is the Pregel
    # loop's exact-integer equal — same ranks, bit for bit
    twin = pagerank_frame(edges, iterations=3)
    rl = {x["node"]: x["rank"] for x in twin.collect()}
    assert rl == r
    # the twin's result is an Arrow LocalRelation, not a Python RDD
    assert plan_leaves(twin) == {"LocalRelation"}
    top = pagerank_topk(edges, k=2, iterations=3).collect()
    assert [t["node"] for t in top] == ["hub", "a"]  # tie a<b broken by id


def test_venn_membership_and_counts(spark):
    from orange3_spark.operators.setops import (annotate_membership,
                                                venn_counts,
                                                venn_membership)

    A = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    B = spark.createDataFrame([(2,), (3,), (4,)], "k long")
    C = spark.createDataFrame([(3,), (5,)], "k long")
    m = {r["k"]: r["region"] for r in
         venn_membership({"A": A, "B": B, "C": C}, "k").collect()}
    assert m == {1: "A", 2: "A∩B", 3: "A∩B∩C", 4: "B", 5: "C"}
    c = {r["region"]: r["n_keys"] for r in
         venn_counts({"A": A, "B": B, "C": C}, "k").collect()}
    assert c == {"A": 1, "A∩B": 1, "A∩B∩C": 1, "B": 1, "C": 1}
    base = spark.createDataFrame([(1, "x"), (4, "y"), (9, "z")],
                                 "k long, v string")
    ann = {r["k"]: (r["A"], r["B"]) for r in
           annotate_membership(base, {"A": A, "B": B}, "k").collect()}
    assert ann == {1: (True, False), 4: (False, True), 9: (False, False)}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="1-5"):
        venn_membership({}, "k")


def test_cv_folds_stratified_balance(spark):
    from orange3_spark.operators import sample as SA2

    rows = ([(i, "a") for i in range(103)] + [(1000 + i, "b")
                                              for i in range(57)])
    df = spark.createDataFrame(rows, "id long, cls string")
    out = SA2.cv_folds_stratified(df, 5, strata_col="cls", key=["id"])
    per = {(r["cls"], r["fold"]): r["n"] for r in
           out.groupBy("cls", "fold").agg(F.count(F.lit(1)).alias("n"))
           .collect()}
    for cls, total in [("a", 103), ("b", 57)]:
        sizes = [per.get((cls, f), 0) for f in range(5)]
        assert sum(sizes) == total
        assert max(sizes) - min(sizes) <= 1   # sklearn's guarantee
    out2 = SA2.cv_folds_stratified(df.repartition(9), 5,
                                   strata_col="cls", key=["id"])
    m1 = {r["id"]: r["fold"] for r in out.collect()}
    m2 = {r["id"]: r["fold"] for r in out2.collect()}
    assert m1 == m2


def test_resample_ffill_hand_case(spark):
    import datetime as dt

    from orange3_spark.operators.window import resample_ffill

    T = dt.datetime
    rows = [("u", T(2024, 1, 1, 0, 10), 1.0),
            ("u", T(2024, 1, 1, 2, 30), 5.0),
            ("u", T(2024, 1, 1, 2, 30), 3.0),   # same-ts dup -> max
            ("v", T(2024, 1, 1, 5, 0), 9.0)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    out = {(r["k"], r["ts"].hour): r["filled_value"] for r in
           resample_ffill(df, ts_col="ts", by=["k"],
                          value_col="value").collect()}
    # u grid: 00,01,02 (lo=trunc(00:10), hi=02:30)
    assert out[("u", 0)] is None           # grid point before first obs
    assert out[("u", 1)] == 1.0            # carried forward
    assert out[("u", 2)] == 1.0            # 02:00 precedes the 02:30 obs
    assert out[("v", 5)] == 9.0            # exact-hour observation
    n = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    o2 = {(r["k"], r["ts"].hour): r["filled_value"] for r in
          resample_ffill(n.repartition(5), ts_col="ts", by=["k"],
                         value_col="value").collect()}
    assert o2 == out


def test_salted_join_equals_plain_join(spark):
    from orange3_spark.operators.merge import salted_join

    # skewed: key 1 holds 90% of left rows
    left = spark.createDataFrame(
        [(1, f"v{i}") for i in range(900)]
        + [(k, f"w{k}") for k in range(2, 102)], "k long, v string")
    right = spark.createDataFrame(
        [(k, k * 10) for k in range(0, 150)], "k long, r long")
    plain = left.join(right, "k").collect()
    salted = salted_join(left, right, ["k"], n_salts=8).collect()
    assert sorted(map(tuple, salted)) == sorted(map(tuple, plain))
    lp = left.join(right, "k", "left").collect()
    ls = salted_join(left, right, ["k"], n_salts=8, how="left").collect()
    assert sorted(map(tuple, ls), key=repr) == sorted(map(tuple, lp),
                                                      key=repr)


def test_ewma_literal_and_partition_invariance(spark):
    import datetime as dt

    from orange3_spark.operators.window import ewma, ewma_weights_q

    wq = ewma_weights_q(0.4, 8)
    assert wq[-1] > wq[0] and len(wq) == 8     # newest weight largest
    assert abs(sum(wq) - (1 << 20)) <= 8       # ~normalized (rounding)
    T = dt.datetime
    rows = [("u", T(2024, 1, 1, 0, 0, i), i, float(i)) for i in range(12)]
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, eid long, value double")
    out = {r["eid"]: r["ewma_q"] for r in
           ewma(df, value_col="value", ts_col="ts", by=["k"],
                order_tiebreak=["eid"]).collect()}
    # literal check for the first (warm-up, single-element) row:
    # frame = [x0=0] -> 0 * last weight = 0
    assert out[0] == 0
    # second row: frame [0,1] with the LAST two weights; ewma_q is in
    # 2^40 fixed-point (xq x wq)
    assert out[1] == 0 * wq[-2] + (1 << 20) * wq[-1]
    o2 = {r["eid"]: r["ewma_q"] for r in
          ewma(df.repartition(7), value_col="value", ts_col="ts",
               by=["k"], order_tiebreak=["eid"]).collect()}
    assert o2 == out


def test_zorder_interleave_matches_reference(spark):
    from orange3_spark.operators.window import zorder_key

    def ref(a, b, bits=16):
        z = 0
        for k in range(bits):
            z |= ((a >> k) & 1) << (2 * k)
            z |= ((b >> k) & 1) << (2 * k + 1)
        return z

    rows = [(a, b) for a in (0, 1, 5, 255, 1000) for b in (0, 3, 7, 512)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {(r["a"], r["b"]): r["z"] for r in
           df.select("a", "b", zorder_key("a", "b").alias("z")).collect()}
    assert got == {(a, b): ref(a, b) for a, b in rows}
    # locality: points close in BOTH dims land in the same z-block
    assert abs(ref(10, 10) - ref(11, 11)) < abs(ref(10, 10) - ref(10, 200))


def test_snapshot_diff_classification(spark):
    from orange3_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0)],
        "k long, s string, v double")
    new = spark.createDataFrame(
        [(2, "b", None), (3, "CHANGED", 3.0), (4, "d", 4.0)],
        "k long, s string, v double")
    got = {r["k"]: r["change"] for r in
           snapshot_diff(old, new, ["k"]).collect()}
    # NULL-safe: k=2's NULL v compares equal to NULL v
    assert got == {1: "removed", 2: "unchanged", 3: "changed",
                   4: "added"}
    sub = {r["k"]: r["change"] for r in
           snapshot_diff(old, new, ["k"], compare=["v"]).collect()}
    assert sub[3] == "unchanged"           # v alone didn't change


def test_pagerank_empty_graph_raises(spark):
    from orange3_spark.operators.graph import pagerank_frame

    empty = spark.createDataFrame([], "src string, dst string")
    import pytest as _pt
    with _pt.raises(ValueError, match="empty edge set"):
        pagerank_frame(empty)
