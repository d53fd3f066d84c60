"""``session.fetch_local`` and both halves of every bounded local twin.

Each twin test runs the public operator twice on one small input: once
as is (the frame is under the fetch cap, so the driver-local twin runs)
and once under ``no_local_twins`` (fetch budget 0, so the distributed
loop runs).  The two results must be identical."""

from __future__ import annotations

import contextlib
import math

import pytest
from pyspark.sql import functions as F

from orange3_spark import session


# ---------------------------------------------------------------- fetch_local

def test_fetch_local_width_cap_is_exact(spark, monkeypatch):
    monkeypatch.setattr(session, "LOCAL_CELLS", 10)
    two = lambda n: spark.range(n).select("id", (F.col("id") * 2).alias("x"))
    tbl = session.fetch_local(two(5), width=2)          # 5 rows = cap
    assert tbl.num_rows == 5
    assert sorted(tbl.column("x").to_pylist()) == [0, 2, 4, 6, 8]
    assert session.fetch_local(two(6), width=2) is None  # cap + 1


def test_fetch_local_no_width_row_and_cell_caps(spark, monkeypatch):
    monkeypatch.setattr(session, "LOCAL_ROWS", 3)
    monkeypatch.setattr(session, "LOCAL_CELLS", 10)
    vecs = lambda n, d: spark.range(n).select(
        "id", F.array(*[F.lit(1.5)] * d).alias("v"))
    # 2 rows × (1 id + 4 elements) = 10 cells: at the budget
    assert session.fetch_local(vecs(2, 4)).num_rows == 2
    # 3 rows × (1 + 4) = 15 cells: under the row cap, over the cells
    assert session.fetch_local(vecs(3, 4)) is None
    # 4 rows of width 1: over the row cap
    assert session.fetch_local(vecs(4, 1)) is None


def test_fetch_local_keeps_null_nan_and_int64(spark):
    big = 2**62 + 1
    df = spark.createDataFrame(
        [(1, 1.0, big), (2, float("nan"), None), (3, None, -big)],
        "k int, d double, n bigint")
    tbl = session.fetch_local(df.orderBy("k"))
    d = tbl.column("d").to_pylist()
    assert d[0] == 1.0 and math.isnan(d[1]) and d[2] is None
    assert tbl.column("n").to_pylist() == [big, None, -big]


def test_fetch_local_zero_rows(spark):
    tbl = session.fetch_local(spark.range(0).withColumn("x", F.lit(1.0)),
                              width=2)
    assert tbl.num_rows == 0
    assert tbl.column_names == ["id", "x"]


def test_no_local_twins_fetches_nothing_but_the_empty_frame(
        spark, no_local_twins):
    with no_local_twins():
        assert session.fetch_local(spark.range(1)) is None
        assert session.fetch_local(spark.range(1), width=3) is None
        assert session.fetch_local(spark.range(0)).num_rows == 0
    assert session.fetch_local(spark.range(1)).num_rows == 1


# ------------------------------------------------------ twin == distributed

@pytest.fixture(scope="module")
def vectors(spark):
    """60 8-dim vectors around three centres, spread over 5 partitions."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(3.0 * (i % 3), 1.0, size=8)])
            for i in range(60)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").repartition(5)


def test_lloyd_twin_matches_distributed(vectors, no_local_twins):
    from orange3_spark.ml.cluster import kmeans_lloyd_fit

    def fit():
        assigned, cents = kmeans_lloyd_fit(
            vectors, "vec_id", array_col="embedding", k=3, n_iter=3)
        labels = {r["vec_id"]: r["cluster"]
                  for r in assigned.select("vec_id", "cluster").collect()}
        assigned.lloyd_cache.unpersist()
        return cents, labels

    twin = fit()
    with no_local_twins():
        dist = fit()
    assert twin == dist
    assert len(set(twin[1].values())) == 3


def test_silhouette_twin_matches_distributed(vectors, no_local_twins):
    from orange3_spark.ml.cluster import kmeans_lloyd_fit, silhouette_exact

    assigned, _ = kmeans_lloyd_fit(vectors, "vec_id", array_col="embedding",
                                   k=3, n_iter=2)
    twin = silhouette_exact(assigned)
    with no_local_twins():
        dist = silhouette_exact(assigned)
    assigned.lloyd_cache.unpersist()
    assert twin == dist
    assert 0.0 < twin < 1.0


def test_pq_twin_matches_distributed(vectors, no_local_twins):
    from orange3_spark.similarity.pq import pq_fit

    def fit():
        encoded, cents = pq_fit(vectors, "vec_id", array_col="embedding",
                                m=2, k=4, n_iter=3)
        codes = {r["vec_id"]: list(r["codes"])
                 for r in encoded.select("vec_id", "codes").collect()}
        encoded.pq_cache.unpersist()
        return cents, codes

    twin = fit()
    with no_local_twins():
        dist = fit()
    assert twin == dist


def test_som_twin_matches_distributed(vectors, no_local_twins):
    from orange3_spark.ml.projection import som_fit

    twin = som_fit(vectors, array_col="embedding", dim_x=3, dim_y=2,
                   n_iterations=4)
    with no_local_twins():
        dist = som_fit(vectors, array_col="embedding", dim_x=3, dim_y=2,
                       n_iterations=4)
    assert twin == dist


@pytest.mark.parametrize("twins", [True, False])
def test_empty_input_raises_on_both_halves(spark, no_local_twins, twins):
    from orange3_spark.ml.projection import som_fit
    from orange3_spark.operators.graph import pagerank_frame
    from orange3_spark.similarity.pq import pq_fit

    edges = spark.createDataFrame([], "src string, dst string")
    vecs = spark.createDataFrame([], "vec_id long, a double, b double")
    arrs = vecs.select("vec_id", F.array("a", "b").alias("v"))
    with no_local_twins() if not twins else contextlib.nullcontext():
        with pytest.raises(ValueError, match="empty edge set"):
            pagerank_frame(edges)
        with pytest.raises(ValueError, match="no complete rows"):
            som_fit(vecs, ["a", "b"])
        with pytest.raises(ValueError, match="empty input frame"):
            pq_fit(arrs, "vec_id", array_col="v", m=1, k=2)


def test_logistic_irls_twin_matches_distributed(spark, no_local_twins):
    from orange3_spark.ml.learners import logistic_irls

    rows = [(float(i % 17) / 10.0, float((i * 7) % 23) / 10.0,
             1.0 if (i % 17) + (i * 7) % 23 > 18 else 0.0)
            for i in range(300)]
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double")
    twin = logistic_irls(df, ["x1", "x2"], "y", iters=5)
    with no_local_twins():
        dist = logistic_irls(df.repartition(4), ["x1", "x2"], "y", iters=5)
    assert twin == dist


def test_cn2_twin_matches_distributed(spark, no_local_twins):
    from orange3_spark.ml.rules import cn2_induce

    rows = ([("x", "p", "pos")] * 9 + [("x", "q", "neg")] * 7
            + [("y", "p", "neg")] * 8 + [("y", "q", "pos")] * 6
            + [("z", None, "pos")] * 3 + [(None, "p", "neg")] * 2)
    df = spark.createDataFrame(rows, "a string, b string, cls string")
    kw = dict(max_rules=3, beam_width=2, max_selectors=2)
    twin = cn2_induce(df, ["a", "b"], "cls", **kw)
    with no_local_twins():
        dist = cn2_induce(df, ["a", "b"], "cls", **kw)
    assert twin == dist
    assert len(twin) >= 2


def test_bpe_twin_matches_distributed(spark, no_local_twins):
    from orange3_spark.text.bpe import bpe_fit

    texts = ["low lower lowest low low", "new newer newest new newer",
             "aaa aa a aaa", "low new lowest"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])

    def fit():
        merges, words = bpe_fit(df, n_merges=6)
        segs = sorted(map(tuple, words.collect()))
        words.bpe_cache.unpersist()
        return merges, segs

    twin = fit()
    with no_local_twins():
        dist = fit()
    assert twin == dist
    assert len(twin[0]) == 6
