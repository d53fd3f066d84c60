"""Hierarchical clustering, MDS, LDA, CUR — driver-bounded analytics over
distributed distance/moment passes."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from orange3_spark.ml import hierarchical as H
from orange3_spark.ml import projection as P
from orange3_spark.stats.distance import row_distances


@pytest.fixture()
def two_blobs(spark):
    rng = np.random.default_rng(5)
    a = rng.normal(0, 0.3, (10, 2))
    b = rng.normal(8, 0.3, (10, 2))
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(np.vstack([a, b]))]
    return spark.createDataFrame(rows, "id long, x double, y double")


def test_hierarchical_two_blobs(two_blobs):
    out = H.hierarchical_clustering(two_blobs, "id", ["x", "y"], k=2)
    labels = {r.id: r.cluster for r in out.collect()}
    assert len(set(labels.values())) == 2
    assert len({labels[i] for i in range(10)}) == 1
    assert len({labels[i] for i in range(10, 20)}) == 1
    # deterministic renumbering: cluster containing smallest id is 0
    assert labels[0] == 0


@pytest.mark.parametrize("method", ["single", "complete", "average", "ward"])
def test_linkage_heights_monotone(two_blobs, method):
    pairs = row_distances(two_blobs, "id", ["x", "y"])
    ids, Z = H.linkage_from_pairs(pairs, method=method)
    heights = Z[:, 2]
    if method != "single":  # single linkage is monotone too, but keep strict
        assert all(heights[i] <= heights[i + 1] + 1e-9
                   for i in range(len(heights) - 1))
    assert Z[-1, 3] == 20  # last merge contains everything


def test_linkage_average_matches_bruteforce(spark):
    # 4 points on a line: 0, 1, 10, 12 — known agglomeration order
    df = spark.createDataFrame(
        [(0, 0.0), (1, 1.0), (2, 10.0), (3, 12.0)], "id long, x double")
    pairs = row_distances(df, "id", ["x"])
    ids, Z = H.linkage_from_pairs(pairs, method="average")
    # merges: (0,1)@1, (2,3)@2, then between-cluster average of {0,1}x{10,12}
    assert Z[0][2] == 1.0 and Z[1][2] == 2.0
    assert abs(Z[2][2] - np.mean([10, 12, 9, 11])) < 1e-9
    labels = H.cut(ids, Z, 2)
    assert labels == {0: 0, 1: 0, 2: 1, 3: 1}


def test_mds_recovers_line(spark):
    df = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 3.0, 0.0), (2, 7.0, 0.0)], "id long, x double, y double")
    out = {r.id: (r.mds1, r.mds2) for r in
           P.mds(df, "id", ["x", "y"], n_components=2).collect()}
    # pairwise distances preserved
    d01 = math.dist(out[0], out[1])
    d12 = math.dist(out[1], out[2])
    d02 = math.dist(out[0], out[2])
    assert abs(d01 - 3) < 1e-6 and abs(d12 - 4) < 1e-6 and abs(d02 - 7) < 1e-6


def test_lda_separates_classes(spark):
    rng = np.random.default_rng(11)
    rows = []
    for i in range(60):
        rows.append((i, float(rng.normal(0, 1)), float(rng.normal(0, 1)), "a"))
        # class b shifted along y only: the discriminant must be ~y-axis
        rows.append((1000 + i, float(rng.normal(0, 1)),
                     float(rng.normal(6, 1)), "b"))
    df = spark.createDataFrame(rows, "id long, x double, y double, cls string")
    comps, classes = P.lda_fit(df, ["x", "y"], "cls", n_components=1)
    assert classes == ["a", "b"]
    vx, vy = comps[0]
    assert abs(vy) > 10 * abs(vx)  # direction dominated by y
    proj = P.lda_transform(df, ["x", "y"], comps)
    means = {r.cls: r.m for r in
             proj.groupBy("cls").agg(F.avg("lda1").alias("m")).collect()}
    assert abs(means["a"] - means["b"]) > 3.0


def test_cur_leverage_prefers_high_variance(spark):
    rng = np.random.default_rng(2)
    rows = [(float(rng.normal(0, 10)), float(rng.normal(0, 1)),
             float(rng.normal(0, 0.1))) for _ in range(300)]
    df = spark.createDataFrame(rows, "a double, b double, c double")
    ranked = P.cur_column_leverage(df, ["a", "b", "c"], rank=1)
    assert ranked[0][0] == "a"


def test_label_propagation_two_blobs(two_blobs):
    from orange3_spark.ml.community import knn_graph, label_propagation
    edges = knn_graph(two_blobs, "id", ["x", "y"], k=3)
    out = label_propagation(edges)
    labels = {r.id: r.community for r in out.collect()}
    assert len(labels) == 20
    assert len({labels[i] for i in range(10)}) == 1
    assert len({labels[i] for i in range(10, 20)}) == 1
    assert labels[0] != labels[10]
    assert labels[0] == 0  # renumber-by-smallest-member determinism


def test_louvain_communities_two_blobs(two_blobs):
    """Louvain may split a sparse blob into sub-communities (modularity
    optimum ≠ connected components), but no community may span blobs."""
    from orange3_spark.ml.community import louvain_communities
    out = louvain_communities(two_blobs, "id", ["x", "y"], k=3)
    labels = {r.id: r.community for r in out.collect()}
    assert len(labels) == 20
    left = {labels[i] for i in range(10)}
    right = {labels[i] for i in range(10, 20)}
    assert not (left & right)


def test_knn_graph_symmetric(two_blobs):
    from orange3_spark.ml.community import knn_graph
    edges = knn_graph(two_blobs, "id", ["x", "y"], k=2)
    e = {(r.src, r.dst) for r in edges.collect()}
    assert all((b, a) in e for a, b in e)
    assert all(a != b for a, b in e)


_KARATE = [  # Zachary's karate club, 78 undirected edges (public dataset)
    (0,1),(0,2),(0,3),(0,4),(0,5),(0,6),(0,7),(0,8),(0,10),(0,11),(0,12),
    (0,13),(0,17),(0,19),(0,21),(0,31),(1,2),(1,3),(1,7),(1,13),(1,17),
    (1,19),(1,21),(1,30),(2,3),(2,7),(2,8),(2,9),(2,13),(2,27),(2,28),
    (2,32),(3,7),(3,12),(3,13),(4,6),(4,10),(5,6),(5,10),(5,16),(6,16),
    (8,30),(8,32),(8,33),(9,33),(13,33),(14,32),(14,33),(15,32),(15,33),
    (18,32),(18,33),(19,33),(20,32),(20,33),(22,32),(22,33),(23,25),
    (23,27),(23,29),(23,32),(23,33),(24,25),(24,27),(24,31),(25,31),
    (26,29),(26,33),(27,33),(28,31),(28,33),(29,32),(29,33),(30,32),
    (30,33),(31,32),(31,33),(32,33),
]


def _sym_edges(spark, pairs):
    rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(rows, "src int, dst int")


def test_louvain_two_cliques(spark):
    from orange3_spark.ml.community import louvain, modularity
    clique = [(i, j) for i in range(5) for j in range(5) if i < j]
    pairs = clique + [(i + 5, j + 5) for i, j in clique] + [(0, 5)]
    edges = _sym_edges(spark, pairs)
    out = louvain(edges)
    labels = {r.id: r.community for r in out.collect()}
    assert len({labels[i] for i in range(5)}) == 1
    assert len({labels[i] for i in range(5, 10)}) == 1
    assert labels[0] != labels[5]
    lab_df = out.withColumnRenamed("community", "community")
    q = modularity(edges, out)
    assert q > 0.4


def test_louvain_karate_modularity(spark):
    from orange3_spark.ml.community import louvain, modularity
    edges = _sym_edges(spark, _KARATE)
    out = louvain(edges)
    q = modularity(edges, out)
    # optimum is 0.4198; greedy Louvain reaches >= 0.40 on karate
    assert q >= 0.38, q
    n_comm = out.select("community").distinct().count()
    assert 2 <= n_comm <= 6
    # deterministic
    again = louvain(edges)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_louvain_distributed_path(spark, no_local_twins):
    from orange3_spark.ml.community import louvain
    clique = [(i, j) for i in range(5) for j in range(5) if i < j]
    pairs = clique + [(i + 5, j + 5) for i, j in clique] + [(0, 5)]
    edges = _sym_edges(spark, pairs)
    with no_local_twins():                     # force the distributed path
        out = louvain(edges)
    labels = {r.id: r.community for r in out.collect()}
    assert len({labels[i] for i in range(5)}) == 1
    assert len({labels[i] for i in range(5, 10)}) == 1
    assert labels[0] != labels[5]


def test_leaf_order_and_heatmap_seriation(spark):
    """Leaf order follows the dendrogram depth-first, left branch first
    (scipy leaves_list convention) — hand-checkable 1-D case where the
    seriation is a non-trivial permutation of the sorted ids."""
    df = spark.createDataFrame(
        [(10, 0.0), (20, 100.0), (30, 1.5), (40, 102.0)],
        "id long, x double")
    pairs = row_distances(df, "id", ["x"])
    ids, Z = H.linkage_from_pairs(pairs, method="single")
    assert ids == [10, 20, 30, 40]
    # merges: (10,30) h=1.5 -> c4; (20,40) h=2 -> c5; (c4,c5) h=98.5
    assert [list(r[:2]) for r in Z] == [[0, 2], [1, 3], [4, 5]]
    assert H.leaf_order(ids, Z) == [10, 30, 20, 40]
    out = H.heatmap_order(df, "id", ["x"], method="single")
    got = {r["id"]: r["leaf_pos"] for r in out.collect()}
    assert got == {10: 0, 30: 1, 20: 2, 40: 3}
    # singleton degenerate case
    assert H.leaf_order([7], []) == [7]


def test_optimal_leaf_order_matches_exhaustive_flips(spark):
    """Bar-Joseph OLO: cost(sum of adjacent-leaf distances) equals the
    exhaustive minimum over ALL subtree-flip combinations (2^(n-1))."""
    from itertools import product

    rng = np.random.default_rng(7)
    n = 7
    pts = rng.random((n, 2)) * 10
    D = np.sqrt(((pts[:, None, :] - pts[None, :, :]) ** 2).sum(-1))
    Dinf = D.copy()
    np.fill_diagonal(Dinf, np.inf)
    ids = list(range(n))
    Z = H.linkage_matrix(Dinf, method="average")

    def order_with_flips(flips):
        def walk(v):
            if v < n:
                return [v]
            l, r = int(Z[v - n][0]), int(Z[v - n][1])
            a, b = walk(l), walk(r)
            return b + a if flips[v - n] else a + b
        return walk(n + len(Z) - 1)

    def cost(o):
        return sum(D[o[i], o[i + 1]] for i in range(len(o) - 1))

    best = min(cost(order_with_flips(f))
               for f in product([0, 1], repeat=n - 1))
    got = H.optimal_leaf_order(ids, Z, D)
    assert sorted(got) == ids                 # a permutation of the leaves
    assert abs(cost(got) - best) < 1e-12      # and an OPTIMAL one
    # no worse than (usually better than) the plain dendrogram order
    assert cost(got) <= cost([ids.index(x) for x in H.leaf_order(ids, Z)])
    # deterministic
    assert got == H.optimal_leaf_order(ids, Z, D)


def test_heatmap_order_olo_end_to_end(spark):
    df = spark.createDataFrame(
        [(1, 0.0), (2, 9.0), (3, 1.0), (4, 10.0), (5, 0.5)],
        "id long, x double")
    out = {r["id"]: r["leaf_pos"]
           for r in H.heatmap_order(df, "id", ["x"], olo=True).collect()}
    assert sorted(out) == [1, 2, 3, 4, 5]
    # 1-D optimal adjacency order is monotone in x (or its reverse)
    by_pos = [k for k, _ in sorted(out.items(), key=lambda kv: kv[1])]
    xs = {1: 0.0, 2: 9.0, 3: 1.0, 4: 10.0, 5: 0.5}
    seq = [xs[k] for k in by_pos]
    assert seq == sorted(seq) or seq == sorted(seq, reverse=True)
