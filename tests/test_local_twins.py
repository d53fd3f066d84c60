"""``session.fetch_local`` and both halves of every bounded local twin.

Each twin test runs the public operator twice on one small input: once
as is (the frame is under the fetch cap, so the driver-local twin runs)
and once under ``no_local_twins`` (fetch budget 0, so the distributed
loop runs).  The two results must be identical."""

from __future__ import annotations

import contextlib
import datetime as dt
import importlib
import math
import pathlib
import re

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


def test_fetch_capped_is_exact_at_cap(spark):
    df = spark.range(0, 12, numPartitions=4)
    assert sorted(session.fetch_capped(df, 12).column("id").to_pylist()) \
        == list(range(12))
    assert session.fetch_capped(df, 11) is None
    assert session.fetch_capped(df.limit(0), 0).num_rows == 0


def test_arrow_values_equal_collected_values(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2020, 1, 2, 3, 4, 5, 6), dt.date(2020, 1, 2), "a"),
         (None, None, None)], "ts timestamp, d date, s string")
    tbl = session.fetch_capped(df, 2)
    want = df.collect()
    for i in range(3):
        got = session.arrow_values(tbl.column(i))
        assert got == [r[i] for r in want]
        assert [type(v) for v in got] == [type(r[i]) for r in want]


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


def test_dup_clusters_twin_matches_distributed(spark, no_local_twins):
    from orange3_spark.text.dedup import dup_clusters

    # a 12-edge chain, a triangle, a star and a lone pair, unsorted
    edges = ([(i + 1, i) for i in range(0, 24, 2)]
             + [(i, i + 1) for i in range(1, 24, 2)]
             + [(50, 51), (51, 52), (52, 50)]
             + [(70, 70 + k) for k in range(1, 6)] + [(91, 90)])
    pairs = spark.createDataFrame(edges, "id_a long, id_b long") \
        .repartition(3)
    twin = sorted(map(tuple, dup_clusters(pairs).collect()))
    with no_local_twins():
        dist = sorted(map(tuple, dup_clusters(pairs).collect()))
    assert twin == dist
    assert {c for _, c in twin} == {0, 50, 70, 90}


def test_label_propagation_twin_matches_distributed(spark, no_local_twins):
    import numpy as np

    from orange3_spark.ml.community import label_propagation

    # a sparse random graph (ties between neighbor labels are common, so
    # the smallest-label tie break shapes the partition) plus a lone
    # edge whose two labels swap every round (the 2-cycle stop rule)
    rng = np.random.default_rng(11)
    und = {(int(a), int(b)) for a, b in rng.integers(0, 40, size=(60, 2))
           if a != b} | {(50, 51)}
    edges = spark.createDataFrame(
        [*und, *((b, a) for a, b in und)], "src long, dst long") \
        .repartition(3)
    twin = sorted(map(tuple, label_propagation(edges).collect()))
    with no_local_twins():
        dist = sorted(map(tuple, label_propagation(edges).collect()))
    assert twin == dist
    assert len({c for _, c in twin}) >= 3


def test_louvain_twin_matches_distributed(spark, no_local_twins):
    from orange3_spark.ml.community import louvain

    clique = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    und = (clique + [(i + 5, j + 5) for i, j in clique]
           + [(i + 20, j + 20) for i, j in clique if j < 4] + [(0, 5)])
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long").repartition(3)
    twin = sorted(map(tuple, louvain(edges).collect()))
    with no_local_twins():
        dist = sorted(map(tuple, louvain(edges).collect()))
    assert twin == dist
    assert {c for _, c in twin} == {0, 5, 20}


def test_dbscan_twin_matches_distributed(spark, no_local_twins):
    from orange3_spark.ml.cluster import dbscan

    # two 3×3 grids (spacing 0.5, eps 0.6: 4-neighbourhoods, so corners
    # are border points and the rest core at min_pts 4), a border point
    # between them that takes the smaller cluster id, and a noise point
    grid = [(x * 0.5, y * 0.5) for x in (-1, 0, 1) for y in (-1, 0, 1)]
    rows = ([(10 + i, x, y) for i, (x, y) in enumerate(grid)]
            + [(i, x + 2.0, y) for i, (x, y) in enumerate(grid)]
            + [(30, 1.0, 0.0), (31, 9.0, 9.0)])
    df = spark.createDataFrame(rows, "id long, x double, y double") \
        .repartition(3)
    twin = sorted(map(tuple, dbscan(df, "id", ["x", "y"], eps=0.6,
                                    min_pts=4).collect()))
    with no_local_twins():
        dist = sorted(map(tuple, dbscan(df, "id", ["x", "y"], eps=0.6,
                                        min_pts=4).collect()))
    assert twin == dist
    got = dict(twin)
    assert got[30] == got[1] == 1 and got[11] == 11 and got[31] == -1
    assert got[10] == 11 and got[0] == 1       # corners: border points


# ------------------------------------------------- loud size guards

def _pairs(spark, n):
    """The full ``(id_a, id_b, dist)`` pair frame of ``n`` points."""
    return spark.createDataFrame(
        [(i, j, float(j - i)) for i in range(n) for j in range(i + 1, n)],
        "id_a long, id_b long, dist double")


def _rows(spark, n):
    """``n`` rows with an id, two features, a class and an array."""
    return spark.createDataFrame(
        [(i, float(i), float(i * i % 5), i % 2, [float(i), 1.0])
         for i in range(n)],
        "id long, x double, y double, c int, v array<double>")


class _Echo:
    def predict(self, df):
        return df


def _mix(fn, spark, n):
    docs = spark.createDataFrame(
        [(i, f"s{i % n}") for i in range(2 * n)], "doc_id long, source string")
    return (fn(docs, {f"s{i}": 1.0 for i in range(n)})
            if fn.__name__ == "mix_sources" else fn(docs, 0.5))


def _cube(spark, n):
    from orange3_spark.ml.rules import contingency_cube

    df = spark.createDataFrame([(f"a{i}", "k") for i in range(n)],
                               "a string, cls string")
    return contingency_cube(df, ["a"], "cls")


# (module, constant, call(spark, n, tmp_path), message): the constant is
# patched to 3 (a point count for the three pair-matrix sites, a row
# count everywhere else); n = 3 must pass, n = 4 must raise.
_GUARDS = {
    "linkage_from_pairs": (
        "orange3_spark.ml.hierarchical", "MAX_POINTS",
        lambda s, n, p: importlib.import_module(
            "orange3_spark.ml.hierarchical").linkage_from_pairs(_pairs(s, n)),
        "MAX_POINTS"),
    "heatmap_order_olo": (
        "orange3_spark.ml.hierarchical", "OLO_MAX_POINTS",
        lambda s, n, p: importlib.import_module(
            "orange3_spark.ml.hierarchical").heatmap_order(
                _rows(s, n), "id", ["x", "y"], olo=True),
        "OLO_MAX_POINTS"),
    "mds": (
        "orange3_spark.ml.projection", "MAX_MDS_POINTS",
        lambda s, n, p: importlib.import_module(
            "orange3_spark.ml.projection").mds(_rows(s, n), "id", ["x", "y"]),
        "MAX_MDS_POINTS"),
    "freeviz_fit": (
        "orange3_spark.ml.projection", "MAX_FREEVIZ_POINTS",
        lambda s, n, p: importlib.import_module(
            "orange3_spark.ml.projection").freeviz_fit(
                _rows(s, n), ["x", "y"], "c", maxiter=2),
        "freeviz_fit is O"),
    "tsne": (
        "orange3_spark.ml.projection", "MAX_TSNE_POINTS",
        lambda s, n, p: importlib.import_module(
            "orange3_spark.ml.projection").tsne(
                _rows(s, n), "id", ["x", "y"], perplexity=1.0, n_iter=4),
        "tsne is O"),
    "isomap": (
        "orange3_spark.ml.projection", "MAX_TSNE_POINTS",
        lambda s, n, p: importlib.import_module(
            "orange3_spark.ml.projection").isomap(
                _rows(s, n), "id", array_col="v", n_neighbors=2,
                n_components=1),
        "isomap is O"),
    "leave_one_out": (
        "orange3_spark.ml.evaluation", "LOO_MAX_ROWS",
        lambda s, n, p: importlib.import_module(
            "orange3_spark.ml.evaluation").leave_one_out(
                _rows(s, n), "id", lambda d: _Echo(), lambda d: 0.0),
        "leave_one_out is O"),
    "write_dst": (
        "orange3_spark.sources.dst", "DST_MAX_PAIRS",
        lambda s, n, p: importlib.import_module(
            "orange3_spark.sources.dst").write_dst(
                _pairs(s, 4).limit(n), str(p / "m.dst")),
        ".dst writer"),
    "write_dst_xlsx": (
        "orange3_spark.sources.dst", "DST_MAX_PAIRS",
        lambda s, n, p: importlib.import_module(
            "orange3_spark.sources.dst").write_dst_xlsx(
                _pairs(s, 4).limit(n), str(p / "m.xlsx")),
        ".dst xlsx writer"),
    "sample_fraction": (
        "orange3_spark.operators.sample", "MAX_STRATA",
        lambda s, n, p: importlib.import_module(
            "orange3_spark.operators.sample").sample_fraction(
                _rows(s, n), 0.5, stratify_by="id"),
        "stratify_by='id' has more than 3"),
    "mix_sources": (
        "orange3_spark.text.pipeline", "MAX_SOURCES",
        lambda s, n, p: _mix(importlib.import_module(
            "orange3_spark.text.pipeline").mix_sources, s, n),
        "mix_sources: more than 3"),
    "mix_temperature": (
        "orange3_spark.text.pipeline", "MAX_SOURCES",
        lambda s, n, p: _mix(importlib.import_module(
            "orange3_spark.text.pipeline").mix_temperature, s, n),
        "mix_temperature: more than 3"),
    "contingency_cube": (
        "orange3_spark.ml.rules", "CN2_CUBE_MAX_CELLS",
        lambda s, n, p: _cube(s, n), "cube exceeds 3 cells"),
}


@pytest.mark.parametrize("site", list(_GUARDS))
def test_size_guard_passes_at_cap_and_raises_past_it(
        spark, monkeypatch, tmp_path, site):
    """Each capped driver fetch outside the twins: a loud ``ValueError``
    one row (or point) past its module constant, read at call time."""
    module, const, call, message = _GUARDS[site]
    monkeypatch.setattr(importlib.import_module(module), const, 3)
    call(spark, 3, tmp_path)
    with pytest.raises(ValueError, match=re.escape(message)):
        call(spark, 4, tmp_path)


_CAPPED_FETCH = re.compile(
    r"\.limit\((?:[^()]|\([^()]*\))*\+\s*1\s*\)\s*"
    r"\.(?:collect|toArrow|toPandas)\(")


def test_no_hand_rolled_capped_fetch_outside_session():
    """A capped driver fetch is ``session.fetch_capped`` (or
    ``fetch_local``): one ``limit(cap + 1).toArrow()`` job.  A
    hand-rolled ``.limit(cap + 1).collect()`` scans the partitions in
    sequential rounds and repeats the cap test at every site.  Pure size
    probes (``.limit(cap + 1).count()``) stay allowed."""
    root = pathlib.Path(__file__).resolve().parent.parent / "orange3_spark"
    found = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "session.py":
            continue
        src = path.read_text()
        found += [f"{path.relative_to(root)}:"
                  f"{src.count(chr(10), 0, m.start()) + 1}"
                  for m in _CAPPED_FETCH.finditer(src)]
    assert found == []


@pytest.mark.parametrize("fill", [math.inf, 0.0])
def test_pair_matrix_equals_the_row_loop(fill):
    """``pair_matrix`` against the per-row Python loop it stands for,
    on string and int ids; MDS's squared matrix (C ``pow`` per pair)
    against Python's ``d ** 2``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from orange3_spark.stats.distance import pair_matrix

    rng = np.random.default_rng(7)
    for ids in ([f"p{i}" for i in rng.permutation(12)],
                [int(i) for i in rng.permutation(30) * 7]):
        rows = [(a, b, float(rng.random() * 50))
                for k, a in enumerate(ids) for b in ids[k + 1:]
                if rng.random() < 0.7]
        tbl = pa.table({"id_a": [r[0] for r in rows],
                        "id_b": [r[1] for r in rows],
                        "dist": [r[2] for r in rows]})
        want_ids = sorted({r[0] for r in rows} | {r[1] for r in rows})
        pos = {v: i for i, v in enumerate(want_ids)}
        want = np.full((len(pos), len(pos)), fill)
        want2 = np.full((len(pos), len(pos)), fill)
        for a, b, d in rows:
            want[pos[a], pos[b]] = want[pos[b], pos[a]] = d
            want2[pos[a], pos[b]] = want2[pos[b], pos[a]] = d ** 2
        got_ids, got = pair_matrix(tbl, fill)
        assert got_ids == want_ids
        assert np.array_equal(got, want)
        sq = tbl.set_column(2, "dist", pc.power(tbl.column(2), 2))
        assert np.array_equal(pair_matrix(sq, fill)[1], want2)
