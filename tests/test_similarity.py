"""IVF / ANN similarity-search tests."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_ivf_knn_recall_and_exactness(spark):
    """IVF with nprobe=n_cells is exact (equals brute force); with fewer
    probes it returns a subset ranked identically and decent recall on
    clustered data."""
    import numpy as np
    from orange3_spark.similarity.knn import ivf_knn, knn_join_brute_force

    rng = np.random.default_rng(13)
    centers = rng.normal(0, 10, (4, 8))
    rows = []
    for i in range(200):
        v = centers[i % 4] + rng.normal(0, 1, 8)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.where(F.col("vec_id") < 5)

    exact = ivf_knn(df, qs, k=3, n_cells=4, nprobe=4, n_iter=2)
    got = {(r.qid, r.rank): r.id_b for r in exact.collect()}
    # brute force euclidean reference on the driver
    X = np.array([r[1] for r in rows])
    for qid in range(5):
        d = np.sqrt(((X - X[qid]) ** 2).sum(1))
        d[qid] = np.inf
        order = np.lexsort((np.arange(len(d)), d))[:3]
        for rank, nb in enumerate(order, 1):
            assert got[(qid, rank)] == nb, (qid, rank)

    approx = ivf_knn(df, qs, k=3, n_cells=4, nprobe=1, n_iter=2)
    hits = {(r.qid, r.id_b) for r in approx.collect()}
    truth = {(q, n) for (q, _rk), n in got.items()}
    recall = len(hits & truth) / len(truth)
    assert recall >= 0.8  # tight blobs: nearest cell holds the neighbors


def test_hard_negatives_excludes_same_label(spark):
    """Negatives must come from a different label, ranked by cosine, and
    the assignment must be partitioning-stable."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=8)], int(i % 3))
            for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, "
                                     "label int")
    from orange3_spark.similarity.knn import hard_negatives

    got = hard_negatives(df, k=4).collect()
    lab = {i: i % 3 for i in range(60)}
    per = {}
    for r in got:
        assert lab[r["vec_id"]] != lab[r["neg_id"]]
        per.setdefault(r["vec_id"], []).append(r["score"])
    assert all(len(v) == 4 and v == sorted(v, reverse=True)
               for v in per.values())
    got2 = hard_negatives(df.repartition(7), k=4).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, got2))


def test_hard_negatives_blocked_fallback(spark):
    """Past the broadcast bound, hard_negatives runs the IVF-blocked
    composition instead of raising; the blocked path keeps the label
    exclusion / ranking contract and stays partitioning-stable."""
    import numpy as np

    from orange3_spark.similarity.knn import (hard_negatives,
                                              hard_negatives_blocked)

    rng = np.random.default_rng(11)
    # 3 tight blobs, labels orthogonal to blobs so every cell holds
    # several different-label candidates
    rows = [(i, [float(x + 4.0 * (i % 3)) for x in rng.normal(
        scale=0.05, size=8)], int(i % 2)) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, "
                                     "label int")
    out = hard_negatives(df, k=3, max_broadcast_cells=10)  # force fallback
    got = out.collect()
    out.ivf_cache.unpersist()
    lab = {i: i % 2 for i in range(60)}
    per = {}
    for r in got:
        assert lab[r["vec_id"]] != lab[r["neg_id"]]
        assert r["vec_id"] != r["neg_id"]
        per.setdefault(r["vec_id"], []).append(r["score"])
    assert set(per) == set(range(60))
    assert all(len(v) == 3 and v == sorted(v, reverse=True)
               for v in per.values())
    # partitioning-stable (integer-grid arithmetic end to end)
    out2 = hard_negatives_blocked(df.repartition(7), k=3)
    got2 = out2.collect()
    out2.ivf_cache.unpersist()
    assert sorted(map(tuple, got)) == sorted(map(tuple, got2))


def test_pq_codes_are_argmin_and_partition_stable(spark):
    """Every emitted code is the argmin sub-centroid (numpy replay), and
    the whole encoding is invariant to repartitioning."""
    import math

    import numpy as np

    from orange3_spark.similarity.pq import pq_fit

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    encoded, cents = pq_fit(df, "vec_id", array_col="embedding",
                            m=2, k=4, n_iter=2)
    got = {r["vec_id"]: list(r["codes"])
           for r in encoded.select("vec_id", "codes").collect()}
    encoded.pq_cache.unpersist()
    C = [np.asarray(c, dtype=np.int64) for c in cents]
    for i, v in rows:
        q = np.array([math.floor(x * 1e6 + 0.5) for x in v], dtype=np.int64)
        for j in range(2):
            d = ((q[j * 4:(j + 1) * 4][None, :] - C[j]) ** 2).sum(axis=1)
            assert got[i][j] == int(np.argmin(d))
    enc2, cents2 = pq_fit(df.repartition(7), "vec_id",
                          array_col="embedding", m=2, k=4, n_iter=2)
    got2 = {r["vec_id"]: list(r["codes"])
            for r in enc2.select("vec_id", "codes").collect()}
    enc2.pq_cache.unpersist()
    assert cents == cents2 and got == got2


def test_pq_adc_matches_table_lookup(spark):
    """ADC distances equal the explicit m×k table lookup over the codes,
    and the top-k is ordered by (adist, id)."""
    import numpy as np

    from orange3_spark.similarity.pq import adc_table, pq_adc_topk, pq_fit

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    encoded, cents = pq_fit(df, "vec_id", array_col="embedding",
                            m=2, k=4, n_iter=2)
    codes = {r["vec_id"]: list(r["codes"])
             for r in encoded.select("vec_id", "codes").collect()}
    qv = rows[5][1]
    top = pq_adc_topk(encoded, cents, qv, id_col="vec_id", n=40).collect()
    encoded.pq_cache.unpersist()
    dtab = adc_table(cents, qv)
    for r in top:
        want = sum(dtab[j][codes[r["vec_id"]][j]] for j in range(2))
        assert r["adist"] == want
    ks = [(r["adist"], r["vec_id"]) for r in top]
    assert ks == sorted(ks)


def test_ivfpq_recall_and_partition_stability(spark):
    """IVF-PQ top-k on clustered data finds most true neighbors (ADC on
    4-dim sub-codebooks is lossy but cell-local), and the result is
    invariant to input partitioning."""
    import numpy as np

    from orange3_spark.similarity.pq import ivfpq_topk

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 8)) * 5.0
    rows = [(i, [float(x) for x in centers[i % 4]
                 + rng.normal(size=8) * 0.2]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qv = rows[0][1]
    got = ivfpq_topk(df, qv, id_col="vec_id", array_col="embedding",
                     n_cells=8, nprobe=3, m=2, k=8, topn=10).collect()
    ids = [r["vec_id"] for r in got]
    X = np.array([v for _, v in rows])
    true = np.argsort(((X - np.array(qv)) ** 2).sum(axis=1),
                      kind="stable")[:10]
    recall = len(set(ids) & set(int(i) for i in true)) / 10.0
    assert recall >= 0.6, recall
    got2 = ivfpq_topk(df.repartition(9), qv, id_col="vec_id",
                      array_col="embedding", n_cells=8, nprobe=3,
                      m=2, k=8, topn=10).collect()
    assert [(r["vec_id"], r["adist"]) for r in got] == \
           [(r["vec_id"], r["adist"]) for r in got2]


def test_random_projection_preserves_distances(spark):
    import numpy as np

    from orange3_spark.similarity.quantize import (RP_SCALE,
                                                   random_projection,
                                                   rp_matrix)

    rng = np.random.RandomState(7)
    X = rng.standard_normal((40, 64))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(40)],
        "vec_id long, embedding array<double>")
    out = random_projection(df, out_dim=16, seed=42, in_dim=64).collect()
    Y = np.zeros((40, 16))
    for r in out:
        Y[r["vec_id"], r["j"]] = r["yq"] / float(RP_SCALE) ** 2
    # JL property: pairwise distance ratios concentrate around 1
    d_x = np.linalg.norm(X[:20] - X[20:], axis=1)
    d_y = np.linalg.norm(Y[:20] - Y[20:], axis=1)
    ratios = d_y / d_x
    assert 0.5 < ratios.min() and ratios.max() < 1.6
    # exact integer arithmetic: partition-invariant
    out2 = random_projection(df.repartition(9), out_dim=16, seed=42,
                             in_dim=64).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    assert len(rp_matrix(4, 2)) == 8


def test_degenerate_cell_cap_is_loud_and_bounded(spark):
    """r9 skew valve: a degenerate cell (near-identical embeddings —
    the SCALE_ANN_r09 measured hazard) is capped by a deterministic
    hash draw with a loud warning; queries are never dropped, the
    default (no cap) semantics are unchanged."""
    import warnings

    import pyspark.sql.functions as F

    from orange3_spark.similarity.knn import (hard_negatives_blocked,
                                              semantic_dedup)

    # 40 near-identical vectors + 8 spread ones, two labels
    rows = [(i, [1.0 + i * 1e-4, 2.0, 3.0, 4.0], i % 2)
            for i in range(40)]
    rows += [(100 + i, [float(10 * i), -5.0, float(i), 0.5], i % 2)
             for i in range(8)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = hard_negatives_blocked(df, k=2, n_cells=4, nprobe=2,
                                     n_iter=2, max_cell_rows=10)
        got = out.collect()
        out.ivf_cache.unpersist()
    assert any("max_cell_rows" in str(x.message) for x in w)
    # every query still gets negatives (queries never dropped), and
    # negatives come from the capped candidate pool
    qids = {r["vec_id"] for r in got}
    assert len(qids) == 48
    assert all(r["neg_id"] != r["vec_id"] for r in got)

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        pairs = semantic_dedup(df, k=4, n_iter=2, threshold=0.99,
                               max_cluster_rows=10)
        n_capped = pairs.count()
        pairs.lloyd_cache.unpersist()
    assert any("max_cluster_rows" in str(x.message) for x in w)
    # capped cluster: ≤ C(10,2) pairs from the 40-dup cluster
    assert n_capped <= 45 + 28
    # no cap → full pair set, no warning
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        full = semantic_dedup(df, k=4, n_iter=2, threshold=0.99)
        n_full = full.count()
        full.lloyd_cache.unpersist()
    assert not any("max_cluster_rows" in str(x.message) for x in w)
    assert n_full >= n_capped


def test_probe_cells_paths_agree_and_append_matches_fit(spark):
    """r9: probe_cells' two physical paths (JVM crossJoin at small
    centroid tables, Arrow exact-BLAS at scale) must pick identical
    cells; and ivf_append must assign a new vector exactly where the
    fit-time rule would."""
    import pyspark.sql.functions as F

    from orange3_spark.ml.cluster import quantize_array
    from orange3_spark.similarity.knn import (ivf_append, ivf_fit,
                                              probe_cells)

    rows = [(i, [float((i * 37) % 11), float((i * 53) % 7),
                 float(i % 5), 1.0]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = df.where(F.col("vec_id") % 4 != 0)
    new = df.where(F.col("vec_id") % 4 == 0)
    assigned, cents = ivf_fit(base, n_cells=6, n_iter=2)

    q = new.select("vec_id", quantize_array(F.col("embedding")).alias("qv"))
    a = probe_cells(q, cents, 2, id_col="vec_id",
                    jvm_max_cells_dim=10 ** 9)     # force JVM path
    b = probe_cells(q, cents, 2, id_col="vec_id",
                    jvm_max_cells_dim=0)           # force Arrow path
    pa = sorted((r["vec_id"], r["cluster"]) for r in a.collect())
    pb = sorted((r["vec_id"], r["cluster"]) for r in b.collect())
    assert pa == pb and len(pa) == new.count() * 2

    # append: nearest single cell == the nprobe=1 probe of either path
    combined = ivf_append(assigned, cents, new)
    got = {r["vec_id"]: r["cluster"]
           for r in combined.join(new.select("vec_id"), "vec_id").collect()}
    one = probe_cells(q, cents, 1, id_col="vec_id")
    want = {r["vec_id"]: r["cluster"] for r in one.collect()}
    assert got == want
    assert combined.count() == 60
    assigned.unpersist()


def test_exact_sq_dists_guard_boundary():
    """r9 advisor: the float64 fast path must stay bit-exact for ALL
    intermediates — the final squared distance reaches 4·d·maxq², so
    the guard is 4·d·maxq² < 2⁵³.  At magnitudes where d·maxq² passes
    the OLD loose guard but 4·d·maxq² does not, the BLAS result can
    round; the int64 path must be taken and match exact arithmetic."""
    import numpy as np

    from orange3_spark.ml.cluster import exact_sq_dists

    # small magnitudes: fast path, equals int64 arithmetic exactly
    rng = np.random.RandomState(7)
    X = rng.randint(-1000, 1000, size=(40, 16)).astype(np.int64)
    C = rng.randint(-1000, 1000, size=(5, 16)).astype(np.int64)
    d_fast = exact_sq_dists(X, C)
    d_ref = ((X[:, None, :] - C[None, :, :]) ** 2).sum(2)
    assert np.array_equal(np.asarray(d_fast, dtype=np.int64), d_ref)

    # boundary magnitudes: d·maxq² ≈ 2^52 (old guard passes, new one
    # must NOT) — antipodal vectors make |x−c|² = 4·d·maxq² which
    # overflows exact float64 representation
    d = 4
    maxq = int(np.floor(np.sqrt(2.0 ** 52 / d)))   # d·maxq² just under 2^53
    assert d * maxq * maxq < 2 ** 53 <= 4 * d * maxq * maxq
    Xb = np.full((3, d), maxq, dtype=np.int64)
    Xb[1, 0] -= 1                                   # break ties
    Cb = np.stack([np.full(d, -maxq, dtype=np.int64),
                   np.full(d, maxq - 3, dtype=np.int64)])
    d_exact = ((Xb[:, None, :] - Cb[None, :, :]) ** 2).sum(2)
    got = exact_sq_dists(Xb, Cb)
    assert got.dtype == np.int64                    # int64 fallback taken
    assert np.array_equal(got, d_exact)


def test_hard_negatives_auto_valve(spark):
    """r10 candidate-volume valve: max_cell_rows='auto' must (a) leave
    a uniform index untouched — results identical to the valve-off run,
    no warning — and (b) engage on a degenerate cell past the skew
    threshold, loudly."""
    import warnings

    from orange3_spark.similarity.knn import hard_negatives_blocked

    # (a) near-uniform cells (4 balanced well-separated clusters, the
    # graded-fixture shape): auto == off, bit for bit
    centers = [(0.0, 0.0), (80.0, 0.0), (0.0, 80.0), (80.0, 80.0)]
    rows = [(i, [centers[i % 4][0] + (i % 5), centers[i % 4][1] + (i % 7),
                 float(i % 3), 1.0], i % 3)
            for i in range(48)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        auto = hard_negatives_blocked(df, k=2, n_cells=4, nprobe=2,
                                      n_iter=2)
        got_auto = sorted(map(tuple, auto.collect()))
        auto.ivf_cache.unpersist()
    assert not any("max_cell_rows" in str(x.message) for x in w)
    off = hard_negatives_blocked(df, k=2, n_cells=4, nprobe=2,
                                 n_iter=2, max_cell_rows=None)
    got_off = sorted(map(tuple, off.collect()))
    off.ivf_cache.unpersist()
    assert got_auto == got_off

    # (b) one degenerate blob (many near-identical vectors) + a few
    # scattered points: the blob cell exceeds 8x the mean and the
    # valve engages with the loud warning
    blob = [(i, [100.0, 100.0, 0.0, 0.0], i % 2)
            for i in range(400)]
    spread = [(1000 + i, [float(i * 31 % 97), float(i * 17 % 89),
                          50.0, 1.0], i % 2) for i in range(10)]
    skew = spark.createDataFrame(
        blob + spread, "vec_id long, embedding array<double>, label int")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        capped = hard_negatives_blocked(skew, k=2, n_cells=4, nprobe=2,
                                        n_iter=2)
        got = capped.collect()
        capped.ivf_cache.unpersist()
    assert any("max_cell_rows" in str(x.message) for x in w)
    # queries are never dropped: every vector still gets negatives
    assert len({r["vec_id"] for r in got}) == 410


def test_probe_cells_on_fresh_centroids_runs_no_job(spark):
    """ivf_fit's centroid table is an Arrow LocalRelation, so the
    collect probe_cells makes of it starts no Spark job."""
    from orange3_spark.ml.cluster import quantize_array
    from orange3_spark.similarity.knn import ivf_fit, probe_cells
    from tests.conftest import plan_leaves

    rows = [(i, [float((i * 37) % 11), float((i * 53) % 7), 1.0])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = ivf_fit(df, n_cells=4, n_iter=2)
    assert plan_leaves(cents) == {"LocalRelation"}
    q = df.select("vec_id", quantize_array(F.col("embedding")).alias("qv"))
    sc = spark.sparkContext
    group = "probe-cells-no-job"
    sc.setJobGroup(group, group)
    try:
        for max_cells in (10 ** 9, 0):       # JVM path, Arrow path
            probe_cells(q, cents, 2, id_col="vec_id",
                        jvm_max_cells_dim=max_cells)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assigned.unpersist()


def test_lsh_buckets_udf_matches_jvm_signature_with_nan(spark):
    """The pandas-UDF bucket twin sets a plane's bit exactly where the
    JVM ``F.when(dot >= 0, 1 << i)`` does — also for NaN projections,
    which Spark orders above every number (``NaN >= 0`` is true)."""
    from orange3_spark.similarity.knn import (_lsh_buckets_udf, hyperplanes,
                                              lsh_signature)

    nan = float("nan")
    dim, n_planes = 4, 6
    planes = [hyperplanes(dim, n_planes, 42 + 7919 * t) for t in range(2)]
    rows = [(0, [1.0, -2.0, 0.5, 3.0]), (1, [nan, 1.0, 1.0, 1.0]),
            (2, [nan] * dim), (3, [0.0] * dim), (4, [-1.0, nan, -1.0, 2.0]),
            (5, [-3.0, 1.0, -2.0, -1.0])]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    jvm = F.array(*[F.concat_ws(":", F.lit(str(t)),
                                lsh_signature("v", p).cast("string"))
                    for t, p in enumerate(planes)])
    got = {r["id"]: (list(r["u"]), list(r["j"])) for r in df.select(
        "id", _lsh_buckets_udf(planes, dim)(F.col("v")).alias("u"),
        jvm.alias("j")).collect()}
    for i, (udf_sig, jvm_sig) in got.items():
        assert udf_sig == jvm_sig, (i, udf_sig, jvm_sig)
    all_bits = (1 << n_planes) - 1
    assert got[2][0] == [f"{t}:{all_bits}" for t in range(2)]


def test_seq_norm_dot_udfs_match_jvm_folds_on_null_and_nan(spark):
    """The vectorized norm/dot twins and the cosine score built from them
    equal the JVM ``norm``/``dot`` folds row for row: a NULL element
    makes the norm and the score NULL (Arrow would hand it to the UDF as
    NaN), a real NaN element makes them NaN."""
    import math

    from orange3_spark.similarity.knn import _seq_dot, _seq_norm, dot, norm

    nan = float("nan")
    rows = [(0, [1.0, -2.0, 0.5], [3.0, 1.0, -4.0]),
            (1, [1.0, None, 2.0], [1.0, 1.0, 1.0]),   # NULL element
            (2, [1.0, nan, 2.0], [1.0, 1.0, 1.0]),    # NaN element
            (3, [2.0, 2.0, 2.0], [1.0, None, 1.0]),   # NULL on b only
            (4, None, [1.0, 2.0, 3.0]),
            (5, [1.0, 2.0], [1.0, 2.0, 3.0])]         # unequal lengths
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>")
    a, b = F.col("a"), F.col("b")
    got = df.select(
        "id", _seq_norm(a).alias("un"), norm(a).alias("jn"),
        _seq_dot(a, b).alias("ud"), dot(a, b).alias("jd"),
        (_seq_dot(a, b) / (_seq_norm(a) * _seq_norm(b))).alias("us"),
        (dot(a, b) / (norm(a) * norm(b))).alias("js")).collect()

    def same(x, y):
        if x is None or y is None:
            return x is None and y is None
        return (math.isnan(x) and math.isnan(y)) or x == y

    for r in got:
        assert same(r["un"], r["jn"]), (r["id"], r["un"], r["jn"])
        assert same(r["us"], r["js"]), (r["id"], r["us"], r["js"])
        if r["id"] not in (1, 3):       # no NULL element: dot twin too
            assert same(r["ud"], r["jd"]), (r["id"], r["ud"], r["jd"])
    by_id = {r["id"]: r for r in got}
    assert by_id[1]["un"] is None and by_id[1]["us"] is None
    assert by_id[3]["us"] is None
    assert math.isnan(by_id[2]["un"]) and math.isnan(by_id[2]["us"])
