"""Text/dedup/similarity units: recall of the approximate paths vs exact
baselines, plus kernel sanity on tiny corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orange3_spark.similarity import knn as K
from orange3_spark.text import analysis as TA
from orange3_spark.text import dedup as TD


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame([
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
        (2, "completely different words about spark engines and data shuffles"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
        (4, "der hund ist nicht zu alt und der mann ist mit dem hund"),
    ], "doc_id long, text string")


def test_token_count(docs):
    rows = {r["doc_id"]: r["n"] for r in
            docs.select("doc_id", TA.token_count("text").alias("n")).collect()}
    assert rows[0] == 13 and rows[2] == 9


def test_lang_id(docs):
    rows = {r["doc_id"]: r["l"] for r in
            docs.select("doc_id", TA.lang_id("text").alias("l")).collect()}
    assert rows[0] == "en" and rows[4] == "de"


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame([(0, "a b  c"), (1, " a b c ")], "i long, text string")
    fps = [r["f"] for r in df.select(TA.fingerprint("text").alias("f")).collect()]
    assert fps[0] == fps[1]


def test_dedup_exact(docs):
    out = TD.dedup_exact(docs)
    assert out.count() == 4  # 0 and 3 collapse
    survivor = out.filter(F.col("n_copies") == 2).collect()
    assert len(survivor) == 1 and survivor[0]["doc_id"] == 0


def test_shingles(spark):
    df = spark.createDataFrame([(0, "a b c d")], "i long, text string")
    sh = df.select(TD.shingles("text", 3).alias("s")).collect()[0]["s"]
    assert sorted(sh) == ["a b c", "b c d"]


def test_jaccard_pairs_finds_neardup(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in TD.jaccard_pairs(docs, threshold=0.3).collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0
    assert (0, 1) in pairs and 0.5 < pairs[(0, 1)] < 1.0
    assert (1, 3) in pairs
    assert all(a != 2 and b != 2 for a, b in pairs)


def test_minhash_recall_vs_exact(docs):
    exact = {(r["id_a"], r["id_b"])
             for r in TD.jaccard_pairs(docs, threshold=0.5).collect()}
    mh = {(r["id_a"], r["id_b"])
          for r in TD.dedup_minhash(docs, threshold=0.5).collect()}
    # 64 hashes / 16 bands catch everything at jaccard >= 0.5 on this corpus
    assert exact == mh


def test_jaccard_max_df_drops_boilerplate_only_pairs(spark):
    # docs 0-3 share ONLY the boilerplate trigram (df=4); 4/5 are near-dups
    boiler = "all rights reserved"
    df = spark.createDataFrame([
        (0, f"{boiler} alpha beta gamma delta"),
        (1, f"{boiler} epsilon zeta eta theta"),
        (2, f"{boiler} iota kappa lam mu"),
        (3, f"{boiler} nu xi omicron pi"),
        (4, "rho sigma tau upsilon phi chi psi"),
        (5, "rho sigma tau upsilon phi chi omega"),
    ], "doc_id long, text string")
    exact = TD.jaccard_pairs(df, threshold=0.05)
    capped = TD.jaccard_pairs(df, threshold=0.05, max_df=3)
    assert exact.count() > capped.count()
    keep = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (4, 5) in keep                       # real near-dups survive
    assert not any(a <= 3 and b <= 3 for a, b in keep)


def test_minhash_max_bucket_still_finds_neardups(docs):
    uncapped = {(r["id_a"], r["id_b"])
                for r in TD.minhash_lsh_candidates(docs).collect()}
    # cap of 2 keeps every bucket on this corpus's near-dup cluster (size 3
    # appears only via multiple bands); the pair set must stay superset of
    # the true near-dups
    capped = {(r["id_a"], r["id_b"])
              for r in TD.minhash_lsh_candidates(docs, max_bucket=2).collect()}
    assert capped <= uncapped
    assert (0, 1) in capped or (0, 3) in capped


def test_incremental_probe_equals_full_corpus_restriction(docs):
    """Probing new docs against a band index of the old corpus must find
    exactly the full-corpus LSH candidates that cross the new/old split."""
    new = docs.filter(F.col("doc_id") >= 3)
    old = docs.filter(F.col("doc_id") < 3)
    nb = TD.minhash_band_table(new)
    ib = TD.minhash_band_table(old)
    got = {(r["id_new"], r["id_index"])
           for r in TD.lsh_probe(nb, ib).collect()}
    full = {(r["id_a"], r["id_b"])
            for r in TD.minhash_lsh_candidates(docs).collect()}
    want = {(b, a) for a, b in full if a < 3 <= b} | \
           {(a, b) for a, b in full if b < 3 <= a}
    assert got == want
    assert (3, 0) in got        # doc 3 duplicates doc 0 across the split


def test_simhash_max_block_caps_degenerate_block(spark):
    same = [(i, "identical template text body") for i in range(6)]
    df = spark.createDataFrame(same + [(9, "something else entirely here")],
                               "doc_id long, text string")
    full = TD.simhash_near_dups(df, max_hamming=64, prefix_bits=4)
    capped = TD.simhash_near_dups(df, max_hamming=64, prefix_bits=4,
                                  max_block=3)
    assert full.count() >= 15          # 6 identical docs -> C(6,2) in block
    assert capped.count() < full.count()


def test_simhash_near_dups(docs):
    out = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in TD.simhash_near_dups(docs, max_hamming=10,
                                         prefix_bits=4).collect()}
    assert (0, 3) in out and out[(0, 3)] == 0  # identical text -> same hash


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),   # near 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),   # opposite of 0
        (4, [0.7, 0.7, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_knn_brute_force(vecs):
    out = K.knn_brute_force(vecs.filter("vec_id != 0"), [1.0, 0.0, 0.0, 0.0], k=2)
    got = [r["vec_id"] for r in out.collect()]
    assert got == [1, 4]


def test_knn_join(vecs):
    out = K.knn_join_brute_force(vecs, vecs, k=2)
    top = {r["id_a"]: r["id_b"] for r in out.filter("id_a != id_b").collect()
           if r["score"] > 0.99}
    assert top.get(0) == 1 or top.get(1) == 0


def test_lsh_bucket_same_for_identical(vecs):
    # identical vectors always share every bucket -> LSH recall 1 on dups
    out = K.lsh_bucket_knn(vecs, vecs, k=1, n_planes=6)
    self_hits = {r["id_a"] for r in out.filter("score > 0.9999").collect()}
    assert self_hits == {0, 1, 2, 3, 4}


def test_neardup_cosine_lsh_recall(spark, sf_dir):
    from orange3_spark.session import load_tables
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    exact = {(r["id_a"], r["id_b"])
             for r in K.neardup_cosine(emb, 0.45, brute_force=True).collect()}
    approx = {(r["id_a"], r["id_b"])
              for r in K.neardup_cosine(emb, 0.45, n_planes=4,
                                        n_tables=8).collect()}
    assert approx <= exact
    if exact:
        assert len(approx) / len(exact) >= 0.5  # 8-table recall


def test_neardup_brute_force_row_guard(spark, sf_dir):
    import pytest

    from orange3_spark.session import load_tables
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    with pytest.raises(ValueError, match="O\\(n²\\)"):
        K.neardup_cosine(emb, 0.45, brute_force=True,
                         max_brute_rows=5).count()


def test_dup_clusters_components(spark):
    from orange3_spark.text.dedup import dup_clusters

    # components: {1,2,3} via chain 1-2, 2-3; {7,9}; singleton pairs absent
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_dup_clusters_long_chain(spark):
    from orange3_spark.text.dedup import dup_clusters

    # a 12-node path: worst-case diameter for label propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert set(got.values()) == {0} and len(got) == 13


def test_dup_clusters_distributed_branch(spark, no_local_twins):
    """Force the min-label-propagation loop (the path that runs at 100 TB)
    and pin it to the union-find result on a long chain + ≥2 components."""
    import pytest

    from orange3_spark.text.dedup import dup_clusters

    # 40-edge path (diameter 40 — pointer jumping must collapse it well
    # inside max_iters=20) + a clique-ish second component + an offset pair
    edges = ([(i, i + 1) for i in range(40)]
             + [(100, 101), (101, 102), (100, 102)] + [(200, 250)])
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    want = {r.doc_id: r.cluster_id
            for r in dup_clusters(pairs).collect()}           # union-find
    with no_local_twins():
        got = {r.doc_id: r.cluster_id
               for r in dup_clusters(pairs).collect()}
    assert got == want
    assert set(got.values()) == {0, 100, 200} and len(got) == 46
    # non-convergence raises loudly instead of returning partial clusters
    with no_local_twins(), pytest.raises(RuntimeError,
                                         match="did not converge"):
        dup_clusters(pairs, max_iters=2)


def test_dup_clusters_query_leaves_no_cached_frame(spark, sf_dir):
    """A cached frame that outlives its query holds storage memory for the
    rest of the session and silently speeds up the next query reading it."""
    import __spark_entry__ as E

    spark.catalog.clearCache()
    E.queries()["q_dup_clusters"](spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_redact(spark):
    from orange3_spark.text.analysis import redact

    df = spark.createDataFrame(
        [("mail me at bob.smith@example.com or call 555-123-4567 x42",)],
        ["text"])
    out = df.select(redact("text").alias("r")).first().r
    assert "<EMAIL>" in out and "<PHONE>" in out
    assert "example.com" not in out and "555" not in out
    assert out.endswith("x<NUM>")


def test_top_ngrams(spark):
    from orange3_spark.text.analysis import top_ngrams

    df = spark.createDataFrame(
        [(1, "the quick fox"), (2, "the quick dog"), (3, "a quick dog")],
        "doc_id long, text string")
    top = top_ngrams(df, n=2, k=2).collect()
    # "quick dog" and "the quick" both have df=2; tie-break is alphabetical
    assert {(r.shingle, r.df) for r in top} == \
        {("quick dog", 2), ("the quick", 2)}


def test_prepare_training_data_pipeline(spark, sf_dir):
    from orange3_spark.text.pipeline import PipelineReport, prepare_training_data

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # plant exact + near duplicates
    dup = docs.limit(5).selectExpr("doc_id + 100000 AS doc_id", "text",
                                   "lang", "source", "n_chars")
    corpus = docs.unionByName(dup)
    rep = PipelineReport()
    train, holdout = prepare_training_data(
        corpus, jaccard_threshold=0.8, holdout_fraction=0.1, report=rep)
    assert rep.input_docs == docs.count() + 5
    assert rep.after_quality <= rep.input_docs
    assert rep.after_exact == rep.after_quality - 5   # planted dups collapse
    assert rep.after_neardup <= rep.after_exact
    assert rep.train_docs + rep.holdout_docs == rep.after_neardup
    assert rep.holdout_docs > 0
    # disjoint and reproducible
    assert train.join(holdout, "doc_id", "inner").count() == 0
    _, h2 = prepare_training_data(
        corpus, jaccard_threshold=0.8, holdout_fraction=0.1)
    assert sorted(r.doc_id for r in holdout.select("doc_id").collect()) == \
        sorted(r.doc_id for r in h2.select("doc_id").collect())


def test_lang_id_frame_matches_column_version(spark):
    from orange3_spark.text import analysis as TA

    df = spark.createDataFrame(
        [(1, "the cat and the dog in a house"),
         (2, "der hund und die katze ist nicht da"),
         (3, "le chat est une creature"),
         (4, "xyzzy plugh")],
        "doc_id int, text string")
    a = {r.doc_id: r.l for r in
         df.select("doc_id", TA.lang_id("text").alias("l")).collect()}
    b = {r.doc_id: r.predicted_lang for r in
         TA.lang_id_frame(df, "text").select("doc_id", "predicted_lang")
           .collect()}
    assert a == b
    assert a[1] == "en" and a[2] == "de" and a[4] == "und"


def test_winnow_matches_literal_algorithm(spark):
    """Distributed winnowing equals a literal driver implementation
    (rightmost minimal hash per window), and docs sharing a long substring
    share a fingerprint (the winnowing guarantee)."""
    import hashlib

    from orange3_spark.text.dedup import winnow_fingerprints

    k, w = 3, 4
    texts = {
        1: "the quick brown fox jumps over the lazy dog again and again",
        2: "a different opening but jumps over the lazy dog again and again",
        3: "completely unrelated words here that overlap with nothing else",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id int, text string")
    got = {(r.doc_id, r.fp_hash, r.fp_pos)
           for r in winnow_fingerprints(df, k=k, w=w,
                                        hash_family="md5").collect()}

    def literal(doc_id, text):
        toks = text.split()
        grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16)
              for g in grams]
        out = set()
        for end in range(w - 1, len(hs)):
            window = hs[end - w + 1:end + 1]
            m = min(window)
            # rightmost index achieving the min
            ridx = end - w + 1 + max(i for i, v in enumerate(window)
                                     if v == m)
            out.add((doc_id, m, ridx))
        return out

    expect = set().union(*(literal(d, t) for d, t in texts.items()))
    assert got == expect
    # guarantee: docs 1 and 2 share "jumps over the lazy dog again and
    # again" (8 tokens > k + w - 1 = 6) -> at least one shared hash
    h1 = {h for d, h, _p in got if d == 1}
    h2 = {h for d, h, _p in got if d == 2}
    h3 = {h for d, h, _p in got if d == 3}
    assert h1 & h2
    assert not (h1 & h3) and not (h2 & h3)


def test_leakage_safe_split_colocates_neardup_clusters(docs):
    from orange3_spark.text.pipeline import leakage_safe_split

    pairs = TD.jaccard_pairs(docs, threshold=0.5)
    comp = {0, 1, 3}  # docs 0/1/3 are a near-dup component on this corpus
    for salt in ("a", "b", "c", "d", "e", "f"):
        train, hold = leakage_safe_split(
            docs, pairs, holdout_fraction=0.5, salt=salt)
        t = {r["doc_id"] for r in train.collect()}
        h = {r["doc_id"] for r in hold.collect()}
        assert t | h == {0, 1, 2, 3, 4} and not (t & h)
        assert comp <= t or comp <= h, f"component split under salt {salt}"


def test_repetition_stats_known_doc(spark):
    """'a b a b a b' has 5 bigrams: 3×'a b', 2×'b a' → dup fraction 3/5,
    top gram 'a b' with share 3/5."""
    from orange3_spark.text.analysis import repetition_stats

    df = spark.createDataFrame([(1, "a b a b a b"), (2, "w x y z")],
                               "doc_id long, text string")
    rows = {r["doc_id"]: r for r in repetition_stats(df, n=2).collect()}
    r1 = rows[1]
    assert r1["n_grams"] == 5 and r1["top_gram"] == "a b"
    assert abs(r1["dup_gram_fraction"] - 3 / 5) < 1e-12
    assert abs(r1["top_gram_share"] - 3 / 5) < 1e-12
    r2 = rows[2]
    assert r2["n_grams"] == 3 and r2["dup_gram_fraction"] == 0.0


def test_decontaminate_flags_overlap(spark):
    from orange3_spark.text.pipeline import decontaminate

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated text about sparkly engines here"),
         (3, "quick brown fox jumps over something else entirely")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "we saw the quick brown fox jumps over a fence")],
        "doc_id long, text string")
    clean, contaminated = decontaminate(train, bench, n=5)
    flagged = {r["doc_id"]: r["n_shared_grams"]
               for r in contaminated.collect()}
    assert 1 in flagged                  # shares 'the quick brown fox jumps'
    assert 2 not in flagged
    assert sorted(r["doc_id"] for r in clean.collect()) \
        == sorted(set([1, 2, 3]) - set(flagged))


def test_bm25_ranks_term_frequency(spark):
    """A doc saturated with the query term must outrank a doc with one
    mention, which outranks a doc with none; absent terms contribute
    exactly 0."""
    from orange3_spark.text.bm25 import bm25_scores

    rows = [(1, "apple apple apple apple banana"),
            (2, "apple kiwi kiwi kiwi kiwi"),
            (3, "kiwi banana kiwi banana kiwi")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["score"]
           for r in bm25_scores(df, ["apple"]).collect()}
    assert got[1] > got[2] > got[3]
    assert got[3] == 0.0


def test_mix_sources_proportions_and_determinism(spark):
    """Mixing must hit target proportions within hash-sampling noise,
    keep membership stable across partitionings, and exhaust the
    binding source."""
    from orange3_spark.text.pipeline import mix_sources

    rows = [(i, f"src{i % 4}") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    target = {"src0": 0.6, "src1": 0.2, "src2": 0.2}   # src3 dropped
    got = mix_sources(df, target, source_col="source")
    by = {r["source"]: r["n"] for r in
          got.groupBy("source")
          .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert "src3" not in by
    # binding source: src0 needs 0.6T <= 1000 -> T<=1666; src0 fully kept
    assert by["src0"] == 1000
    assert abs(by["src1"] - 333) < 60 and abs(by["src2"] - 333) < 60
    got2 = mix_sources(df.repartition(17), target, source_col="source")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, got2.collect()))


def test_pack_sequences_fill_contract(spark):
    """seq_id must equal the definition — floor(cumulative tokens before
    / target) within (bucket, id-order) — recomputed exactly in Python,
    and be stable across partitionings."""
    from orange3_spark.text.packing import pack_sequences

    rows = [(i, " ".join(["w"] * (20 + i % 30))) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    packed = pack_sequences(df, target_tokens=100, n_buckets=4)
    got = sorted(map(tuple, packed.collect()))
    by_bucket = {}
    for did, n, b, sq in got:
        by_bucket.setdefault(b, []).append((did, n, sq))
    for b, docs in by_bucket.items():
        cum = 0
        for did, n, sq in sorted(docs):
            assert sq == cum // 100, (b, did, cum, sq)
            cum += n
    p2 = pack_sequences(df.repartition(9), target_tokens=100, n_buckets=4)
    assert got == sorted(map(tuple, p2.collect()))


def test_repeated_span_stats(spark):
    """A doc sharing a 3-gram with another doc counts it as shared; a
    unique doc shares nothing."""
    from orange3_spark.text.dedup import repeated_span_stats

    rows = [(1, "the quick brown fox jumps"),
            (2, "a the quick brown dog"),
            (3, "completely different words here now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_spans"], r["n_shared"])
           for r in repeated_span_stats(df, n=3).collect()}
    # 'the quick brown' appears in docs 1 and 2
    assert got[1] == (3, 1) and got[2] == (3, 1)
    assert got[3] == (3, 0)


def test_bigram_lm_scores_literal(spark):
    """Hand-computed add-one bigram likelihoods on a 3-doc corpus: the
    model trains on the lang='en' slice only; integer fixed-point matches
    c2/c1/V done by hand."""
    from orange3_spark.text import lm as LM

    df = spark.createDataFrame([
        (0, "a b a b", "en"),       # train: bigrams ab, ba, ab
        (1, "a b c", "en"),         # train: ab, bc
        (2, "b a q", "xx"),         # scored only
    ], "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in LM.bigram_lm_scores(
        df, train_filter=F.col("lang") == "en").collect()}
    # model: c2(a,b)=3, c2(b,a)=1, c2(b,c)=1; c1(a)=3, c1(b)=2; V=3
    s = LM.LM_SCALE
    pq_ab = (3 + 1) * s // (3 + 3)
    pq_ba = (1 + 1) * s // (2 + 3)
    pq_bc = (1 + 1) * s // (2 + 3)
    pq_aq = (0 + 1) * s // (3 + 3)   # unseen bigram, seen context
    assert out[0]["n_bigrams"] == 3
    assert out[0]["sum_pq"] == 2 * pq_ab + pq_ba
    assert out[0]["lm_q"] == (2 * pq_ab + pq_ba) // 3
    assert out[1]["sum_pq"] == pq_ab + pq_bc
    assert out[2]["sum_pq"] == pq_ba + pq_aq
    assert out[2]["lm_q"] == (pq_ba + pq_aq) // 2


def test_bigram_lm_single_token_docs_unscored(spark):
    from orange3_spark.text import lm as LM

    df = spark.createDataFrame([
        (0, "a b", "en"), (1, "solo", "en"), (2, "", "en"),
    ], "doc_id long, text string, lang string")
    out = LM.bigram_lm_scores(df, train_filter=F.lit(True)).collect()
    assert {r["doc_id"] for r in out} == {0}


def test_corpus_report_literal(spark):
    from orange3_spark.text.pipeline import corpus_report

    df = spark.createDataFrame([
        (0, "a b c d e f g h i j k", "en", "s1"),
        (1, "a b c d e f g h i j k", "en", "s1"),   # exact dup of 0
        (2, "short doc", "de", "s1"),
        (3, "x y", "en", "s2"),
    ], "doc_id long, text string, lang string, source string")
    out = {r["source"]: r for r in corpus_report(df).collect()}
    s1 = out["s1"]
    assert s1["n_docs"] == 3 and s1["n_exact_dups"] == 1
    assert s1["total_tokens"] == 24 and s1["n_langs"] == 2
    assert s1["n_short"] == 1 and s1["mean_tokens"] == 8
    assert out["s2"]["n_short"] == 1 and out["s2"]["n_exact_dups"] == 0


# ---------------------------------------------------------------- BPE


def _bpe_truth(texts, n_merges):
    """Literal token-scan BPE (Sennrich et al. 2016 reference shape):
    word counts, overlapping pair counts, merge = sequential scan."""
    import collections

    wc = collections.Counter(w for t in texts for w in t.split() if w)
    state = {w: list(w) + ["</w>"] for w in wc}
    merges = []
    for rank in range(n_merges):
        pc = collections.Counter()
        for w, syms in state.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wc[w]
        if not pc:
            break
        (a, b), c = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((rank, a, b, c))
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out
    return merges, state


def test_bpe_fit_matches_literal_model(spark):
    from orange3_spark.text import bpe as B

    texts = ["low lower lowest low low",
             "new newer newest new newer",
             "aaa aa a aaa",          # overlap semantics: 'a a' in 'aaa'
             "low new lowest"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    merges, words = B.bpe_fit(df, n_merges=6)
    truth, _ = _bpe_truth(texts, 6)
    assert merges == truth
    words.bpe_cache.unpersist()


def test_bpe_segment_overlap_and_end_marker(spark):
    from orange3_spark.text import bpe as B
    from pyspark.sql import functions as F

    # merge ('a','a') on 'aaa' must fuse only the FIRST pair (token-scan
    # semantics), and 'a</w>' fuses the end marker
    df = spark.createDataFrame([("aaa",), ("ba",)], ["w"])
    merges = [(0, "a", "a", 99), (1, "a", "</w>", 98)]
    got = {r["w"]: r["syms"] for r in df.select(
        "w", B.bpe_segment(F.col("w"), merges).alias("syms")).collect()}
    assert got["aaa"] == ["aa", "a</w>"]
    assert got["ba"] == ["b", "a</w>"]


def test_bpe_apply_counts_distinct_word_path(spark):
    from orange3_spark.text import bpe as B

    df = spark.createDataFrame(
        [("s1", "ab ab cd"), ("s2", "ab x\x1fy")], ["source", "text"])
    merges = [(0, "a", "b", 3)]
    got = {r["source"]: r for r in
           B.bpe_apply(df, merges, keep=("source",)).collect()}
    # s1: 'ab'×2 → ['ab','</w>'] = 2 syms each; 'cd' → ['c','d','</w>']=3
    assert got["s1"]["n_words"] == 3
    assert got["s1"]["n_chars"] == 6
    assert got["s1"]["n_bpe_tokens"] == 2 + 2 + 3
    # s2: the sentinel-bearing word is dropped on both engine and oracle
    assert got["s2"]["n_words"] == 1
    assert got["s2"]["n_bpe_tokens"] == 2


# -------------------------------------------------- quality classifier


def _py_bucket(tok: str, n: int) -> int:
    import hashlib
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % n


def test_hashed_bow_matches_literal_md5_model(spark):
    from orange3_spark.text.quality_clf import hashed_bow

    txt = "the quick brown fox the"
    df = spark.createDataFrame([(1, txt), (2, "   "), (3, None)],
                               ["doc_id", "text"])
    out = hashed_bow(df, n_buckets=8, keep=("doc_id",)).collect()
    assert [r["doc_id"] for r in out] == [1]   # empty/null dropped
    toks = txt.split()
    for b in range(8):
        want = sum(_py_bucket(t, 8) == b for t in toks) / len(toks)
        assert out[0][f"x{b}"] == want


def test_quality_clf_fit_partition_independent(spark):
    from orange3_spark.text.quality_clf import quality_clf_fit
    from pyspark.sql import functions as F

    rows = [(i, ("alpha beta gamma" if i % 2 else "uno dos tres"),
             "en" if i % 2 else "es") for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    kw = dict(n_buckets=8, sample_thr="ffffffff", iters=4)
    b1 = quality_clf_fit(df.repartition(1), F.col("lang") == "en", **kw)
    b7 = quality_clf_fit(df.repartition(7), F.col("lang") == "en", **kw)
    assert b1 == b7                      # exact-integer IRLS: bit-equal


def test_quality_clf_separates_weak_labels(spark):
    from orange3_spark.text.quality_clf import (
        quality_clf_fit, quality_clf_score)
    from pyspark.sql import functions as F

    rows = [(i, ("alpha beta gamma delta" if i % 2
                 else "uno dos tres cuatro"),
             "en" if i % 2 else "es") for i in range(80)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    beta = quality_clf_fit(df, F.col("lang") == "en",
                           n_buckets=8, sample_thr="ffffffff", iters=6)
    got = quality_clf_score(df, beta, n_buckets=8,
                            keep=("lang",)).collect()
    for r in got:
        assert (r["m"] > 0) == (r["lang"] == "en")


# ------------------------------------------- content-defined chunking


def _py_cdc(text, k=3, divisor=8):
    """Literal CDC model: trailing k-gram md5 boundary, chunks as token
    lists."""
    import hashlib

    tk = [t for t in text.split() if t]
    chunks, cur = [], []
    for i, t in enumerate(tk):
        flag = 0
        if i >= k - 1:
            gram = " ".join(tk[i - k + 1:i + 1])
            h = int(hashlib.md5(gram.encode()).hexdigest()[:8], 16)
            flag = 1 if h % divisor == 0 else 0
        cur.append(t)
        if flag:
            chunks.append(cur)
            cur = []
    if cur:
        chunks.append(cur)
    return [" ".join(c) for c in chunks]


def test_cdc_chunks_match_literal_model(spark):
    import hashlib

    from orange3_spark.text import dedup as TD

    texts = [("d%d" % i,
              " ".join("tok%d" % ((i * 17 + j) % 23)
                       for j in range(40))) for i in range(6)]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    got = TD.cdc_chunks(df, id_col="doc_id").collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for did, text in texts:
        want = _py_cdc(text)
        rows = sorted(by_doc[did], key=lambda r: r["chunk_no"])
        assert len(rows) == len(want)
        for r, w in zip(rows, want):
            assert r["n_tok"] == len(w.split())
            assert r["chash"] == int(
                hashlib.md5(w.encode()).hexdigest()[:8], 16)


def test_cdc_insertion_shifts_only_one_chunk(spark):
    from orange3_spark.text import dedup as TD

    base = " ".join("w%d" % (j % 31) for j in range(120))
    # insert one token near the front of a copy: all chunks after the
    # landing chunk must still dedup against the original (the CDC
    # property a fixed-size splitter lacks)
    toks = base.split()
    edited = " ".join(toks[:5] + ["INSERTED"] + toks[5:])
    df = spark.createDataFrame([("a", base), ("b", edited)],
                               ["doc_id", "text"])
    ch = TD.cdc_chunks(df, id_col="doc_id").collect()
    ha = {r["chash"] for r in ch if r["doc_id"] == "a"}
    hb = {r["chash"] for r in ch if r["doc_id"] == "b"}
    shared = ha & hb
    assert len(shared) >= max(len(ha) - 3, 1)

    stats = {r["source"]: r for r in TD.cdc_chunk_stats(
        df.withColumnRenamed("doc_id", "src_doc")
          .withColumn("doc_id", F.col("src_doc"))
          .withColumn("source", F.col("src_doc")),
        group_col="source").collect()}
    assert stats["a"]["n_dup_chunks"] >= len(shared)


def test_hashed_bow_agg_equals_row_local(spark):
    from orange3_spark.text.quality_clf import hashed_bow, hashed_bow_agg

    rows = [(i, " ".join("t%d" % ((i * 7 + j) % 13) for j in range(i % 9)))
            for i in range(30)]          # includes zero-token docs
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = {r["doc_id"]: tuple(r)[1:] for r in
         hashed_bow(df, n_buckets=8, keep=("doc_id",)).collect()}
    b = {r["doc_id"]: tuple(r)[1:] for r in
         hashed_bow_agg(df, n_buckets=8).collect()}
    assert a == b                        # bit-equal doubles, same drops


def test_cluster_curation_quota_semantics(spark):
    """Dense clusters are capped at the quota, sparse ones survive
    whole, and the kept set is hash-deterministic across partitionings."""
    from orange3_spark.plans.queries_text import q_cluster_curation

    out = {r["cluster"]: r for r in
           q_cluster_curation(spark, "/root/testdata/sf0.001").collect()}
    assert out, "no clusters"
    from orange3_spark.plans.queries_text import _CURATION_QUOTA
    for r in out.values():
        assert r["n_kept"] == min(r["n_docs"], _CURATION_QUOTA)
        assert 1 <= r["n_sources_kept"] <= r["n_kept"]


def test_temperature_targets_law():
    from orange3_spark.text.pipeline import temperature_targets

    counts = {"a": 900, "b": 90, "c": 10}
    t1 = temperature_targets(counts, 1.0)
    assert abs(t1["a"] - 0.9) < 1e-12          # T=1: natural proportions
    t0 = temperature_targets(counts, 0.0)
    assert all(abs(v - 1 / 3) < 1e-12 for v in t0.values())   # T=0: uniform
    t5 = temperature_targets(counts, 0.5)
    assert t1["c"] < t5["c"] < t0["c"]         # T<1 upweights the tail
    assert abs(sum(t5.values()) - 1.0) < 1e-12


def test_mix_temperature_deterministic_and_rebalanced(spark):
    from orange3_spark.text.pipeline import mix_temperature

    rows = [(i, "s_big" if i < 400 else "s_small") for i in range(440)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = mix_temperature(df, 0.5)
    a = sorted(r["doc_id"] for r in kept.collect())
    b = sorted(r["doc_id"] for r in
               mix_temperature(df.repartition(7), 0.5).collect())
    assert a == b                             # hash membership, not rand
    n = {r["source"]: r["n"] for r in
         kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # natural ratio 10:1 must compress toward sqrt(10):1
    assert n["s_big"] / n["s_small"] < 400 / 40


def test_distinctive_terms_literal(spark):
    from orange3_spark.text.analysis import distinctive_terms

    rows = [(1, "s1", "zebra zebra common"),
            (2, "s1", "common zebra"),
            (3, "s2", "yak common"),
            (4, "s2", "yak yak common common")]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {(r["source"], r["term"]): r for r in
           distinctive_terms(df, top_n=2).collect()}
    # zebra: tf(s1)=3, df=2 -> 1_500_000; common: tf(s1)=2, df=4 -> 500_000
    z = out[("s1", "zebra")]
    assert (z["tf"], z["df"], z["score"], z["rnk"]) == (3, 2, 1_500_000, 1)
    y = out[("s2", "yak")]
    assert (y["tf"], y["df"], y["score"], y["rnk"]) == (3, 2, 1_500_000, 1)
    assert out[("s1", "common")]["score"] == 500_000


def test_sliding_chunks_geometry(spark):
    import hashlib

    from orange3_spark.text.packing import sliding_chunks

    toks = ["t%d" % i for i in range(40)]
    df = spark.createDataFrame(
        [(1, "sA", " ".join(toks)),       # 40 toks: starts 1,17,33 (0-based 0,16,32)
         (2, "sA", "only three tokens"),  # shorter than window: one chunk
         (3, "sB", "   "), (4, "sB", None)],       # empty: none
        ["doc_id", "source", "text"])
    got = sliding_chunks(df, window=32, stride=16,
                         keep=("source",)).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2}
    d1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["start_tok"] for r in d1] == [1, 17]   # 33 > 40-32+1=9 cap
    assert [r["n_tok"] for r in d1] == [32, 24]
    want0 = " ".join(toks[0:32])
    assert d1[0]["chash"] == int(
        hashlib.md5(want0.encode()).hexdigest()[:8], 16)
    assert by_doc[2][0]["n_tok"] == 3 and by_doc[2][0]["start_tok"] == 1


def test_boilerplate_fraction_literal(spark):
    from orange3_spark.text.analysis import boilerplate_fraction

    footer = "all rights reserved by the site owner"
    docs = spark.createDataFrame(
        [(1, "unique words of doc one here ok " + footer),
         (2, "totally different body text here now " + footer),
         (3, "third doc some other words again yes " + footer),
         (4, "nothing shared with anyone at all whatsoever")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           boilerplate_fraction(docs, n=5, min_docs=3).collect()}
    # the 7-token footer contributes shared 5-grams to docs 1-3
    assert out[1]["n_boiler"] >= 3 and out[2]["n_boiler"] >= 3
    assert out[4]["n_boiler"] == 0
    assert 0 < out[1]["boiler_frac"] < 1
    # partition invariance
    out2 = {r["doc_id"]: r["n_boiler"] for r in
            boilerplate_fraction(docs.repartition(5), n=5,
                                 min_docs=3).collect()}
    assert out2 == {k: v["n_boiler"] for k, v in out.items()}


def test_url_canonicalize_contract(spark):
    from orange3_spark.text.urls import (canonicalize_url,
                                         registrable_domain, url_host)

    rows = [
        ("HTTP://Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag",
         "http://example.com/a/b?a=1&b=2", "example.com"),
        ("https://sub.shop.example.co.uk/x?ref=h&z=9",
         "https://sub.shop.example.co.uk/x?z=9", "example.co.uk"),
        ("https://plain.org/", "https://plain.org", "plain.org"),
        ("https://a.net/p?gclid=1&fbclid=2", "https://a.net/p", "a.net"),
    ]
    df = spark.createDataFrame([(u,) for u, _, _ in rows], "url string")
    got = df.select(canonicalize_url("url").alias("c"),
                    registrable_domain("url").alias("d"),
                    url_host("url").alias("h")).collect()
    for (url, want_c, want_d), r in zip(rows, got):
        assert r["c"] == want_c, (url, r["c"])
        assert r["d"] == want_d, (url, r["d"])


def test_quantize_int8_properties(spark):
    from orange3_spark.similarity.quantize import (quantize_int8_codes,
                                                   quantize_int8_summary)

    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0, 0.0]),
         (3, [127.0])], "vec_id long, embedding array<double>")
    codes = {(r["vec_id"], r["pos"]): r["q"] for r in
             quantize_int8_codes(df).collect()}
    assert codes[(1, 2)] == -127            # max-|x| element saturates
    assert codes[(1, 1)] == 64              # round-half-up(63.5)
    assert codes[(2, 1)] == 0               # zero vector guard
    assert codes[(3, 1)] == 127
    s = {r["vec_id"]: r for r in quantize_int8_summary(df).collect()}
    assert s[1]["sum_abs_q"] == 64 + 127 + 32
    assert s[2]["sum_q"] == 0 and s[2]["scale"] == 0.0
    s2 = {r["vec_id"]: r["dot_pos"] for r in
          quantize_int8_summary(df.repartition(4)).collect()}
    assert s2 == {k: v["dot_pos"] for k, v in s.items()}


def test_dedup_lines_ccnet_semantics(spark):
    from orange3_spark.text.dedup import dedup_lines

    docs = spark.createDataFrame(
        [(1, "unique alpha\nShared Footer\ncopyright"),
         (2, "unique beta\nshared footer \ncopyright"),
         (3, "only me entirely")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup_lines(docs, min_docs=2).collect()}
    # normalized matching: 'Shared Footer' == 'shared footer ' -> both cut
    assert out[1]["clean_text"] == "unique alpha"
    assert out[2]["clean_text"] == "unique beta"
    assert out[3]["clean_text"] == "only me entirely"
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 1)
    # all lines removed -> empty text, zero kept
    docs2 = spark.createDataFrame(
        [(1, "same\nsame2"), (2, "same\nsame2")], "doc_id long, text string")
    o2 = {r["doc_id"]: r for r in dedup_lines(docs2, min_docs=2).collect()}
    assert o2[1]["n_kept"] == 0 and o2[1]["clean_text"] == ""


def test_cooccurrence_lift_literal(spark):
    from orange3_spark.text.analysis import cooccurrence_lift

    # 'a b' always together (10 docs), 'c' independent in half of them
    docs = ([(i, "a b filler%d" % i) for i in range(10)]
            + [(100 + i, "c other%d" % i) for i in range(10)]
            + [(200 + i, "a b c joint") for i in range(5)])
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {(r["t_a"], r["t_b"]): r for r in
           cooccurrence_lift(df, min_count=5, top_k=10).collect()}
    ab = out[("a", "b")]
    n = 25
    assert ab["n_ab"] == 15 and ab["n_a"] == 15 and ab["n_b"] == 15
    assert ab["lift_q"] == (15 * n * 1000000) // (15 * 15)  # lift 5/3
    # a-c co-occur only in the 5 joint docs: lift < ab's
    assert out[("a", "c")]["lift_q"] < ab["lift_q"]
    out2 = {(r["t_a"], r["t_b"]): r["lift_q"] for r in
            cooccurrence_lift(df.repartition(7), min_count=5,
                              top_k=10).collect()}
    assert out2 == {k: v["lift_q"] for k, v in out.items()}


def test_compression_ratio_signal(spark):
    from orange3_spark.plans.oracle_replay import compression_ratio_of
    from orange3_spark.text.analysis import compression_ratio

    rows = [(1, "spam spam spam spam spam spam spam spam spam spam"),
            (2, "The quick brown fox jumps over the lazy dog today."),
            (3, "qZ7#kP2@mX9!vB4$nC6%wD8^eF1&gH3*jK5(lM0)pR")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["ratio_q"]
           for r in compression_ratio(df).collect()}
    # repetitive << prose < noise, and each matches the shared function
    assert got[1] < got[2] < got[3]
    for i, t in rows:
        assert got[i] == compression_ratio_of(t)
    # empty and NULL contracts
    edge = spark.createDataFrame([(1, ""), (2, None)],
                                 "doc_id long, text string")
    e = {r["doc_id"]: r["ratio_q"] for r in compression_ratio(edge).collect()}
    assert e == {1: 0, 2: None}


def test_auto_n_planes_scaling():
    """Plane count grows log2(n) so expected bucket size stays bounded —
    the cure for the fixed-plane quadratic candidate growth."""
    from orange3_spark.similarity.knn import auto_n_planes
    assert auto_n_planes(100) == 4          # clamped low
    assert auto_n_planes(64 * 2 ** 5) == 5
    assert auto_n_planes(64 * 2 ** 9) == 9
    assert auto_n_planes(10 ** 12) == 20    # clamped high
    # expected bucket size n / 2^planes stays <= 64 inside the clamp band
    for n in (10_000, 100_000, 10_000_000):
        assert n / 2 ** auto_n_planes(n) <= 64


def test_neardup_matmul_falls_back_to_lsh(spark, sf_dir):
    """Past the broadcast bound the exact matmul routes to the LSH path
    with a loud warning instead of collecting the corpus (the
    hard_negatives auto-routing pattern)."""
    import warnings

    from orange3_spark.session import load_tables
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = K.neardup_cosine_matmul(emb, threshold=0.99,
                                      max_broadcast_cells=10)
        rows = out.collect()
    assert any("APPROXIMATE" in str(x.message) for x in w)
    exact = {(r["id_a"], r["id_b"])
             for r in K.neardup_cosine_matmul(emb, threshold=0.99).collect()}
    assert {(r["id_a"], r["id_b"]) for r in rows} <= exact
