"""Text-analysis / dedup / similarity queries — the LLM-data-pipeline
operator surface, each oracle-backed where SQL-expressible."""

from __future__ import annotations

from pyspark.sql import functions as F

from orange3_spark.plans import oracle_replay as OR2
from orange3_spark.plans.queries_ml import lloyd_cte
from orange3_spark.plans.registry import query
from orange3_spark.session import load_tables, local_frame
from orange3_spark.similarity import knn as K
from orange3_spark.text import analysis as TA
from orange3_spark.text import dedup as TD


def _t(spark, sf_dir, *names):
    d = load_tables(spark, sf_dir, names)
    return [d[n] for n in names]


@query("q_text_stats", """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       length(text) AS n_chars_computed,
       CAST(length(replace(text, ' ', '')) AS DOUBLE)
           / len(string_split(text, ' ')) AS avg_token_len
FROM documents
""")
def q_text_stats(spark, sf_dir):
    """Token/char counting over the documents table — pure JVM-side string
    expressions (token_count/char_count/avg_token_len)."""
    (docs,) = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TA.token_count("text").alias("n_tokens"),
        TA.char_count("text").alias("n_chars_computed"),
        TA.avg_token_len("text").alias("avg_token_len"))


@query("q_text_quality", """
SELECT doc_id,
       CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS punct_ratio,
       CAST(len(list_filter(string_split(text, ' '),
                t -> list_contains(['the','and','of','to','a','in','is','it','you','that'], lower(t)))) AS DOUBLE)
           / greatest(len(string_split(text, ' ')), 1) AS stopword_ratio
FROM documents
""")
def q_text_quality(spark, sf_dir):
    """Quality-signal components: punctuation ratio + stopword density
    (Gopher/C4-style signals as Column expressions)."""
    (docs,) = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TA.punct_ratio("text").alias("punct_ratio"),
        TA.stopword_ratio("text", list(TA.LANG_MARKERS["en"])).alias("stopword_ratio"))


@query("q_lang_id", """
WITH scored AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text,' '), t -> list_contains(['der','die','das','und','ist','ich','nicht','ein','zu','mit'], lower(t)))) AS DOUBLE) / greatest(len(string_split(text,' ')), 1) AS r_de,
         CAST(len(list_filter(string_split(text,' '), t -> list_contains(['the','and','of','to','a','in','is','it','you','that'], lower(t)))) AS DOUBLE) / greatest(len(string_split(text,' ')), 1) AS r_en,
         CAST(len(list_filter(string_split(text,' '), t -> list_contains(['el','la','los','las','y','es','no','un','una','que'], lower(t)))) AS DOUBLE) / greatest(len(string_split(text,' ')), 1) AS r_es,
         CAST(len(list_filter(string_split(text,' '), t -> list_contains(['le','la','les','et','est','je','ne','un','une','de'], lower(t)))) AS DOUBLE) / greatest(len(string_split(text,' ')), 1) AS r_fr,
         CAST(len(list_filter(string_split(text,' '), t -> list_contains(['的','了','是','我','不','在','有','这','他','就'], lower(t)))) AS DOUBLE) / greatest(len(string_split(text,' ')), 1) AS r_zh
  FROM documents)
SELECT predicted_lang, count(*) AS n FROM (
  SELECT CASE
    WHEN r_de > 0 AND r_de = greatest(r_de, r_en, r_es, r_fr, r_zh) THEN 'de'
    WHEN r_en > 0 AND r_en = greatest(r_de, r_en, r_es, r_fr, r_zh) THEN 'en'
    WHEN r_es > 0 AND r_es = greatest(r_de, r_en, r_es, r_fr, r_zh) THEN 'es'
    WHEN r_fr > 0 AND r_fr = greatest(r_de, r_en, r_es, r_fr, r_zh) THEN 'fr'
    WHEN r_zh > 0 AND r_zh = greatest(r_de, r_en, r_es, r_fr, r_zh) THEN 'zh'
    ELSE 'und' END AS predicted_lang
  FROM scored)
GROUP BY predicted_lang
""")
def q_lang_id(spark, sf_dir):
    """n-gram/marker language-ID heuristic: argmax of per-language function-
    word density, alphabetical tie-break, 'und' when nothing fires."""
    (docs,) = _t(spark, sf_dir, "documents")
    return (TA.lang_id_frame(docs, "text")
              .groupBy("predicted_lang")
              .agg(F.count(F.lit(1)).alias("n")))


@query("q_dedup_exact", """
SELECT doc_id, n_copies FROM (
  SELECT min(doc_id) AS doc_id, count(*) AS n_copies
  FROM (SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id + 1000000, text FROM documents)
  GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
""")
def q_dedup_exact(spark, sf_dir):
    """Exact dedup (hash-groupBy on normalized text): doubled corpus
    collapses back to one survivor per text, lowest id wins."""
    (docs,) = _t(spark, sf_dir, "documents")
    doubled = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    return TD.dedup_exact(doubled)


@query("q_dedup_jaccard", """
WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
       FROM toks, unnest(range(1, len(w)-1)) AS u(i)),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
SELECT id_a, id_b, inter / (sa.sz + sb.sz - inter) AS jaccard
FROM p JOIN sz sa ON p.id_a = sa.doc_id JOIN sz sb ON p.id_b = sb.doc_id
WHERE inter / (sa.sz + sb.sz - inter) >= 0.2
""")
def q_dedup_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup pairs via the shingle self-join (candidates
    only for docs sharing ≥1 shingle — never the O(n²) cross join)."""
    (docs,) = _t(spark, sf_dir, "documents")
    return TD.jaccard_pairs(docs, n=3, threshold=0.2)


_MH_K, _MH_BANDS = 64, 16
_MH_R = _MH_K // _MH_BANDS

_MH_AGGS = ",\n       ".join(
    f"min(CAST('0x' || substring(md5(shingle), 1, 8) AS BIGINT)"
    f" + {k} * CAST('0x' || substring(md5(shingle), 9, 8) AS BIGINT))"
    f" AS h{k}" for k in range(_MH_K))
_MH_BAND_SELECTS = "\n  UNION ALL ".join(
    "SELECT doc_id, {b} AS band, md5({cat}) AS bucket FROM sig".format(
        b=b, cat=" || ',' || ".join(f"h{b * _MH_R + j}" for j in range(_MH_R)))
    for b in range(_MH_BANDS))


@query("q_dedup_minhash", f"""
WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
       FROM toks, unnest(range(1, len(w)-1)) AS u(i)),
sig AS (SELECT doc_id,
       {_MH_AGGS}
       FROM sh GROUP BY doc_id),
bands AS (
  {_MH_BAND_SELECTS}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bucket = b.bucket
          AND a.doc_id < b.doc_id),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
          FROM cand c
          JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
          GROUP BY c.id_a, c.id_b)
SELECT i.id_a, i.id_b,
       CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
FROM inter i JOIN sz sa ON i.id_a = sa.doc_id
             JOIN sz sb ON i.id_b = sb.doc_id
WHERE CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) >= 0.2
""")
def q_dedup_minhash(spark, sf_dir):
    """MinHash+LSH near-dup pairs, Jaccard-verified — the 100 TB dedup path
    (shingle→minhash→band→bucket-join), run with the engine-portable md5
    hash family so the ENTIRE pipeline (signatures, banding, candidate
    join, verification) is oracle-checked.  The xxhash64 production family
    is identical machinery (~2-3× faster) and is recall-asserted vs exact
    jaccard_pairs in tests."""
    (docs,) = _t(spark, sf_dir, "documents")
    return TD.dedup_minhash(docs, num_hashes=_MH_K, bands=_MH_BANDS,
                            threshold=0.2, seed=0, hash_family="md5")


@query("q_dedup_incremental", f"""
WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
       FROM toks, unnest(range(1, len(w)-1)) AS u(i)),
sig AS (SELECT doc_id,
       {_MH_AGGS}
       FROM sh GROUP BY doc_id),
bands AS (
  {_MH_BAND_SELECTS})
SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_index
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bucket = b.bucket
WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
""")
def q_dedup_incremental(spark, sf_dir):
    """Incremental ingest dedup: new batch (doc_id % 5 = 0) probes the
    persisted LSH band index of the historical corpus (doc_id % 5 ≠ 0) —
    (text/dedup.py:minhash_band_table + lsh_probe).  Signatures are
    per-document, so batch-built and corpus-built indexes are identical;
    the probe is an equi-join that shuffles only the new batch when the
    index is stored bucketed on (band, bucket).  md5 family so the oracle
    replays the exact index + probe."""
    (docs,) = _t(spark, sf_dir, "documents")
    # Signatures are PER-DOCUMENT (the property the incremental claim
    # rests on), so the batch and index band rows are the same rows a
    # single corpus-wide band table yields — build the signature
    # pipeline ONCE and split it, exactly as the oracle's shared
    # ``bands`` CTE does, instead of paying the shingle→md5→64-min
    # aggregation twice (guide §1.2: don't compute things twice;
    # measured 3.6 → ~2 s at sf0.1).  ``cache`` so the two filtered
    # sides read one materialization (docs × bands tiny rows).
    bt = TD.minhash_band_table(docs, num_hashes=_MH_K, bands=_MH_BANDS,
                               seed=0, hash_family="md5").cache()
    nb = bt.where(F.col("doc_id") % 5 == 0)
    ib = bt.where(F.col("doc_id") % 5 != 0)
    return TD.lsh_probe(nb, ib)


def _sim_vote(b):
    ci, shift = b // 4 + 1, 3 - b % 4
    return ("sum(CASE WHEN ((strpos('0123456789abcdef', substring(md5(t), "
            f"{ci}, 1)) - 1) >> {shift}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}")


_SIM_VOTES = ",\n       ".join(_sim_vote(b) for b in range(64))
_SIM_BITS = " || ".join(
    f"CASE WHEN v{b} > 0 THEN '1' ELSE '0' END" for b in range(64))
_SIM_HAM = " + ".join(
    f"CASE WHEN substring(a.s, {i}, 1) <> substring(b.s, {i}, 1) "
    "THEN 1 ELSE 0 END" for i in range(1, 65))


@query("q_dedup_simhash", f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
             FROM documents),
sig AS (SELECT doc_id,
       {_SIM_VOTES}
       FROM tok GROUP BY doc_id),
blocked AS (SELECT doc_id, {_SIM_BITS} AS s FROM sig)
SELECT id_a, id_b, hamming FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         {_SIM_HAM} AS hamming
  FROM blocked a JOIN blocked b
    ON substring(a.s, 1, 8) = substring(b.s, 1, 8)
   AND a.doc_id < b.doc_id)
WHERE hamming <= 12
""")
def q_dedup_simhash(spark, sf_dir):
    """SimHash fingerprint near-dup pairs (prefix-blocked Hamming join),
    md5 hash family: the oracle rebuilds every signature bit from
    ``md5(token)`` hex chars and the Hamming filter char-by-char.  The
    xxhash64 production variant (bit-parallel XOR + bit_count) is the same
    algorithm, pytest-covered."""
    (docs,) = _t(spark, sf_dir, "documents")
    return TD.simhash_near_dups_md5(docs, max_hamming=12, prefix_bits=8)


@query("q_knn_cosine", """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) AS score
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY score DESC, vec_id
LIMIT 5
""")
def q_knn_cosine(spark, sf_dir):
    """Brute-force cosine top-k (the Neighbors widget shape,
    owneighbors.py): query vector folded into the plan, one scan."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return K.knn_brute_force(emb.filter(F.col("vec_id") != 0),
                             [float(x) for x in qv], k=5)


@query("q_neardup_cosine", """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[])) AS score
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.4
""")
def q_neardup_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs: broadcast-matmul brute force (one
    n·d broadcast + per-partition BLAS; LSH is the unbounded-scale path,
    tested for recall in tests)."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    return K.neardup_cosine_matmul(emb, threshold=0.4)


@query("q_neardup_cosine_scaled", OR2.neardup_scaled_oracle)
def q_neardup_cosine_scaled(spark, sf_dir):
    """The SCALE path of embedding near-dup: auto-scaled hyperplane LSH
    (similarity/knn.neardup_cosine with n_planes="auto" — plane count
    grows log2(n) so expected bucket size, and with it the candidate
    pair volume, stays bounded as the corpus grows; the fixed-plane
    variant measured sf1 exponent 1.73, this is the registered cure).
    Two hash tables unioned for recall; emits the top-20 colliding
    pairs by exact cosine (fixed-point) so the output is non-empty and
    deterministic at every SF.  The oracle derives the identical plane
    set from a DuckDB count and replays signatures, bucket join, and
    the mirrored cosine op tree in SQL."""
    from orange3_spark.plans.oracle_replay import (NEARDUP_QSCALE,
                                                   NEARDUP_SCALED)

    (emb,) = _t(spark, sf_dir, "embeddings")
    P = NEARDUP_SCALED
    pairs = K.neardup_cosine(emb.where(F.col("embedding").isNotNull()),
                             threshold=-1.0, n_planes="auto",
                             n_tables=P["n_tables"], seed=P["seed"])
    return (pairs.select(
                "id_a", "id_b",
                F.floor(F.col("score") * F.lit(float(NEARDUP_QSCALE))
                        + F.lit(0.5)).cast("long").alias("score_q"))
            .orderBy(F.desc("score_q"), "id_a", "id_b").limit(P["k"]))


@query("q_top_ngrams", """
WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+1], ' ') AS shingle
       FROM toks, unnest(range(1, len(w))) AS u(i)),
counts AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
SELECT shingle, df FROM counts ORDER BY df DESC, shingle LIMIT 20
""")
def q_top_ngrams(spark, sf_dir):
    """Corpus-wide top-20 bigrams by document frequency (vocabulary /
    boilerplate probe): shingle explode + one combined count shuffle."""
    (docs,) = _t(spark, sf_dir, "documents")
    return TA.top_ngrams(docs, n=2, k=20)


@query("q_redact", """
SELECT doc_id,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '[0-9]{3}[- .][0-9]{3,4}[- .][0-9]{4}', '<PHONE>', 'g'),
           '[0-9]+', '<NUM>', 'g')) AS fp
FROM documents
""")
def q_redact(spark, sf_dir):
    """PII scrubbing pass (emails → phones → numbers) — ordered row-local
    regexp chain; output fingerprinted for the compare."""
    (docs,) = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.md5(TA.redact("text")).alias("fp"))


_DUP_CLUSTERS_SQL = """
WITH RECURSIVE
toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
       FROM toks, unnest(range(1, len(w)-1)) AS u(i)),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
pairs AS (SELECT id_a, id_b
          FROM p JOIN sz sa ON p.id_a = sa.doc_id
                 JOIN sz sb ON p.id_b = sb.doc_id
          WHERE inter / (sa.sz + sb.sz - inter) >= 0.2),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
walk (id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.lbl FROM edges e JOIN walk w ON e.dst = w.id)
SELECT id AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY id
"""


@query("q_dup_clusters", _DUP_CLUSTERS_SQL)
def q_dup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: connected components over the Jaccard pair graph
    (driver union-find while the pair list is ``session.fetch_local``-
    sized — the path this data size takes); the oracle is a recursive
    CTE."""
    (docs,) = _t(spark, sf_dir, "documents")
    pairs = TD.jaccard_pairs(docs, n=3, threshold=0.2)
    return TD.dup_clusters(pairs)


@query("q_dup_clusters_distributed", _DUP_CLUSTERS_SQL)
def q_dup_clusters_distributed(spark, sf_dir):
    """Same clusters, but FORCING the distributed min-label-propagation
    loop with pointer jumping (text/dedup.py:dup_clusters_distributed)
    — the branch that actually runs past the fetch cap at 100 TB,
    hash-graded against the same recursive-CTE oracle so the scale path
    has first-class correctness evidence, not just the driver union-find
    shortcut."""
    (docs,) = _t(spark, sf_dir, "documents")
    pairs = TD.jaccard_pairs(docs, n=3, threshold=0.2)
    return TD.dup_clusters_distributed(pairs)


@query("q_leakage_safe_split", """
WITH RECURSIVE
toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
       FROM toks, unnest(range(1, len(w)-1)) AS u(i)),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
pairs AS (SELECT id_a, id_b
          FROM p JOIN sz sa ON p.id_a = sa.doc_id
                 JOIN sz sb ON p.id_b = sb.doc_id
          WHERE inter / (sa.sz + sb.sz - inter) >= 0.2),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
walk (id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.lbl FROM edges e JOIN walk w ON e.dst = w.id),
comp AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY id),
rep AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS r
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
SELECT doc_id,
       CASE WHEN substring(md5(CAST(r AS VARCHAR) || 's'), 1, 8)
                 < '4ccccccc' THEN 'holdout' ELSE 'train' END AS split
FROM rep
""")
def q_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/holdout split (text/pipeline.py:
    leakage_safe_split): membership hashes the duplicate-cluster
    REPRESENTATIVE, so a near-dup component moves to one side wholly —
    per-doc hashing would put a doc in train and its near-twin in holdout
    and inflate eval.  Oracle replays components (recursive CTE) + the md5
    threshold split exactly."""
    from orange3_spark.text.pipeline import leakage_safe_split_labeled
    (docs,) = _t(spark, sf_dir, "documents")
    pairs = TD.jaccard_pairs(docs, n=3, threshold=0.2)
    # single lineage (guide §1.2): the two-frame view would run the
    # docs⋈clusters broadcast join + doc scan once per unioned branch;
    # the labeled frame is the identical (doc_id, split) row set in one
    # pass — 'train' rows are exactly the ~__hold rows of the old union
    return leakage_safe_split_labeled(
        docs, pairs, holdout_fraction=0.3, salt="s").select(
            "doc_id", "split")


@query("q_fingerprint", """
SELECT doc_id, md5(array_to_string(string_split(text, ' '), ' ')) AS fp
FROM documents
""")
def q_fingerprint(spark, sf_dir):
    """Content fingerprint — md5 variant for cross-engine comparability
    (engine default is xxhash64, same plumbing)."""
    (docs,) = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.md5(F.array_join(TA.tokens("text"), " ")).alias("fp"))


@query("q_knn_ivf", f"""
WITH {lloyd_cte(8, 2)},
cfm AS (SELECT cl, list(m ORDER BY i) AS cv FROM (
         SELECT cl, i, floor(sum(qv[i]) / count(*) + 0.5) AS m
         FROM wf, unnest(generate_series(1, len(qv))) g(i)
         GROUP BY cl, i) s
       GROUP BY cl),
cf AS (SELECT prev.cl, coalesce(cfm.cv, prev.cv) AS cv
       FROM c_1 prev LEFT JOIN cfm ON prev.cl = cfm.cl),
q AS (SELECT vec_id AS qid, qv FROM pts WHERE vec_id < 3),
pr AS (SELECT qid, qv, cl,
              row_number() OVER (PARTITION BY qid
                                 ORDER BY list_distance(qv, cv), cl) AS crn
       FROM q CROSS JOIN cf),
probes AS (SELECT qid, qv, cl FROM pr WHERE crn <= 2),
cand AS (SELECT p.qid, w.vec_id AS id_b,
                list_distance(p.qv, w.qv) / 1000000.0 AS dist
         FROM probes p JOIN wf w ON w.cl = p.cl AND w.vec_id <> p.qid),
rk AS (SELECT qid, id_b, dist,
              row_number() OVER (PARTITION BY qid
                                 ORDER BY dist, id_b) AS rank
       FROM cand)
SELECT qid, rank, id_b,
       floor(dist * 1000000.0 + 0.5) / 1000000.0 AS dist
FROM rk WHERE rank <= 3 ORDER BY qid, rank
""")
def q_knn_ivf(spark, sf_dir):
    """IVF approximate nearest neighbors (similarity/knn.py:ivf_knn): the
    deterministic-Lloyd coarse quantizer assigns cells, queries probe their
    2 nearest of 8 cells, exact distances only against probed candidates —
    an equi-join on cell id, never a cross join.  Index build, centroid
    refresh, and every distance run on the integer grid (exact int64
    sums), so the whole pipeline is oracle-replayed bit-for-bit."""
    from orange3_spark.similarity.knn import ivf_knn
    (emb,) = _t(spark, sf_dir, "embeddings")
    out = ivf_knn(emb, emb.where(F.col("vec_id") < 3), k=3,
                  n_cells=8, nprobe=2, n_iter=2)
    return (out.select("qid", "rank", "id_b",
                       (F.floor(F.col("dist") * 1000000.0 + 0.5)
                        / 1000000.0).alias("dist"))
               .orderBy("qid", "rank"))


@query("q_fingerprint_winnow", """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
g AS (SELECT doc_id, i - 1 AS pos,
             CAST('0x' || substring(
                 md5(array_to_string(tk[i:i+2], ' ')), 1, 8) AS BIGINT) AS h
      FROM toks, unnest(range(1, len(tk) - 3 + 2)) u(i)),
p AS (SELECT doc_id, pos,
             h * 1048576 + (1048575 - pos % 1048576) AS pk FROM g),
s AS (SELECT doc_id, pos,
             min(pk) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
      FROM p),
f AS (SELECT DISTINCT doc_id,
             wmin // 1048576 AS fp_hash,
             1048575 - (wmin % 1048576) AS fp_pos
      FROM s WHERE pos >= 3)
SELECT doc_id, count(*) AS n_fp,
       CAST(sum(fp_hash) AS BIGINT) AS fp_checksum,
       CAST(sum(fp_pos) AS BIGINT) AS pos_checksum
FROM f GROUP BY doc_id
""")
def q_fingerprint_winnow(spark, sf_dir):
    """Winnowing fingerprints (MOSS, Schleimer et al. 2003) with k=3 grams
    and w=4 windows: rightmost-minimal hash per window via ONE packed-
    bigint windowed min (text/dedup.py:winnow_fingerprints).  Per-doc
    fingerprint count + hash/pos checksums pin the exact selection; the
    engine-portable md5 family makes the full pipeline oracle-checkable."""
    (docs,) = _t(spark, sf_dir, "documents")
    fp = TD.winnow_fingerprints(docs, k=3, w=4, hash_family="md5")
    return (fp.groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_fp"),
                   F.sum("fp_hash").cast("long").alias("fp_checksum"),
                   F.sum("fp_pos").cast("long").alias("pos_checksum")))


@query("q_dedup_semantic", f"""
WITH {lloyd_cte(8, 2)},
prs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cl AS cluster,
               list_inner_product(a.qv, b.qv)
                 / (sqrt(list_inner_product(a.qv, a.qv))
                    * sqrt(list_inner_product(b.qv, b.qv))) AS cosq
        FROM wf a JOIN wf b ON a.cl = b.cl AND a.vec_id < b.vec_id)
SELECT id_a, id_b, cluster,
       floor(cosq * 1000000.0 + 0.5) / 1000000.0 AS cos
FROM prs WHERE cosq >= 0.4
""")
def q_dedup_semantic(spark, sf_dir):
    """SemDeDup semantic near-dup pairs (similarity/knn.py:semantic_dedup):
    deterministic k-means quantizer as the blocking function, cosine
    pruning within clusters only.  Fit, cosines, and the threshold test
    all run on the integer grid (exact sums — see semantic_dedup's
    exactness note), so the oracle replays every stage bit-for-bit: the
    shared Lloyd CTEs plus an inner-product cosine on the quantized
    vectors."""
    from orange3_spark.similarity.knn import semantic_dedup

    (emb,) = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, "vec_id", "embedding", k=8, n_iter=2,
                         threshold=0.4)
    return out.select("id_a", "id_b", "cluster",
                      (F.floor(F.col("cos") * 1000000.0 + 0.5)
                       / 1000000.0).alias("cos"))


@query("q_text_repetition", """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
g AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS gram
      FROM toks, unnest(generate_series(1, len(tk) - 1)) u(i)
      WHERE len(tk) >= 2),
c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
r AS (SELECT doc_id, gram, c,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY c DESC, gram) AS rn,
             sum(c) OVER (PARTITION BY doc_id) AS n_grams,
             count(*) OVER (PARTITION BY doc_id) AS n_distinct
      FROM c)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       1.0 - CAST(n_distinct AS DOUBLE) / n_grams AS dup_gram_fraction,
       gram AS top_gram,
       CAST(c AS DOUBLE) / n_grams AS top_gram_share
FROM r WHERE rn = 1
""")
def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): per-doc
    duplicate-bigram fraction and modal-bigram coverage — the standard
    'repetitious documents are low quality' signals of LLM data pipelines
    (text/analysis.py:repetition_stats).  Pure grouped counts + a per-doc
    window over the count table; exact integer ratios, so the oracle
    hash-matches bit-for-bit."""
    (docs,) = _t(spark, sf_dir, "documents")
    return TA.repetition_stats(docs, n=2)


@query("q_decontaminate", """
WITH tr AS (SELECT doc_id, string_split(text, ' ') AS tk
            FROM documents WHERE doc_id % 20 <> 0),
bm AS (SELECT string_split(text, ' ') AS tk
       FROM documents WHERE doc_id % 20 = 0),
tg AS (SELECT DISTINCT doc_id,
              array_to_string(tk[i:i+4], ' ') AS shingle
       FROM tr, unnest(generate_series(1, len(tk) - 4)) u(i)),
bg AS (SELECT DISTINCT array_to_string(tk[i:i+4], ' ') AS shingle
       FROM bm, unnest(generate_series(1, len(tk) - 4)) u(i))
SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
FROM tg JOIN bg USING (shingle)
GROUP BY tg.doc_id
""")
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 §C / PaLM / Llama n-gram-overlap
    rule): training docs sharing any 5-gram with a held-out benchmark
    corpus are flagged with their distinct-hit count
    (text/pipeline.py:decontaminate).  One equi-join on the gram key —
    the benchmark side is eval-suite-sized, so Catalyst broadcasts it;
    never a cross join.  Here every 20th document stands in as the
    benchmark."""
    from orange3_spark.text.pipeline import decontaminate

    (docs,) = _t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 20 != 0)
    bench = docs.where(F.col("doc_id") % 20 == 0)
    _, contaminated = decontaminate(train, bench, n=5)
    return contaminated.select("doc_id", "n_shared_grams")


_STOP_EN = "['the','and','of','to','a','in','is','it','you','that']"

@query("q_training_pipeline", f"""
WITH RECURSIVE
q AS (SELECT doc_id, text FROM documents
      WHERE len(string_split(text, ' ')) BETWEEN 10 AND 100000
        AND CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
              / greatest(length(text), 1) <= 0.2
        AND CAST(len(list_filter(string_split(text, ' '),
                 t -> list_contains({_STOP_EN}, lower(t)))) AS DOUBLE)
              / greatest(len(string_split(text, ' ')), 1) >= 0.01),
ex AS (SELECT min(doc_id) AS doc_id FROM q
       GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')),
d AS (SELECT q.doc_id, q.text FROM q JOIN ex USING (doc_id)),
toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
       FROM toks, unnest(range(1, len(w) - 1)) AS u(i)),
sig AS (SELECT doc_id,
       {{mh_aggs}}
       FROM sh GROUP BY doc_id),
bands AS (
  {{mh_bands}}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bucket = b.bucket
          AND a.doc_id < b.doc_id),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
          FROM cand c
          JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
          GROUP BY c.id_a, c.id_b),
p AS (SELECT i.id_a, i.id_b FROM inter i
      JOIN sz sa ON i.id_a = sa.doc_id JOIN sz sb ON i.id_b = sb.doc_id
      WHERE CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) >= 0.8),
e AS (SELECT id_a AS src, id_b AS dst FROM p
      UNION ALL SELECT id_b, id_a FROM p),
reach AS (SELECT doc_id AS id, doc_id AS r FROM d
          UNION
          SELECT e.src AS id, reach.r FROM e JOIN reach ON e.dst = reach.id),
lab AS (SELECT id, min(r) AS cl FROM reach GROUP BY id),
keep AS (SELECT lab.id AS doc_id FROM lab WHERE lab.cl = lab.id),
sp AS (SELECT doc_id,
              CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || 'holdout'),
                                  1, 8) < '0ccccccc'
                   THEN 'holdout' ELSE 'train' END AS split
       FROM keep)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM sp GROUP BY split
""".replace("{mh_aggs}", _MH_AGGS).replace("{mh_bands}", _MH_BAND_SELECTS))
def q_training_pipeline(spark, sf_dir):
    """END-TO-END training-data preparation (text/pipeline.py:
    prepare_training_data): Gopher/C4 quality gate → exact dedup (lowest
    id per normalized text) → MinHash-LSH near-dup pruning (one survivor
    per duplicate component) → reproducible content-hash holdout carve.
    The oracle replays EVERY stage — quality predicates, dedup winners,
    the full md5-family minhash (signatures, banding, candidate join,
    Jaccard≥0.8 verification), connected components as a recursive CTE,
    and the holdout hash — and checks split sizes + id checksums, so a
    drift anywhere in the five-operator composition breaks the hash.
    (Engine production default is the xxhash64 family; the md5 family is
    the engine-portable twin, same plumbing — q_dedup_minhash pins their
    shared pipeline.)"""
    from orange3_spark.text.pipeline import prepare_training_data_labeled

    (docs,) = _t(spark, sf_dir, "documents")
    # seed=0 matches the shared _MH_AGGS oracle family (h1 + k*h2);
    # the engine's default seed=42 is a DIFFERENT (equally valid) family
    # whose banding misses a different set of borderline pairs — caught
    # by an sf0.1 cross-check where the two families' candidate sets
    # first diverged
    labeled = prepare_training_data_labeled(
        docs, holdout_fraction=0.05, jaccard_threshold=0.8,
        hash_family="md5", minhash_seed=0)
    return (labeled.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").cast("long").alias("id_checksum")))


@query("q_text_bm25", OR2.bm25_oracle)
def q_text_bm25(spark, sf_dir):
    """BM25 keyword retrieval (text/bm25.py — not in the reference; the
    pipeline op for scoring a corpus against a query): exact-integer
    tf/df/length statistics, driver-embedded idf literals, fixed-order
    codegen score chain, deterministic (qscore, doc_id) top-n.  The
    oracle is a true SQL mirror — DuckDB re-tokenizes, re-counts and
    re-ranks with the identical double literals."""
    from orange3_spark.text.bm25 import bm25_scores

    P = OR2.BM25_PARAMS
    (docs,) = _t(spark, sf_dir, "documents")
    scored = bm25_scores(docs, list(P["terms"]), k1=P["k1"], b=P["b"])
    return (scored.select(
                "doc_id", "doc_len",
                F.floor(F.col("score") * F.lit(OR2.BM25_QSCALE)
                        + F.lit(0.5)).cast("long").alias("qscore"))
            .orderBy(F.col("qscore").desc(), "doc_id")
            .limit(P["top_n"]))


@query("q_mix_sources", OR2.mix_oracle)
def q_mix_sources(spark, sf_dir):
    """Data mixing toward target source proportions
    (text/pipeline.mix_sources — the LLM "data mixture" step, absent in
    the reference): solve the largest feasible total from exact
    per-source counts, keep rows by a content-hash threshold per source.
    Membership is a pure function of (doc_id, salt), so the oracle
    (plans/oracle_replay.mix_oracle) mirrors the whole step — counts,
    shared threshold arithmetic, md5 predicate — in SQL, and the driver
    hash-checks the kept set per source."""
    from orange3_spark.text.pipeline import mix_sources

    P = OR2.MIX_PARAMS
    (docs,) = _t(spark, sf_dir, "documents")
    kept = mix_sources(docs, P["target"], salt=P["salt"])
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id"))
            .orderBy("source"))


@query("q_pack_sequences", """
WITH t AS (SELECT doc_id,
                  CAST(len(list_filter(string_split(trim(text), ' '),
                                       x -> x <> '')) AS BIGINT) AS n_tokens,
                  CAST(CAST(concat('0x', substring(
                      md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16
                      AS INT) AS bucket
           FROM documents),
p AS (SELECT bucket, doc_id, n_tokens,
             CAST(floor(CAST(COALESCE(sum(n_tokens) OVER (
                 PARTITION BY bucket ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS DOUBLE) / 512.0) AS BIGINT) AS seq_id
      FROM t)
SELECT bucket, CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS tokens,
       CAST(max(seq_id) AS BIGINT) AS max_seq
FROM p GROUP BY bucket ORDER BY bucket
""")
def q_pack_sequences(spark, sf_dir):
    """Sequence packing (text/packing.py — the pretraining prep step the
    reference lacks): bucket-parallel sequential fill of documents into
    ~512-token sequences via one partitioned window cumsum, all exact
    integers.  The oracle mirrors tokenization, the md5 bucket hash, the
    window cumsum and the floor split in SQL."""
    from orange3_spark.text.packing import pack_sequences

    (docs,) = _t(spark, sf_dir, "documents")
    packed = pack_sequences(docs, target_tokens=512, n_buckets=16)
    return (packed.groupBy("bucket")
            .agg(F.countDistinct("seq_id").alias("n_seqs"),
                 F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("tokens"),
                 F.max("seq_id").alias("max_seq"))
            .orderBy("bucket"))


@query("q_repeated_spans", """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS s
       FROM toks, unnest(range(1, len(w) - 3)) AS u(i)
       WHERE len(w) >= 5),
short AS (SELECT DISTINCT doc_id, array_to_string(w, ' ') AS s
          FROM toks WHERE len(w) < 5),
allsh AS (SELECT * FROM sh UNION SELECT * FROM short),
dfreq AS (SELECT s, count(*) AS df FROM allsh GROUP BY s),
tot AS (SELECT doc_id, count(*) AS n_spans FROM allsh GROUP BY doc_id),
shr AS (SELECT a.doc_id, count(*) AS n_shared
        FROM allsh a JOIN dfreq d ON a.s = d.s AND d.df >= 2
        GROUP BY a.doc_id),
p AS (SELECT t.doc_id, t.n_spans, COALESCE(shr.n_shared, 0) AS n_shared
      FROM tot t LEFT JOIN shr ON t.doc_id = shr.doc_id)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_spans) AS BIGINT) AS spans_total,
       CAST(sum(n_shared) AS BIGINT) AS shared_total,
       CAST(sum(CASE WHEN n_shared * 2 >= n_spans THEN 1 ELSE 0 END)
            AS BIGINT) AS flagged_docs
FROM p
""")
def q_repeated_spans(spark, sf_dir):
    """Cross-document repeated-span statistics (Lee et al. 2022 span
    dedup signal; text/dedup.repeated_span_stats): distinct 5-gram spans
    per doc, span document frequency, per-doc shared counts — exact
    integers end to end; docs with ≥half their spans shared are flagged.
    The oracle replays the shingle/df/join CTEs in SQL."""
    from orange3_spark.text.dedup import repeated_span_stats

    (docs,) = _t(spark, sf_dir, "documents")
    stats = repeated_span_stats(docs, n=5, min_df=2)
    return stats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_spans").alias("spans_total"),
        F.sum("n_shared").alias("shared_total"),
        F.sum(((F.col("n_shared") * 2) >= F.col("n_spans"))
              .cast("long")).alias("flagged_docs"))


@query("q_hard_negatives", """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings
           WHERE embedding IS NOT NULL AND label IS NOT NULL),
p AS (SELECT a.vec_id AS id, b.vec_id AS neg_id,
             list_cosine_similarity(a.v, b.v) AS score
      FROM e a JOIN e b ON a.label <> b.label),
r AS (SELECT id, neg_id, score,
             row_number() OVER (PARTITION BY id
                 ORDER BY score DESC, neg_id) AS rn
      FROM p)
SELECT id AS vec_id, neg_id, score FROM r WHERE rn <= 3
""")
def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining (similarity/knn.hard_negatives — the
    contrastive-training prep step the reference lacks): per vector, the
    3 most-cosine-similar different-label vectors, scored with one
    fixed-shape matvec per probe row (batch-independent) and selected by
    (score desc, id).  The oracle replays the full different-label join
    + ranked window in SQL; raw-score doubles survive the driver's
    canonicalization."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    return K.hard_negatives(emb, k=3)


@query("q_hard_negatives_blocked", f"""
WITH {lloyd_cte(8, 2, label=True)},
cfm AS (SELECT cl, list(m ORDER BY i) AS cv FROM (
         SELECT cl, i, floor(sum(qv[i]) / count(*) + 0.5) AS m
         FROM wf, unnest(generate_series(1, len(qv))) g(i)
         GROUP BY cl, i) s
       GROUP BY cl),
cf AS (SELECT prev.cl, coalesce(cfm.cv, prev.cv) AS cv
       FROM c_1 prev LEFT JOIN cfm ON prev.cl = cfm.cl),
q AS (SELECT vec_id AS qid, label AS lab_q, qv,
             list_inner_product(qv, qv) AS na2 FROM wf),
pr AS (SELECT qid, lab_q, qv, na2, cl,
              row_number() OVER (PARTITION BY qid
                                 ORDER BY list_distance(qv, cv), cl) AS crn
       FROM q CROSS JOIN cf),
probes AS (SELECT qid, lab_q, qv, na2, cl FROM pr WHERE crn <= 2),
cand AS (SELECT p.qid, w.vec_id AS neg_id,
                list_inner_product(p.qv, w.qv)
                / (sqrt(p.na2)
                   * sqrt(list_inner_product(w.qv, w.qv))) AS score
         FROM probes p JOIN wf w ON w.cl = p.cl
         WHERE w.label <> p.lab_q),
rk AS (SELECT qid, neg_id, score,
              row_number() OVER (PARTITION BY qid
                                 ORDER BY score DESC, neg_id) AS rn
       FROM cand)
SELECT qid AS vec_id, neg_id, score FROM rk WHERE rn <= 3
ORDER BY vec_id, neg_id
""")
def q_hard_negatives_blocked(spark, sf_dir):
    """Hard-negative mining, IVF-BLOCKED scale path
    (similarity/knn.hard_negatives_blocked — what hard_negatives falls
    back to past its broadcast bound): the deterministic-Lloyd coarse
    quantizer blocks candidates, each query scores only its 2 nearest
    of 8 cells, cosines run on the integer grid (exact int64 dot/norms,
    one divide over two sqrts), so the approximate pipeline is
    nonetheless bit-replayable — the oracle re-runs fit, centroid
    refresh, probe selection, and scoring in SQL."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    out = K.hard_negatives_blocked(emb, k=3, n_cells=8, nprobe=2,
                                   n_iter=2)
    return out.orderBy("vec_id", "neg_id")


@query("q_lm_score", """
WITH tk AS (SELECT doc_id, lang,
                   list_filter(string_split(trim(text), ' '),
                               x -> x <> '') AS t
            FROM documents),
bg AS (SELECT doc_id, lang, t[i] AS w1, t[i + 1] AS w2
       FROM tk, unnest(generate_series(1, len(t) - 1)) g(i)),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg WHERE lang = 'en'
       GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c1 FROM bg WHERE lang = 'en' GROUP BY 1),
v AS (SELECT count(DISTINCT x) AS v
      FROM (SELECT unnest(t) AS x FROM tk WHERE lang = 'en')),
sc AS (SELECT b.doc_id,
              ((COALESCE(c2.c2, 0) + 1) * 1000000)
                  // (COALESCE(c1.c1, 0) + v.v) AS pq
       FROM bg b
       LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
       LEFT JOIN c1 ON b.w1 = c1.w1
       CROSS JOIN v),
lm AS (SELECT doc_id, CAST(sum(pq) AS BIGINT) // count(*) AS lm_q
       FROM sc GROUP BY doc_id)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(lm.lm_q) AS BIGINT) AS n_scored,
       CAST(sum(COALESCE(lm.lm_q, 0)) AS BIGINT) AS sum_lm,
       CAST(sum(CASE WHEN lm.lm_q < 34500 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_low
FROM documents d LEFT JOIN lm ON d.doc_id = lm.doc_id
GROUP BY d.source ORDER BY d.source
""")
def q_lm_score(spark, sf_dir):
    """CCNet-style LM quality filter (text/lm.py — fit an add-one bigram
    LM on the trusted `lang='en'` slice, score every doc by exact-integer
    mean bigram likelihood): per-source doc counts, scored counts, score
    checksum and the count below the 0.0345 filter threshold.  Every value
    is an exact integer (``(c2+1)·1e6 DIV (c1+V)`` per bigram, integer
    mean per doc), so the oracle is a full SQL mirror — DuckDB refits the
    model and rescores the corpus."""
    from orange3_spark.text.lm import bigram_lm_scores

    (docs,) = _t(spark, sf_dir, "documents")
    lm = bigram_lm_scores(docs, train_filter=F.col("lang") == "en")
    return (docs.join(lm, "doc_id", "left")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count("lm_q").alias("n_scored"),
                 F.sum(F.coalesce(F.col("lm_q"), F.lit(0)))
                 .cast("long").alias("sum_lm"),
                 F.sum(F.when(F.col("lm_q") < 34500, 1).otherwise(0))
                 .cast("long").alias("n_low"))
            .orderBy("source"))


def _pq_cte(m: int = 4, sub: int = 16, k: int = 16, *,
            src: str | None = None, col: str = "qv") -> str:
    """DuckDB CTE chain replaying ``similarity/pq.pq_fit`` (m=4, k=16,
    n_iter=2) exactly: quantize → per-subspace slice → first-k init →
    one integer-mean Lloyd update → final assignment per subspace as
    ``wfs{j}(vec_id, cl)`` with centroids ``c1s{j}(cl, cv)``.  Same
    exactness argument as ``queries_ml.lloyd_cte`` — all values are
    integers on the LLOYD_SCALE grid.  ``src``/``col`` retarget the
    chain at a prior CTE with pre-quantized vectors (the IVF-PQ
    residual table); default quantizes ``embeddings`` itself."""
    parts = []
    if src is None:
        parts.append("""pts AS (SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> floor(x * 1000000.0 + 0.5)) AS qv
  FROM embeddings)""")
        src = "pts"
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(f"""p{j} AS (SELECT vec_id, list_slice({col}, {lo}, {hi}) AS sv FROM {src}),
c0s{j} AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, sv AS cv
  FROM p{j} ORDER BY vec_id LIMIT {k}),
w1s{j} AS (SELECT vec_id, sv, cl FROM (
    SELECT p.vec_id, p.sv, c.cl,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY list_distance(p.sv, c.cv), c.cl) AS rn
    FROM p{j} p CROSS JOIN c0s{j} c) s WHERE rn = 1),
cm1s{j} AS (SELECT cl, list(mu ORDER BY i) AS cv FROM (
    SELECT cl, i, floor(sum(sv[i]) / count(*) + 0.5) AS mu
    FROM w1s{j}, unnest(generate_series(1, len(sv))) g(i)
    GROUP BY cl, i) s GROUP BY cl),
c1s{j} AS (SELECT prev.cl, coalesce(cm.cv, prev.cv) AS cv
  FROM c0s{j} prev LEFT JOIN cm1s{j} cm ON prev.cl = cm.cl),
wfs{j} AS (SELECT vec_id, cl FROM (
    SELECT p.vec_id, c.cl,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY list_distance(p.sv, c.cv), c.cl) AS rn
    FROM p{j} p CROSS JOIN c1s{j} c) s WHERE rn = 1)""")
    return ",\n".join(parts)


@query("q_pq_codes", f"""
WITH {_pq_cte()},
u AS ({" UNION ALL ".join(
    f"SELECT CAST({j} AS INT) AS subspace, cl AS code, vec_id FROM wfs{j}"
    for j in range(4))})
SELECT subspace, CAST(code AS INT) AS code,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(vec_id) AS BIGINT) AS id_checksum
FROM u GROUP BY subspace, code ORDER BY subspace, code
""")
def q_pq_codes(spark, sf_dir):
    """Product-quantization encoding (similarity/pq.pq_fit — m=4
    subspaces × k=16 codes over the 64-dim embedding, deterministic
    integer-grid Lloyd per subspace, all subspaces fit in one Arrow scan
    per round): per-(subspace, code) population + id checksum, so a
    single flipped code anywhere breaks the hash.  The oracle refits all
    four sub-quantizers from scratch in SQL (``_pq_cte``)."""
    from orange3_spark.similarity.pq import pq_fit

    (emb,) = _t(spark, sf_dir, "embeddings")
    encoded, _ = pq_fit(emb, "vec_id", array_col="embedding",
                        m=4, k=16, n_iter=2)
    out = (encoded.selectExpr("vec_id",
                              "posexplode(codes) AS (subspace, code)")
           .groupBy("subspace", "code")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("vec_id").cast("long").alias("id_checksum"))
           .orderBy("subspace", "code"))
    # keep the quantized cache: the returned (lazy) frame's final
    # assignment reads it, and the grading/bench harnesses clearCache()
    # between queries (same contract as q_ml_kmeans's lloyd cache);
    # library callers release via encoded.pq_cache
    out.pq_cache = encoded.pq_cache
    return out


@query("q_pq_adc", f"""
WITH {_pq_cte()},
q AS (SELECT qv FROM pts WHERE vec_id = 0),
{",".join(f'''
qs{j} AS (SELECT list_slice(qv, {j * 16 + 1}, {(j + 1) * 16}) AS sv FROM q),
d{j} AS (SELECT w.vec_id,
         CAST(sum((q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i])) AS BIGINT) AS d
         FROM wfs{j} w JOIN c1s{j} c ON w.cl = c.cl CROSS JOIN qs{j} q,
              unnest(generate_series(1, len(c.cv))) g(i)
         GROUP BY w.vec_id)''' for j in range(4))}
SELECT d0.vec_id, d0.d + d1.d + d2.d + d3.d AS adist
FROM d0 JOIN d1 USING (vec_id) JOIN d2 USING (vec_id)
        JOIN d3 USING (vec_id)
ORDER BY adist, vec_id LIMIT 10
""")
def q_pq_adc(spark, sf_dir):
    """Asymmetric-distance (ADC) top-10 under the PQ codebook
    (similarity/pq.pq_adc_topk): the query's m×k exact-integer distance
    table is built driver-side from the fitted centroids and each row's
    approximate distance is four ``element_at`` lookups on the codes
    column — whole-stage codegen, one scan, no join, no vector reads.
    The oracle refits the codebook in SQL and recomputes every lookup
    from the assignment + centroid tables."""
    from orange3_spark.similarity.pq import pq_adc_topk, pq_fit

    (emb,) = _t(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    encoded, cents = pq_fit(emb, "vec_id", array_col="embedding",
                            m=4, k=16, n_iter=2)
    out = pq_adc_topk(encoded, cents, qv, id_col="vec_id", n=10)
    out.pq_cache = encoded.pq_cache    # harness clearCache() releases
    return out


def _ivfpq_sql(n_cells: int = 16, nprobe: int = 4, m: int = 4,
               sub: int = 16, k: int = 16, topn: int = 10) -> str:
    """Full IVF-PQ replay: coarse Lloyd (``queries_ml.lloyd_cte``) →
    integer residuals → PQ chain over residuals (``_pq_cte``) → probe
    the nprobe nearest cells → ADC from the residual codebooks."""
    from orange3_spark.plans.queries_ml import lloyd_cte

    d_ctes = ",".join(f"""
d{j} AS (SELECT w.vec_id,
         CAST(sum((rq.rqv[{j * sub} + i] - c.cv[i])
                  * (rq.rqv[{j * sub} + i] - c.cv[i])) AS BIGINT) AS d
         FROM wfs{j} w JOIN c1s{j} c ON w.cl = c.cl
              JOIN res r ON r.vec_id = w.vec_id
              JOIN rq ON rq.cell = r.cell,
              unnest(generate_series(1, {sub})) g(i)
         GROUP BY w.vec_id)""" for j in range(m))
    return f"""
WITH {lloyd_cte(n_cells, 2)},
res AS (SELECT s.vec_id, s.cell, list(v ORDER BY i) AS rv FROM (
    SELECT w.vec_id, w.cl AS cell, i, w.qv[i] - c.cv[i] AS v
    FROM wf w JOIN c_1 c ON w.cl = c.cl,
         unnest(generate_series(1, len(w.qv))) g(i)) s
    GROUP BY s.vec_id, s.cell),
{_pq_cte(m, sub, k, src="res", col="rv")},
q AS (SELECT qv FROM pts WHERE vec_id = 0),
prb AS (SELECT cl AS cell, cv FROM (
    SELECT c.cl, c.cv,
           row_number() OVER (ORDER BY list_distance(q.qv, c.cv), c.cl)
               AS rk
    FROM c_1 c CROSS JOIN q) s WHERE rk <= {nprobe}),
rq AS (SELECT s.cell, list(v ORDER BY i) AS rqv FROM (
    SELECT p.cell, i, q.qv[i] - p.cv[i] AS v
    FROM prb p CROSS JOIN q,
         unnest(generate_series(1, len(p.cv))) g(i)) s
    GROUP BY s.cell),
{d_ctes}
SELECT d0.vec_id, {" + ".join(f"d{j}.d" for j in range(m))} AS adist
FROM d0 {" ".join(f"JOIN d{j} USING (vec_id)" for j in range(1, m))}
ORDER BY adist, vec_id LIMIT {topn}
"""


@query("q_ivfpq", _ivfpq_sql())
def q_ivfpq(spark, sf_dir):
    """IVF-PQ approximate nearest neighbors
    (similarity/pq.ivfpq_topk — the production ANN shape at 100 TB):
    deterministic Lloyd coarse cells, product-quantized residuals, and
    asymmetric-distance ranking over the 4 probed cells only — the query
    touches nprobe/n_cells of the corpus and never reads a raw vector.
    All arithmetic on the integer grid; the oracle refits the coarse
    quantizer AND all four residual codebooks from scratch in SQL and
    replays probe selection + every ADC lookup."""
    from orange3_spark.similarity.pq import ivfpq_topk

    (emb,) = _t(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ivfpq_topk(emb, qv, id_col="vec_id", array_col="embedding",
                      n_cells=16, nprobe=4, m=4, k=16, n_iter=2, topn=10)


@query("q_corpus_report", """
WITH base AS (SELECT source,
       CAST(len(list_filter(string_split(trim(text), ' '),
                            x -> x <> '')) AS BIGINT) AS nt,
       CAST(length(text) AS BIGINT) AS nc,
       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
       lang
    FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS total_tokens,
       CAST(sum(nc) AS BIGINT) AS total_chars,
       CAST(count(*) - count(DISTINCT norm) AS BIGINT) AS n_exact_dups,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(CASE WHEN nt < 10 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_short,
       CAST(sum(nt) AS BIGINT) // CAST(count(*) AS BIGINT)
           AS mean_tokens
FROM base GROUP BY source ORDER BY source
""")
def q_corpus_report(spark, sf_dir):
    """Per-source corpus data card (text/pipeline.corpus_report — the
    summary panel a curation run starts from): doc/token/char totals,
    exact-dup pressure (docs minus distinct normalized texts), language
    spread and short-doc counts from ONE grouped aggregation — every
    value an exact integer, mirrored term-for-term in SQL."""
    from orange3_spark.text.pipeline import corpus_report

    (docs,) = _t(spark, sf_dir, "documents")
    return corpus_report(docs).orderBy("source")


def _bpe_cte(k: int = 8) -> str:
    """DuckDB CTE chain replaying ``text/bpe.bpe_fit`` exactly: word
    counts → double-sentinel encoding (module docstring of text/bpe.py)
    → ``k`` rounds of (overlapping pair count, ``ORDER BY c DESC, a, b
    LIMIT 1`` argmax ``m{i}``, literal-``replace`` merge) — ending with
    the fully segmented word table ``w{k}(w, cnt, s)``.  Every statistic
    is an integer count and the merge 'replace' has identical
    left-to-right non-overlapping semantics in both engines, so the
    replay is exact."""
    parts = ["""w0 AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt,
         chr(31)||chr(31)
           || regexp_replace(w, '(.)', concat('\\1', chr(31), chr(31)), 'g')
           || '</w>' || chr(31)||chr(31) AS s
  FROM (SELECT unnest(list_filter(string_split(trim(text), ' '),
                                  x -> x <> '')) AS w
        FROM documents WHERE text IS NOT NULL)
  WHERE NOT contains(w, chr(31))
  GROUP BY w)"""]
    for i in range(k):
        parts.append(f"""p{i} AS (
  SELECT t[i] AS a, t[i + 1] AS b, CAST(sum(cnt) AS BIGINT) AS c
  FROM (SELECT cnt, list_filter(string_split(s, chr(31)||chr(31)),
                                x -> x <> '') AS t FROM w{i}),
       unnest(generate_series(1, len(t) - 1)) g(i)
  GROUP BY 1, 2),
m{i} AS (SELECT CAST({i} AS INT) AS rank, a, b, c FROM p{i}
         ORDER BY c DESC, a ASC, b ASC LIMIT 1),
w{i + 1} AS (
  SELECT w, cnt,
         replace(s, chr(31)||a||chr(31)||chr(31)||b||chr(31),
                 chr(31)||a||b||chr(31)) AS s
  FROM w{i} CROSS JOIN m{i})""")
    return ",\n".join(parts)


@query("q_bpe_vocab", f"""
WITH {_bpe_cte(8)}
SELECT rank, a AS left_sym, b AS right_sym, a || b AS merged,
       CAST(c AS BIGINT) AS cnt
FROM ({" UNION ALL ".join(f"SELECT * FROM m{i}" for i in range(8))})
ORDER BY rank
""")
def q_bpe_vocab(spark, sf_dir):
    """BPE tokenizer training (text/bpe.bpe_fit — Sennrich et al. 2016):
    the first 8 merges fit on the whole corpus, as the ordered merge
    table (rank, pair, merged symbol, weighted count).  The corpus is
    scanned ONCE for word counts; every merge round is one codegen job
    over the cached vocab-bounded word table.  All statistics are exact
    integer counts and ties break on the pair itself, so the DuckDB
    oracle refits the full merge chain from scratch (``_bpe_cte``)."""
    from orange3_spark.text.bpe import bpe_fit

    (docs,) = _t(spark, sf_dir, "documents")
    merges, words = bpe_fit(docs, n_merges=8)
    words.bpe_cache.unpersist()        # merges are collected constants
    return local_frame(
        spark, [(r, a, b, a + b, c) for r, a, b, c in merges],
        "rank int, left_sym string, right_sym string, merged string, "
        "cnt long")


@query("q_bpe_tokenize", f"""
WITH {_bpe_cte(8)},
tok AS (SELECT source, w
        FROM (SELECT source,
                     unnest(list_filter(string_split(trim(text), ' '),
                                        x -> x <> '')) AS w
              FROM documents WHERE text IS NOT NULL)
        WHERE NOT contains(w, chr(31))),
seg AS (SELECT w, len(list_filter(string_split(s, chr(31)||chr(31)),
                                  x -> x <> '')) AS n_sym
        FROM w8)
SELECT tok.source,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(length(tok.w)) AS BIGINT) AS n_chars,
       CAST(sum(seg.n_sym) AS BIGINT) AS n_bpe_tokens
FROM tok JOIN seg ON tok.w = seg.w
GROUP BY tok.source ORDER BY tok.source
""")
def q_bpe_tokenize(spark, sf_dir):
    """Apply a fitted BPE vocab to the corpus (text/bpe.bpe_apply):
    per-source word/char/subword-token totals under the 8-merge vocab of
    q_bpe_vocab.  The replace chain segments only the DISTINCT words
    (|vocab| work, not |corpus|) and joins back by word; the oracle
    refits the chain and recounts every segmentation in SQL."""
    from orange3_spark.text.bpe import bpe_apply, bpe_fit

    (docs,) = _t(spark, sf_dir, "documents")
    merges, words = bpe_fit(docs, n_merges=8)
    words.bpe_cache.unpersist()
    return (bpe_apply(docs, merges, keep=("source",))
            .orderBy("source"))


@query("q_quality_classifier", OR2.quality_clf_oracle)
def q_quality_classifier(spark, sf_dir):
    """Trained quality classifier (text/quality_clf.py — fastText-style
    hashed bag-of-words, Joulin et al. 2017; the GPT-3/CCNet trained
    filter family the reference lacks).  Fit: exact-integer IRLS
    (ml/learners.logistic_irls) on the md5 id-hash training slice with
    weak labels ``lang == 'en'``; score: ONE codegen pass over the full
    corpus (left-associated linear chain, no UDF/join/state).  Output
    is the per-source filter report: docs, actual positives, kept at
    m>0, fixed-point margin checksum.  The oracle refetches the slice,
    refits β bit-for-bit (fit_logistic_irls_matrix twin) and mirrors
    the feature + margin op trees node for node."""
    from orange3_spark.text.quality_clf import (
        quality_clf_fit, quality_clf_score)

    P = OR2.QCLF_PARAMS
    (docs,) = _t(spark, sf_dir, "documents")
    beta = quality_clf_fit(docs, F.col("lang") == P["label_lang"],
                           n_buckets=P["n_buckets"],
                           sample_thr=P["thr"], iters=P["iters"])
    # id_col routes feature counting through the codegen agg featurizer
    # (same integer counts, same division, same margin chain — see
    # quality_clf_score); the extra doc_id column is pruned by the
    # aggregation below
    scored = quality_clf_score(docs, beta, n_buckets=P["n_buckets"],
                               keep=("source", "lang"), id_col="doc_id")
    return (scored
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum((F.col("lang") == P["label_lang"]).cast("long"))
                 .alias("n_pos"),
                 F.sum((F.col("m") > 0).cast("long")).alias("n_keep"),
                 F.sum(F.floor(F.col("m") * F.lit(OR2.QCLF_QSCALE)
                               + F.lit(0.5)).cast("long"))
                 .alias("qmargin_total"))
            .orderBy("source"))


@query("q_cdc_chunks", """
WITH d AS (SELECT source, doc_id,
                  list_filter(string_split(trim(text), ' '),
                              x -> x <> '') AS tk
           FROM documents WHERE text IS NOT NULL),
t AS (SELECT source, doc_id, tk[i] AS tok, i,
             CASE WHEN i >= 3 AND
                  CAST('0x' || substring(md5(array_to_string(tk[i-2:i],
                      ' ')), 1, 8) AS BIGINT) % 8 = 0
                  THEN 1 ELSE 0 END AS flag
      FROM d, unnest(range(1, len(tk) + 1)) u(i)),
b AS (SELECT source, doc_id, tok, i,
             coalesce(sum(flag) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS chunk_no
      FROM t),
c AS (SELECT source, doc_id, chunk_no,
             CAST('0x' || substring(md5(string_agg(tok, ' ' ORDER BY i)),
                                    1, 8) AS BIGINT) AS chash,
             count(*) AS n_tok
      FROM b GROUP BY source, doc_id, chunk_no),
o AS (SELECT source, n_tok,
             CASE WHEN count(*) OVER (PARTITION BY chash) > 1
                  THEN 1 ELSE 0 END AS dup
      FROM c)
SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(dup) AS BIGINT) AS n_dup_chunks,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(dup * n_tok) AS BIGINT) AS n_dup_tokens
FROM o GROUP BY source ORDER BY source
""")
def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking dedup (text/dedup.cdc_chunks — the
    Rabin/FastCDC family at token level): boundaries where the trailing
    3-gram md5 hash ≡ 0 (mod 8), chunks rebuilt per doc, chunk-level dup
    pressure per source (a chunk is duplicated iff its content hash has
    >1 instance corpus-wide).  Boundary selection, chunk hashes and all
    counts are exact md5-integer arithmetic — the oracle replays the
    full pipeline in windowed SQL."""
    (docs,) = _t(spark, sf_dir, "documents")
    return (TD.cdc_chunk_stats(docs, k=3, divisor=8, group_col="source")
            .orderBy("source"))


def _doc_lloyd_cte(k: int, n_iter: int, n_buckets: int = 16) -> str:
    """DuckDB Lloyd replay over DOCUMENT hashed-bow features — the
    queries_ml.lloyd_cte shape (quantize → first-k init → assign/update
    rounds → final ``wf(vec_id, label, qv, cl)``) with pts built from
    the quality-classifier featurizer SQL instead of the embeddings
    table.  Every x_b is an exact integer ratio, quantization is
    ``floor(x·1e6 + 0.5)``, so the whole fit replays bit for bit."""
    xs = ", ".join(f"{OR2._qclf_x_sql(b, n_buckets)} AS x{b}"
                   for b in range(n_buckets))
    arr = "[" + ", ".join(f"x{b}" for b in range(n_buckets)) + "]"
    parts = [f"""d0 AS (SELECT doc_id, source, {OR2._qclf_tok_sql()} AS toks
  FROM documents WHERE text IS NOT NULL),
f AS (SELECT doc_id, source, {xs} FROM d0 WHERE len(toks) > 0),
pts AS (SELECT doc_id AS vec_id, source AS label,
  list_transform({arr}, x -> floor(x * 1000000.0 + 0.5)) AS qv FROM f),
c_0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, qv AS cv
  FROM pts ORDER BY vec_id LIMIT {k})"""]
    for r in range(1, n_iter):
        parts.append(f"""w_{r} AS (SELECT vec_id, label, qv, cl FROM (
    SELECT p.vec_id, p.label, p.qv, c.cl,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY list_distance(p.qv, c.cv), c.cl) AS rn
    FROM pts p CROSS JOIN c_{r - 1} c) s WHERE rn = 1),
cm_{r} AS (SELECT cl, list(m ORDER BY i) AS cv FROM (
    SELECT cl, i, floor(sum(qv[i]) / count(*) + 0.5) AS m
    FROM w_{r}, unnest(generate_series(1, len(qv))) g(i)
    GROUP BY cl, i) s GROUP BY cl),
c_{r} AS (SELECT prev.cl, coalesce(cm.cv, prev.cv) AS cv
  FROM c_{r - 1} prev LEFT JOIN cm_{r} cm ON prev.cl = cm.cl)""")
    parts.append(f"""wf AS (SELECT vec_id, label, qv, cl FROM (
    SELECT p.vec_id, p.label, p.qv, c.cl,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY list_distance(p.qv, c.cv), c.cl) AS rn
    FROM pts p CROSS JOIN c_{n_iter - 1} c) s WHERE rn = 1)""")
    return ",\n".join(parts)


_CURATION_QUOTA = 40


@query("q_cluster_curation", f"""
WITH {_doc_lloyd_cte(8, 2)},
r AS (SELECT cl, vec_id, label,
             row_number() OVER (PARTITION BY cl
                 ORDER BY md5(CAST(vec_id AS VARCHAR) || 'cbal'),
                          vec_id) AS rk
      FROM wf)
SELECT cl AS cluster, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN rk <= {_CURATION_QUOTA} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(count(DISTINCT CASE WHEN rk <= {_CURATION_QUOTA}
                                THEN label END) AS BIGINT)
           AS n_sources_kept,
       CAST(sum(CASE WHEN rk <= {_CURATION_QUOTA} THEN vec_id
                     ELSE 0 END) AS BIGINT) AS kept_id_sum
FROM r GROUP BY cl ORDER BY cl
""")
def q_cluster_curation(spark, sf_dir):
    """Cluster-balanced corpus curation (the diversity-preserving
    sampling step of SemDeDup-style pipelines, Abbas et al. 2023, and
    density-capped curation generally): cluster documents on their
    hashed bag-of-words features (text/quality_clf.hashed_bow_agg →
    deterministic quantized Lloyd, ml/cluster.kmeans_lloyd), then keep
    a fixed per-cluster quota chosen by document hash — over-dense
    regions are downsampled, small clusters survive whole.  Per-cluster
    report: size, kept count, source spread of the kept set, kept-id
    checksum.  The oracle refits Lloyd over the identical feature SQL
    and replays the quota window."""
    from pyspark.sql.window import Window

    from orange3_spark.ml.cluster import kmeans_lloyd
    from orange3_spark.text.quality_clf import hashed_bow_agg

    (docs,) = _t(spark, sf_dir, "documents")
    B = OR2.QCLF_PARAMS["n_buckets"]
    feats = hashed_bow_agg(docs, keep=("source",))
    pre = feats.select("doc_id", "source",
                       F.array(*[f"x{b}" for b in range(B)]).alias("_v"))
    clustered = kmeans_lloyd(pre, "doc_id", array_col="_v",
                             k=8, n_iter=2)
    w = Window.partitionBy("cluster").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("cbal"))),
        "doc_id")
    ranked = clustered.withColumn("rk", F.row_number().over(w))
    q = F.lit(_CURATION_QUOTA)
    out = (ranked.groupBy("cluster")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum((F.col("rk") <= q).cast("long")).alias("n_kept"),
                F.countDistinct(F.when(F.col("rk") <= q,
                                       F.col("source")))
                .alias("n_sources_kept"),
                F.sum(F.when(F.col("rk") <= q, F.col("doc_id"))
                      .otherwise(F.lit(0))).alias("kept_id_sum"))
           .orderBy("cluster"))
    clustered.lloyd_cache.unpersist()
    return out


@query("q_mix_temperature", OR2.mix_temperature_oracle)
def q_mix_temperature(spark, sf_dir):
    """Temperature-scaled data mixing (text/pipeline.mix_temperature —
    the mBERT/XLM-R multilingual sampling law p_s ∝ c_s^T, here T=0.5
    upweighting small sources): one count aggregation → shared-float
    thresholds → content-hash keep predicate, no shuffle of kept rows.
    Per-source kept counts + id range; the oracle recomputes the law
    from the same counts and mirrors the md5 predicate."""
    from orange3_spark.text.pipeline import mix_temperature

    P = OR2.MIXT_PARAMS
    (docs,) = _t(spark, sf_dir, "documents")
    kept = mix_temperature(docs, P["temperature"], salt=P["salt"])
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id"))
            .orderBy("source"))


@query("q_tfidf_terms", """
WITH tok AS (SELECT source, doc_id,
                    unnest(list_filter(string_split(trim(text), ' '),
                                       x -> x <> '')) AS term
             FROM documents WHERE text IS NOT NULL),
dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
tf AS (SELECT source, term, count(*) AS tf FROM tok GROUP BY source, term),
s AS (SELECT tf.source, tf.term, tf.tf, dft.df,
             (tf.tf * 1000000) // dft.df AS score
      FROM tf JOIN dft ON tf.term = dft.term),
r AS (SELECT source, term, tf, df, score,
             row_number() OVER (PARTITION BY source
                                ORDER BY score DESC, term ASC) AS rnk
      FROM s)
SELECT source, CAST(rnk AS INT) AS rnk, term,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(score AS BIGINT) AS score
FROM r WHERE rnk <= 5 ORDER BY source, rnk
""")
def q_tfidf_terms(spark, sf_dir):
    """Per-source distinctive keywords (text/analysis.distinctive_terms
    — TF-IDF-shaped ranking on the exact-integer reciprocal-df score
    tf·10⁶ div df; no libm, so the full ranking incl. ties is
    hash-graded).  One explode, two aggregations, one term equi-join,
    one partitioned top-5 window."""
    (docs,) = _t(spark, sf_dir, "documents")
    return (TA.distinctive_terms(docs, top_n=5)
            .withColumn("rnk", F.col("rnk").cast("int"))
            .orderBy("source", "rnk"))


@query("q_sliding_chunks", """
WITH d AS (SELECT source, doc_id,
                  list_filter(string_split(trim(text), ' '),
                              x -> x <> '') AS tk
           FROM documents WHERE text IS NOT NULL),
c AS (SELECT source, doc_id,
             tk[s : s + 31] AS ck
      FROM d, unnest(generate_series(
               1, greatest(len(tk) - 16, 1), 16)) g(s)
      WHERE len(tk) > 0),
h AS (SELECT source, doc_id, len(ck) AS n_tok,
             CAST('0x' || substring(md5(array_to_string(ck, ' ')), 1, 8)
                  AS BIGINT) AS chash
      FROM c)
SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT chash) AS BIGINT) AS n_distinct_chunks,
       CAST(sum(chash) AS BIGINT) AS chash_sum
FROM h GROUP BY source ORDER BY source
""")
def q_sliding_chunks(spark, sf_dir):
    """Sliding-window chunking (text/packing.sliding_chunks — RAG/eval
    window prep, 32-token windows every 16): per-source chunk counts,
    token totals, distinct-chunk counts and a chunk-hash checksum.
    Chunking itself is row-local codegen (no shuffle before the
    aggregate); the oracle replays slice geometry and hashes in SQL."""
    from orange3_spark.text.packing import sliding_chunks

    (docs,) = _t(spark, sf_dir, "documents")
    ch = sliding_chunks(docs, window=32, stride=16, keep=("source",))
    return (ch.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.countDistinct("doc_id").alias("n_docs"),
                 F.sum("n_tok").alias("n_tokens"),
                 F.countDistinct("chash").alias("n_distinct_chunks"),
                 F.sum("chash").alias("chash_sum"))
            .orderBy("source"))


@query("q_boilerplate", """
WITH tk AS (SELECT doc_id,
                   list_filter(string_split(trim(text), ' '),
                               x -> x <> '') AS t
            FROM documents),
pos AS (SELECT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                    || t[i+3] || ' ' || t[i+4] AS gram
        FROM tk, unnest(generate_series(1, len(t) - 4)) s(i)
        WHERE len(t) >= 5
        UNION ALL
        SELECT doc_id, array_to_string(t, ' ') FROM tk WHERE len(t) < 5),
bp AS (SELECT gram FROM (
           SELECT gram, count(DISTINCT doc_id) AS nd
           FROM pos GROUP BY gram)
       WHERE nd >= 3),
per AS (SELECT p.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN bp.gram IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_boiler
        FROM pos p LEFT JOIN bp ON p.gram = bp.gram
        GROUP BY p.doc_id)
SELECT doc_id, n_grams, n_boiler,
       CAST(n_boiler AS DOUBLE) / CAST(n_grams AS DOUBLE) AS boiler_frac
FROM per ORDER BY doc_id
""")
def q_boilerplate(spark, sf_dir):
    """Cross-document boilerplate detection
    (text/analysis.boilerplate_fraction): per-document fraction of word
    5-gram positions that occur in >= 3 distinct documents — the
    repeated-substring stripping stage of a web-corpus pipeline (Lee et
    al. 2022).  One gram-key shuffle with map-side combine; the
    thresholded boilerplate set joins back as a broadcast.  Counts are
    exact integers; the fraction is one integer division."""
    (docs,) = _t(spark, sf_dir, "documents")
    return (TA.boilerplate_fraction(docs, n=5, min_docs=3)
            .orderBy("doc_id"))


@query("q_url_canonicalize", """
WITH raw AS (SELECT doc_id,
                    'HTTPS://WWW.' || upper(source) || '.Example.CO.UK:443'
                    || '/Docs/' || CAST(doc_id AS VARCHAR)
                    || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
                    || '?z=' || CAST(doc_id % 7 AS VARCHAR)
                    || '&utm_source=feed&a=2&gclid=abc#frag' AS url
             FROM documents),
c AS (SELECT doc_id, url,
             regexp_replace(url, '#.*$', '') AS u
      FROM raw),
p AS (SELECT doc_id, url,
             regexp_extract(u, '^([^?]*)', 1) AS base,
             regexp_extract(u, '\\?(.*)$', 1) AS qs
      FROM c),
h AS (SELECT doc_id, url, qs,
             regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)',
                            1) AS head,
             substr(base, length(regexp_extract(base,
                 '^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)', 1)) + 1) AS path
      FROM p),
k AS (SELECT doc_id, url,
             regexp_replace(lower(head), ':(80|443)$', '') AS h2,
             regexp_replace(path, '/+$', '') AS p2,
             list_sort(list_filter(string_split(qs, '&'),
                 q -> q <> '' AND NOT regexp_matches(q,
                     '^(utm_[^=]*|fbclid|gclid|ref)='))) AS kept
      FROM h),
canon AS (SELECT doc_id,
                 h2 || p2 || CASE WHEN len(kept) > 0
                                  THEN '?' || array_to_string(kept, '&')
                                  ELSE '' END AS canon_url
          FROM k),
dom AS (SELECT doc_id, canon_url,
               regexp_extract(lower(canon_url), '://([^/:?#]*)', 1) AS host
        FROM canon)
SELECT doc_id, canon_url,
       CASE WHEN regexp_extract(host,
                 '([^.]+\\.(?:co|com|org|net|ac|gov)\\.[a-z][a-z])$', 1)
                 <> ''
            THEN regexp_extract(host,
                 '([^.]+\\.(?:co|com|org|net|ac|gov)\\.[a-z][a-z])$', 1)
            ELSE regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
       END AS domain
FROM dom ORDER BY doc_id
""")
def q_url_canonicalize(spark, sf_dir):
    """URL canonicalization + registrable-domain extraction
    (text/urls.py): urls DERIVED from document columns with every
    canonicalization hazard present (uppercase scheme/host, default
    port, trailing slash on every third doc, unsorted params, utm/gclid
    tracking params, fragment).  Pure row-local string expressions —
    whole-stage codegen, no shuffle — mirrored verbatim in SQL; the
    domain rule exercises the two-level-suffix branch (example.co.uk)."""
    from orange3_spark.text.urls import canonicalize_url, registrable_domain

    (docs,) = _t(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(F.lit("HTTPS://WWW."), F.upper("source"),
                 F.lit(".Example.CO.UK:443/Docs/"),
                 F.col("doc_id").cast("string"),
                 F.when(F.col("doc_id") % 3 == 0, F.lit("/"))
                 .otherwise(F.lit("")),
                 F.lit("?z="), (F.col("doc_id") % 7).cast("string"),
                 F.lit("&utm_source=feed&a=2&gclid=abc#frag"))
        .alias("url"))
    return (raw.select("doc_id",
                       canonicalize_url("url").alias("canon_url"),
                       registrable_domain(
                           canonicalize_url("url")).alias("domain"))
            .orderBy("doc_id"))


@query("q_embed_quantize", """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
x AS (SELECT vec_id, v[i] AS x, i
      FROM e, unnest(generate_series(1, len(v))) g(i)),
s AS (SELECT vec_id, max(abs(x)) AS scale FROM x GROUP BY vec_id),
q AS (SELECT x.vec_id, x.i, s.scale,
             CASE WHEN s.scale = 0 THEN 0
                  ELSE CAST(greatest(-127, least(127,
                       floor(x / s.scale * 127.0 + 0.5))) AS BIGINT)
             END AS qi
      FROM x JOIN s ON x.vec_id = s.vec_id)
SELECT vec_id, scale,
       CAST(sum(qi) AS BIGINT) AS sum_q,
       CAST(sum(abs(qi)) AS BIGINT) AS sum_abs_q,
       CAST(sum(qi * i) AS BIGINT) AS dot_pos
FROM q GROUP BY vec_id, scale ORDER BY vec_id
""")
def q_embed_quantize(spark, sf_dir):
    """Symmetric per-vector int8 quantization
    (similarity/quantize.py): the 4x embedding-store shrink stage of an
    ANN pipeline, emitted as exact-integer per-vector checksums
    (position-weighted dot pins element order).  FLOAT->DOUBLE is
    exact, max(abs) is order-independent, and the single rounding is a
    floor(v+0.5) IEEE tree mirrored verbatim in SQL."""
    from orange3_spark.similarity.quantize import quantize_int8_summary

    (emb,) = _t(spark, sf_dir, "embeddings")
    return quantize_int8_summary(emb).orderBy("vec_id")


@query("q_ann_recall", f"""
WITH {lloyd_cte(8, 2)},
cfm AS (SELECT cl, list(m ORDER BY i) AS cv FROM (
         SELECT cl, i, floor(sum(qv[i]) / count(*) + 0.5) AS m
         FROM wf, unnest(generate_series(1, len(qv))) g(i)
         GROUP BY cl, i) s
       GROUP BY cl),
cf AS (SELECT prev.cl, coalesce(cfm.cv, prev.cv) AS cv
       FROM c_1 prev LEFT JOIN cfm ON prev.cl = cfm.cl),
q AS (SELECT vec_id AS qid, qv FROM pts WHERE vec_id < 5),
pr AS (SELECT qid, qv, cl,
              row_number() OVER (PARTITION BY qid
                                 ORDER BY list_distance(qv, cv), cl) AS crn
       FROM q CROSS JOIN cf),
pa AS (SELECT qid, qv, cl FROM pr WHERE crn <= 2),
ca AS (SELECT p.qid, w.vec_id AS id_b, list_distance(p.qv, w.qv) AS d
       FROM pa p JOIN wf w ON w.cl = p.cl AND w.vec_id <> p.qid),
ra AS (SELECT qid, id_b,
              row_number() OVER (PARTITION BY qid ORDER BY d, id_b) AS r
       FROM ca),
ta AS (SELECT qid, id_b FROM ra WHERE r <= 10),
cb AS (SELECT q.qid, w.vec_id AS id_b, list_distance(q.qv, w.qv) AS d
       FROM q JOIN wf w ON w.vec_id <> q.qid),
rb AS (SELECT qid, id_b,
              row_number() OVER (PARTITION BY qid ORDER BY d, id_b) AS r
       FROM cb),
tb AS (SELECT qid, id_b FROM rb WHERE r <= 10),
hits AS (SELECT t.qid, CAST(count(*) AS BIGINT) AS n_hits
         FROM ta t JOIN tb b ON t.qid = b.qid AND t.id_b = b.id_b
         GROUP BY t.qid)
SELECT q.qid, COALESCE(h.n_hits, 0) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 10.0 AS recall_at_10
FROM (SELECT DISTINCT qid FROM q) q
LEFT JOIN hits h ON q.qid = h.qid
ORDER BY q.qid
""")
def q_ann_recall(spark, sf_dir):
    """ANN quality evaluation — recall@10 of the IVF index at nprobe=2
    against EXACT search on the same integer distance grid (expressed as
    the same index probing all 8 cells, which is exhaustive by
    construction).  This is the eval loop an embedding-store operator
    runs before dialing nprobe at 100 TB: both sides share one index
    build, the exact side is a rank over the full candidate set, and
    every distance/rank/tie-break is deterministic, so recall replays
    bit-for-bit in SQL."""
    from orange3_spark.similarity.knn import ivf_fit, ivf_search

    (emb,) = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 5)
    # ONE index build shared by both nprobe settings (the whole point
    # of the recall dial); the postings cache lives for the query, the
    # harness clears caches between queries
    assigned, cents = ivf_fit(emb, n_cells=8, n_iter=2)
    approx = (ivf_search(assigned, cents, probes, k=10, nprobe=2)
              .select("qid", "id_b"))
    exact = (ivf_search(assigned, cents, probes, k=10, nprobe=8)
             .select("qid", "id_b"))
    hits = (approx.join(exact, ["qid", "id_b"])
            .groupBy("qid").agg(F.count(F.lit(1)).cast("long")
                                .alias("n_hits")))
    return (probes.select(F.col("vec_id").alias("qid"))
            .join(hits, "qid", "left")
            .select("qid",
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"),
                    (F.coalesce("n_hits", F.lit(0)).cast("double")
                     / F.lit(10.0)).alias("recall_at_10"))
            .orderBy("qid"))


@query("q_line_dedup", """
WITH d AS (SELECT doc_id,
                  text || chr(10) || 'shared footer for ' || source
                       || chr(10) || 'copyright 2026' AS t2
           FROM documents),
sp AS (SELECT doc_id, string_split(t2, chr(10)) AS s FROM d),
l AS (SELECT doc_id, i AS pos, s[i] AS line
      FROM sp, unnest(generate_series(1, len(s))) g(i)),
k AS (SELECT doc_id, pos, line, lower(trim(line)) AS key FROM l),
common AS (SELECT key FROM (
               SELECT key, count(DISTINCT doc_id) AS nd
               FROM k GROUP BY key)
           WHERE nd >= 2),
kept AS (SELECT k.doc_id, k.pos, k.line
         FROM k LEFT JOIN common c ON k.key = c.key
         WHERE c.key IS NULL),
na AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
       FROM k GROUP BY doc_id),
re AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
              array_to_string(list(line ORDER BY pos),
                              chr(10)) AS clean_text
       FROM kept GROUP BY doc_id)
SELECT na.doc_id, na.n_lines,
       CAST(COALESCE(re.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(re.clean_text, '') AS clean_text
FROM na LEFT JOIN re ON na.doc_id = re.doc_id
ORDER BY na.doc_id
""")
def q_line_dedup(spark, sf_dir):
    """CCNet-style cross-document line dedup (text/dedup.dedup_lines):
    documents get a per-source footer and a global copyright line
    appended (derived from table columns), then every line occurring in
    >= 2 distinct documents is stripped corpus-wide and survivors are
    reassembled in order — the paragraph-dedup stage that precedes
    near-dup detection in web-corpus pipelines.  Duplicate body texts
    (the documents table contains exact dups) are removed too, which
    the oracle reproduces."""
    (docs,) = _t(spark, sf_dir, "documents")
    multi = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit("\nshared footer for "),
                 F.col("source"), F.lit("\ncopyright 2026"))
        .alias("text"))
    return TD.dedup_lines(multi, min_docs=2).orderBy("doc_id")


def _rp_values() -> str:
    from orange3_spark.similarity.quantize import rp_matrix
    return ",\n".join(f"({i},{j},{w})"
                      for i, j, w in rp_matrix(64, 8, seed=42))


@query("q_random_projection", f"""
WITH w(i, j, wq) AS (SELECT * FROM (VALUES
{{vals}}
) v),
x AS (SELECT vec_id, i - 1 AS i,
             CAST(floor(CAST(e[i] AS DOUBLE) * 1048576.0 + 0.5)
                  AS BIGINT) AS xq
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings),
           unnest(generate_series(1, len(e))) g(i))
SELECT x.vec_id, w.j, CAST(sum(x.xq * w.wq) AS BIGINT) AS yq
FROM x JOIN w ON x.i = w.i
GROUP BY x.vec_id, w.j
ORDER BY x.vec_id, w.j
""".replace("{vals}", _rp_values()))
def q_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss random projection
    (similarity/quantize.random_projection): 64-dim embeddings to 8
    dims through a seeded, fixed-point Gaussian matrix — the
    shuffle-width shrink before ANN indexing.  Inputs and weights are
    x2^20 int64, so the projection is EXACT integer arithmetic —
    associative, partition-invariant, and the oracle replays it with
    the identical weight table embedded as literals."""
    from orange3_spark.similarity.quantize import random_projection

    (emb,) = _t(spark, sf_dir, "embeddings")
    return (random_projection(emb, out_dim=8, seed=42, in_dim=64)
            .orderBy("vec_id", "j"))


@query("q_cooccurrence", """
WITH tok AS (SELECT DISTINCT doc_id AS d,
                    unnest(list_filter(string_split(trim(text), ' '),
                           x -> x <> '')) AS t
             FROM documents),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
tf AS (SELECT t, CAST(count(*) AS BIGINT) AS n_t FROM tok GROUP BY t),
kept AS (SELECT * FROM tf WHERE n_t >= 5 AND n_t <= 10000),
tk AS (SELECT tok.d, tok.t FROM tok JOIN kept ON tok.t = kept.t),
pairs AS (SELECT a.t AS t_a, b.t AS t_b,
                 CAST(count(*) AS BIGINT) AS n_ab
          FROM tk a JOIN tk b ON a.d = b.d AND a.t < b.t
          GROUP BY 1, 2 HAVING count(*) >= 5),
lifted AS (SELECT p.t_a, p.t_b, p.n_ab, ka.n_t AS n_a, kb.n_t AS n_b,
                  (p.n_ab * nd.n * 1000000) // (ka.n_t * kb.n_t) AS lift_q
           FROM pairs p
           JOIN kept ka ON p.t_a = ka.t
           JOIN kept kb ON p.t_b = kb.t
           CROSS JOIN nd)
SELECT t_a, t_b, n_ab, n_a, n_b, CAST(lift_q AS BIGINT) AS lift_q
FROM lifted ORDER BY lift_q DESC, t_a, t_b LIMIT 20
""")
def q_cooccurrence(spark, sf_dir):
    """Token co-occurrence lift (text/analysis.cooccurrence_lift — the
    association-mining primitive; the reference core ships only the
    BasketReader, mining lives in the orange3-associate add-on): top-20
    token pairs by exact-integer lift (the monotone PMI transform that
    needs no libm log), document-blocked pair join with df caps so hot
    tokens can't explode quadratically."""
    (docs,) = _t(spark, sf_dir, "documents")
    return TA.cooccurrence_lift(docs, min_count=5, max_df=10_000,
                                top_k=20)


@query("q_compression_ratio", OR2.compression_ratio_oracle)
def q_compression_ratio(spark, sf_dir):
    """Per-document zlib compression ratio (text/analysis.
    compression_ratio — the CCNet/Gopher-family redundancy signal:
    compressible = boilerplate, incompressible = junk), aggregated per
    source.  DEFLATE isn't SQL-expressible, so the replay oracle
    computes the identical fixed-point integers in python over the
    DuckDB-fetched corpus and embeds the per-source exact sums
    (plans/oracle_replay.compression_ratio_oracle)."""
    from orange3_spark.text.analysis import compression_ratio

    (docs,) = _t(spark, sf_dir, "documents")
    out = compression_ratio(docs.where(F.col("text").isNotNull()))
    return (out.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("ratio_q").cast("long").alias("sum_ratio_q"),
                 F.min("ratio_q").alias("min_ratio_q"),
                 F.max("ratio_q").alias("max_ratio_q"))
            .orderBy("source"))


@query("q_ann_incremental", f"""
WITH {lloyd_cte(8, 2, where="vec_id % 5 <> 0")},
cfm AS (SELECT cl, list(m ORDER BY i) AS cv FROM (
         SELECT cl, i, floor(sum(qv[i]) / count(*) + 0.5) AS m
         FROM wf, unnest(generate_series(1, len(qv))) g(i)
         GROUP BY cl, i) s
       GROUP BY cl),
cf AS (SELECT prev.cl, coalesce(cfm.cv, prev.cv) AS cv
       FROM c_1 prev LEFT JOIN cfm ON prev.cl = cfm.cl),
np AS (SELECT vec_id,
              list_transform(CAST(embedding AS DOUBLE[]),
                             x -> floor(x * 1000000.0 + 0.5)) AS qv
       FROM embeddings WHERE vec_id % 5 = 0),
asg AS (SELECT vec_id, cl FROM (
    SELECT p.vec_id, c.cl,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY list_distance(p.qv, c.cv), c.cl)
               AS rn
    FROM np p CROSS JOIN cf c) s WHERE rn = 1)
SELECT vec_id, CAST(cl AS INT) AS cluster FROM asg ORDER BY vec_id
""")
def q_ann_incremental(spark, sf_dir):
    """Incremental IVF index maintenance (similarity/knn.ivf_append —
    the embedding-family mirror of q_dedup_incremental's LSH band
    append): the coarse quantizer is fit on 4/5 of the corpus, the
    held-out 1/5 is APPENDED without a refit — one scan of the batch,
    never of the corpus — and each appended vector must land in exactly
    the cell the fit-time assignment rule (nearest refreshed centroid
    by exact integer distance, ties toward the lower cell) dictates.
    The oracle refits the base quantizer, replays the centroid refresh,
    and re-derives every appended assignment in SQL."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 5 != 0)
    new = emb.where(F.col("vec_id") % 5 == 0)
    assigned, cents = K.ivf_fit(base, n_cells=8, n_iter=2)
    combined = K.ivf_append(assigned, cents, new)
    out = (combined.where(F.col("vec_id") % 5 == 0)
           .select("vec_id", F.col("cluster").cast("int").alias("cluster"))
           .orderBy("vec_id"))
    out.ivf_cache = assigned
    return out
