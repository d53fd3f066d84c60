"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Training-data-pipeline extensions (project north star) — none exist in the
reference.  All are expressed as DataFrame ops that scale by shuffle on
bounded keys:

  * exact: hash-groupBy on the normalized text (one shuffle on text hash).
  * n-gram Jaccard: shingle-explode → self-join on shingle → per-pair
    overlap counts.  The shingle join is the scalable path: candidate pairs
    are generated only for documents sharing at least one shingle, never the
    full O(n²) cross join.
  * MinHash+LSH: k seeded xxhash64 minima per doc → band signatures →
    bucket-join on (band, band-hash).  Candidate pairs then verified with
    exact Jaccard.  At 100 TB this is THE dedup path: cost is
    O(docs × shingles × k) map-side + a shuffle on band buckets.
  * SimHash: 64-bit weighted-bit-majority fingerprint; near-dups = small
    Hamming distance (join on rotated prefix buckets).
"""

from __future__ import annotations

from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orange3_spark.session import fetch_local, local_frame
from orange3_spark.text.analysis import tokens


# ---------------------------------------------------------------- exact dedup

def _spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition to default parallelism ONLY when the
    input has fewer partitions — the unsplittable-input valve (guide
    §2.5).  At scale a real scan already has ≥ cores partitions and no
    exchange is added; locally it keeps per-token hash work off a
    1-task scan stage.  Callers apply it only where downstream results
    are partitioning-independent (exact-integer aggregations, row-local
    projections)."""
    sc = df.sparkSession.sparkContext
    try:
        parts = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive
        return df
    if parts < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", *, normalize: bool = True) -> DataFrame:
    """Keep the lowest-id document per identical text (hash-groupBy —
    single shuffle; with normalization: lowercase + whitespace collapse).

    The shuffle key is a 128-bit hash pair of the normalized text, not the
    text itself — at corpus scale the exchange moves 16 bytes per doc
    instead of the document body (collision odds ~ n²/2¹²⁸, vanishing
    even at 10¹² docs)."""
    key = F.col(text_col)
    if normalize:
        key = F.regexp_replace(F.lower(F.trim(key)), r"\s+", " ")
    return (df.withColumn("_k1", F.xxhash64(key, F.lit(0)))
              .withColumn("_k2", F.xxhash64(key, F.lit(1)))
              .groupBy("_k1", "_k2")
              .agg(F.min(id_col).alias(id_col),
                   F.count(F.lit(1)).alias("n_copies"))
              .drop("_k1", "_k2"))


def exact_groups(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Groups with >1 identical copy — the duplicate report."""
    return (df.groupBy(text_col)
              .agg(F.count(F.lit(1)).alias("n_copies"),
                   F.sort_array(F.collect_list(id_col)).alias("ids"))
              .filter(F.col("n_copies") > 1))


# -------------------------------------------------------------- word shingles

def shingles(col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array column — row-local."""
    toks = tokens(col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(
        " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]))
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array(F.array_join(toks, " "))))


def shingle_table(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Long-form distinct (id, shingle) — the exploded join key table.

    Formulated as posexplode(tokens) + window ``lead`` rather than the
    array-HOF ``shingles()`` expression: Spark's higher-order functions are
    CodegenFallback (interpreted per element), while explode + lead + concat
    stay in whole-stage codegen — ~20× faster on real corpora.  Cost at
    scale: one shuffle on ``id_col`` (tiny per-doc partitions) + the
    distinct's shuffle, both map-side combinable.
    """
    from pyspark.sql.window import Window

    toks = tokens(text_col)
    tok = df.select(F.col(id_col), F.size(toks).alias("_ntok"),
                    F.posexplode(toks).alias("_pos", "_tok"))
    w = Window.partitionBy(id_col).orderBy("_pos")
    parts = [F.col("_tok")] + [F.lead("_tok", j).over(w) for j in range(1, n)]
    grams = (tok.filter(F.col("_ntok") >= n)
                .select(F.col(id_col), F.concat_ws(" ", *parts).alias("shingle"),
                        F.lead("_tok", n - 1).over(w).alias("_last"))
                .filter(F.col("_last").isNotNull())
                .drop("_last"))
    # short docs (< n tokens): the whole text is the single shingle
    # (reference-free choice, matches shingles() fallback)
    short = (df.select(F.col(id_col), toks.alias("_t"))
               .filter(F.size("_t") < n)
               .select(F.col(id_col), F.array_join("_t", " ").alias("shingle")))
    # Repartition by id_col BEFORE the distinct: HashPartitioning(id)
    # satisfies the distinct's (id, shingle) clustering AND every
    # downstream per-doc aggregation, so the distinct and — crucially —
    # the 64-column MinHash signature aggregation run exchange-free.
    # Without this the signature agg's partial state (65 longs × docs ×
    # map partitions) was the pipeline's largest exchange: 50.8 MiB of
    # q_dedup_minhash's 63.5 MB total shuffle at sf0.1, vs ~5 MiB for
    # the (id, shingle) rows themselves (guide §2.4 — operations keyed
    # the same way share one exchange).  No new skew class: the window
    # above already partitions by id_col, and per-doc shingle counts
    # are bounded by document length.
    return (grams.unionByName(short)
            .repartition(F.col(id_col))
            .distinct())


# ---------------------------------------------------------- n-gram Jaccard

def jaccard_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", *, n: int = 3,
                  threshold: float = 0.5,
                  max_df: Optional[int] = None) -> DataFrame:
    """All document pairs with n-gram Jaccard ≥ threshold.

    Plan: shingle sizes (one pass) + shingle self-join (pairs sharing ≥1
    shingle only) + per-pair overlap count → |A∩B| / (|A|+|B|−|A∩B|).

    ``max_df`` is the skew valve for 100 TB corpora: a shingle present in
    d docs contributes d² join rows, so one boilerplate trigram ("all
    rights reserved") can dominate the whole shuffle.  With ``max_df``
    set, shingles whose document frequency exceeds it are dropped from the
    JOIN side only — true sizes still count them, so the computed Jaccard
    is a lower bound that differs only for pairs whose sole overlap is
    ultra-common boilerplate (exactly the pairs near-dup dedup does not
    want).  Default ``None`` keeps the exact semantics.
    """
    # no cache: nothing would unpersist it, so it would outlive the query.
    # The shingle table's id exchange is computed once and reused by the
    # sizes and both join sides (ReusedExchange); the cache was still
    # 0.3-0.5 s faster per call at sf0.1 (4 vCPUs)
    sh = (shingle_table(df, text_col, id_col, n)
          # join key as a 64-bit hash: the shuffle moves 8-byte longs, not
          # ~n-word strings (collision odds ~ rows²/2⁶⁴ — negligible)
          .select(F.col(id_col), F.xxhash64("shingle").alias("s64")))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    joinable = sh
    if max_df is not None:
        rare = (sh.groupBy("s64").agg(F.count(F.lit(1)).alias("df"))
                  .filter(F.col("df") <= max_df).select("s64"))
        joinable = sh.join(rare, "s64")
    a = joinable.alias("a")
    b = joinable.alias("b")
    pairs = (a.join(b, (F.col("a.s64") == F.col("b.s64"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
              .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                       F.col(f"b.{id_col}").alias("id_b"))
              .agg(F.count(F.lit(1)).alias("inter")))
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    out = (pairs.join(sz_a, "id_a").join(sz_b, "id_b")
           .withColumn("jaccard",
                       F.col("inter") /
                       (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
           .filter(F.col("jaccard") >= threshold)
           .select("id_a", "id_b", "jaccard"))
    return out


# -------------------------------------------------------------- MinHash + LSH

def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", *, n: int = 3,
                       num_hashes: int = 64, seed: int = 42,
                       shingle_df: Optional[DataFrame] = None,
                       hash_family: str = "xxhash64") -> DataFrame:
    """Per-document MinHash signature as ``num_hashes`` long columns
    ``h0..h{k-1}``.

    Formulated as explode → groupBy(min) rather than a nested higher-order
    array expression: k ``min(xxhash64(shingle, seed+k))`` aggregates over
    long-form (id, shingle) rows stay inside whole-stage codegen with
    map-side partial aggregation (the HOF formulation falls back to the
    interpreted evaluator and is ~100× slower), and the aggregation is a
    Catalyst barrier, so downstream band projections reference plain
    columns instead of re-inlining the signature expression per band.
    Cost at scale: one shuffle on ``id_col``, k longs per doc.
    """
    sh = shingle_df if shingle_df is not None \
        else shingle_table(df, text_col, id_col, n)
    if hash_family == "md5":
        # ONE md5 per shingle, then Kirsch-Mitzenmacher double hashing from
        # its two 32-bit halves: h_k = h1 + (seed+k)·h2 — exact bigint
        # arithmetic (max < 2^40, no overflow, ANSI-safe), k families for
        # the price of one digest.  Portable: any engine with md5 + hex
        # parsing recomputes identical signatures, so the SQL oracle checks
        # the exact pipeline.  (A previous per-seed md5(shingle||'#k')
        # variant cost 64 digests/shingle — measured 30 s vs 8 s at sf0.1.)
        md = F.md5(F.col("shingle"))
        pre = sh.select(
            id_col,
            F.conv(F.substring(md, 1, 8), 16, 10).cast("long").alias("_h1"),
            F.conv(F.substring(md, 9, 8), 16, 10).cast("long").alias("_h2"))
        aggs = [F.min(F.col("_h1") + F.lit(seed + k) * F.col("_h2"))
                .alias(f"h{k}") for k in range(num_hashes)]
        return pre.groupBy(id_col).agg(*aggs)
    # accept either raw shingle strings or a pre-hashed s64 key column
    # (hash-of-hash is an equally valid minhash family and avoids hashing
    # the string num_hashes times)
    key = F.col("s64") if "s64" in sh.columns else F.col("shingle")
    aggs = [F.min(F.xxhash64(key, F.lit(seed + k))).alias(f"h{k}")
            for k in range(num_hashes)]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_band_table(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", *, n: int = 3,
                       num_hashes: int = 64, bands: int = 16,
                       seed: int = 42,
                       shingle_df: Optional[DataFrame] = None,
                       hash_family: str = "xxhash64") -> DataFrame:
    """The PERSISTABLE LSH index: ``(id, band, bucket)`` rows, ``bands``
    per document.  Write this table out (partitioned/bucketed by
    ``(band, bucket)``) and incremental ingest never re-reads the corpus —
    new documents probe the index (:func:`lsh_probe`) instead of joining
    against all historical text.  Signatures are per-document, so an index
    built corpus-at-once and one grown batch-by-batch are identical."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n=n,
                             num_hashes=num_hashes, seed=seed,
                             shingle_df=shingle_df, hash_family=hash_family)
    # both families carry bigint h{k} columns now; cast explicitly so the
    # bucket string matches the oracle's ``h0 || ',' || h1`` rendering
    bucket_of = (lambda cols: F.md5(F.concat_ws(",", *[c.cast("string")
                                                       for c in cols]))) \
        if hash_family == "md5" else \
        (lambda cols: F.xxhash64(F.concat_ws(",", *[c.cast("string")
                                                    for c in cols])))
    band_structs = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 bucket_of([F.col(f"h{b * r + j}") for j in range(r)])
                 .alias("bucket"))
        for b in range(bands)])
    return (sig.select(F.col(id_col), F.explode(band_structs).alias("bb"))
               .select(id_col, F.col("bb.band").alias("band"),
                       F.col("bb.bucket").alias("bucket")))


def lsh_probe(new_bands: DataFrame, index_bands: DataFrame,
              id_col: str = "doc_id", *,
              max_bucket: Optional[int] = None) -> DataFrame:
    """Incremental near-dup candidates: new documents' band rows vs a
    persisted index (:func:`minhash_band_table`) — the ingest-pipeline
    shape at 100 TB, where each batch is ~0.1 % of the corpus and
    re-running the all-pairs self-join would rescan everything.

    Equi-join on ``(band, bucket)``; with the index stored bucketed on
    those keys the probe shuffles ONLY the new batch.  Returns distinct
    ``(id_new, id_index)`` pairs (a new doc may also pair with an earlier
    doc of the same batch if the caller includes the batch in the index).
    ``max_bucket`` caps INDEX bucket size pre-join, as in
    :func:`minhash_lsh_candidates`."""
    idx = index_bands
    if max_bucket is not None:
        ok = (idx.groupBy("band", "bucket")
                 .agg(F.count(F.lit(1)).alias("_bs"))
                 .filter(F.col("_bs") <= max_bucket)
                 .select("band", "bucket"))
        idx = idx.join(ok, ["band", "bucket"])
    a = new_bands.alias("a")
    b = idx.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("id_new"),
                     F.col(f"b.{id_col}").alias("id_index"))
             .distinct())


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", *, n: int = 3,
                           num_hashes: int = 64, bands: int = 16,
                           seed: int = 42,
                           shingle_df: Optional[DataFrame] = None,
                           hash_family: str = "xxhash64",
                           max_bucket: Optional[int] = None) -> DataFrame:
    """LSH banding: split the signature into ``bands`` rows-per-band chunks,
    hash each chunk, self-join on (band_index, chunk_hash).

    Two docs land in the same bucket iff one band of their signatures agrees
    exactly — the classic (s^r) curve.  Returns distinct candidate (id_a,
    id_b) pairs; verify with ``jaccard_pairs`` semantics downstream.

    ``max_bucket`` caps bucket size before the self-join: a bucket of d
    docs yields d(−1)/2 pairs, and at web scale one template bucket (empty
    docs, boilerplate) can emit billions.  Overflowing buckets are dropped
    — their members, being near-identical to thousands of others, are
    still caught in OTHER bands with overwhelming probability (a pair is a
    candidate if ANY of the ``bands`` buckets matches).  Default ``None``
    = exact classic behavior.
    """
    band_rows = minhash_band_table(df, text_col, id_col, n=n,
                                   num_hashes=num_hashes, bands=bands,
                                   seed=seed, shingle_df=shingle_df,
                                   hash_family=hash_family)
    # tiny (docs × bands rows of 3 scalars) — cache so the self-join's two
    # sides don't each recompute the signatures
    band_rows = band_rows.cache()
    if max_bucket is not None:
        ok = (band_rows.groupBy("band", "bucket")
                       .agg(F.count(F.lit(1)).alias("_bs"))
                       .filter(F.col("_bs") <= max_bucket)
                       .select("band", "bucket"))
        band_rows = band_rows.join(ok, ["band", "bucket"])
    a, b_ = band_rows.alias("a"), band_rows.alias("b")
    return (a.join(b_, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
             .distinct())


def dedup_minhash(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", *, n: int = 3,
                  num_hashes: int = 64, bands: int = 16,
                  threshold: float = 0.7, seed: int = 42,
                  hash_family: str = "xxhash64") -> DataFrame:
    """Near-dup pairs: LSH candidates verified by exact n-gram Jaccard.

    ``hash_family="md5"`` swaps the xxhash64 minima for md5-hex-string
    minima — same algorithm, an engine-portable hash family, so the whole
    pipeline (signatures → bands → candidates → verify) is reproducible in
    an SQL oracle.  xxhash64 stays the production default (~2-3× faster)."""
    key_col = "shingle" if hash_family == "md5" else "s64"
    sh = shingle_table(df, text_col, id_col, n)
    if hash_family != "md5":
        # 8-byte join keys: the shuffle moves longs, not ~n-word strings
        sh = sh.select(F.col(id_col), F.xxhash64("shingle").alias("s64"))
    sh = sh.cache()  # feeds 3 consumers
    cands = minhash_lsh_candidates(df, text_col, id_col, n=n,
                                   num_hashes=num_hashes, bands=bands,
                                   seed=seed, shingle_df=sh,
                                   hash_family=hash_family)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    sa = sh.select(F.col(id_col).alias("id_a"), F.col(key_col))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col(key_col))
    inter = (cands.join(sa, "id_a").join(sb, ["id_b", key_col])
                  .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("inter")))
    out = (inter
           .join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
           .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
           .withColumn("jaccard", F.col("inter") /
                       (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
           .filter(F.col("jaccard") >= threshold)
           .select("id_a", "id_b", "jaccard"))
    return out


# ------------------------------------------------------------- dup clusters

def dup_clusters(pairs: DataFrame, *, max_iters: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → ``(doc_id, cluster_id)``
    with cluster_id = min id in the component (the survivor each duplicate
    group keeps).  Input: (id_a, id_b) pairs from any dedup operator.

    A :func:`fetch_local`-sized pair list (width 2) runs driver
    union-find, orders of magnitude fewer jobs than a distributed
    fixpoint; past the cap :func:`dup_clusters_distributed` runs."""
    tbl = fetch_local(pairs.select("id_a", "id_b"), width=2)
    if tbl is None:
        return dup_clusters_distributed(pairs, max_iters=max_iters)
    comps = min_label_components(zip(tbl.column(0).to_pylist(),
                                     tbl.column(1).to_pylist()))
    dt = pairs.schema["id_a"].dataType.simpleString()
    return local_frame(pairs.sparkSession, list(comps.items()),
                       f"doc_id {dt}, cluster_id {dt}")


def min_label_components(edges, nodes=()) -> dict:
    """``{node: smallest node of its connected component}`` by driver
    union-find over undirected ``(a, b)`` edges; ``nodes`` adds
    vertices that may have no edge."""
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:              # min id wins as the representative
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}


def dup_clusters_distributed(pairs: DataFrame, *,
                             max_iters: int = 20) -> DataFrame:
    """The distributed half of :func:`dup_clusters`: iterative min-label
    propagation WITH pointer jumping — each round every node adopts the
    smallest label among itself and its neighbors, then its label's
    label (path halving), so a chain-shaped component converges in
    O(log diameter) rounds, each two joins + one groupBy.  Raises
    ``RuntimeError`` if the fixpoint is not reached in ``max_iters``
    (never returns silently-partial clusters)."""
    # materialize the pair list ONCE, eagerly: both directions and every
    # round derive from it, and the upstream pair computation (shingle
    # self-join / LSH) is the expensive part.  Eager, so AQE plans the
    # first round over a materialized input (one job fewer at sf0.01)
    p2 = pairs.select(F.col("id_a").alias("src"),
                      F.col("id_b").alias("dst")).localCheckpoint(eager=True)
    # both directions, derived from the MATERIALIZED pairs — the union
    # here only re-reads checkpointed rows, and it drives every round
    edges = (p2.unionByName(p2.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst")))
             .cache())
    labels = (edges.select(F.col("src").alias("id"))
              .distinct()
              .withColumn("cluster_id", F.col("id")))
    converged = False
    for it in range(max_iters):
        neighbor_min = (edges.join(labels, edges.dst == labels.id)
                        .groupBy("src")
                        .agg(F.min("cluster_id").alias("nmin")))
        stepped = (labels.join(neighbor_min, labels.id == neighbor_min.src,
                               "left")
                   .select(F.col("id"),
                           F.col("cluster_id").alias("_old"),
                           F.least(F.col("cluster_id"),
                                   F.coalesce(F.col("nmin"),
                                              F.col("cluster_id")))
                           .alias("_mid")))
        # pointer jumping (path halving): adopt my label's label — every
        # label value IS a node id, so `stepped` has its row; labels only
        # decrease, so the composition stays within the component and
        # collapses chain-shaped components in O(log diameter) rounds
        par = stepped.select(F.col("id").alias("_pid"),
                             F.col("_mid").alias("_plbl"))
        new_lbl = F.least(F.col("_mid"),
                          F.coalesce(F.col("_plbl"), F.col("_mid")))
        updated = (stepped.join(par, stepped["_mid"] == par["_pid"],
                                "left")
                   .select(F.col("id"), new_lbl.alias("cluster_id"),
                           (new_lbl < F.col("_old")).cast("int")
                           .alias("__changed")))
        # materialize the round, then probe convergence with ONE cheap agg
        # over the already-materialized partitions (no extra join replay)
        updated = updated.localCheckpoint(eager=True)
        changed = updated.agg(F.sum("__changed")).first()[0] or 0
        labels = updated.drop("__changed")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iters} rounds "
            "(component diameter > 2^max_iters); raise max_iters")
    return labels.select(F.col("id").alias("doc_id"), "cluster_id")


# -------------------------------------------------------------------- SimHash

def simhash_table(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", *, bits: int = 64,
                  seed: int = 42) -> DataFrame:
    """64-bit SimHash per document: per-bit majority vote over token hashes.

    Explode tokens → hash once per token row → ``bits`` conditional-sum
    aggregates (+1/−1 per bit), then OR the winning bit masks together.
    Plain groupBy aggregates keep the whole thing in codegen with map-side
    combine (a per-row F.aggregate over the token array ×64 bits falls to
    the interpreted evaluator); one shuffle on ``id_col``."""
    tok = (df.select(F.col(id_col), F.explode(tokens(text_col)).alias("_t"))
             .withColumn("_h", F.xxhash64(F.col("_t"), F.lit(seed))))
    votes = []
    masks = []
    for b in range(bits):
        # bit 63 is the sign bit of a signed long: its mask literal is the
        # most negative long, not 1<<63 (which overflows)
        mask = (1 << b) if b < 63 else -(1 << 63)
        masks.append(mask)
        votes.append(F.sum(
            F.when(F.col("_h").bitwiseAND(F.lit(mask)) != 0, 1)
             .otherwise(-1)).alias(f"v{b}"))
    agg = tok.groupBy(id_col).agg(*votes)
    out = F.when(F.col("v0") > 0, F.lit(masks[0])).otherwise(F.lit(0)).cast("long")
    for b in range(1, bits):
        out = out.bitwiseOR(
            F.when(F.col(f"v{b}") > 0, F.lit(masks[b])).otherwise(F.lit(0)).cast("long"))
    return agg.select(F.col(id_col), out.alias("sh"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_table_md5(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", *, bits: int = 64) -> DataFrame:
    """SimHash signature from the first ``bits/4`` hex chars of
    ``md5(token)`` — the engine-portable hash family (production default is
    :func:`simhash_table`'s xxhash64).  Output is a ``bits``-char '0'/'1'
    string, MSB first, so an SQL oracle can rebuild it char-for-char.
    Same plan shape: explode tokens → ``bits`` conditional-sum vote
    aggregates (all codegen, map-side combined), one shuffle on id."""
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("_t"))
    hx = F.md5(F.col("_t"))
    votes = []
    for b in range(bits):
        ci = b // 4 + 1              # 1-based hex char position
        shift = 3 - b % 4            # bit within the char, MSB first
        val = F.conv(F.substring(hx, ci, 1), 16, 10).cast("int")
        bit = F.shiftright(val, shift).bitwiseAND(F.lit(1))
        votes.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"v{b}"))
    agg = tok.groupBy(id_col).agg(*votes)
    sig = F.concat(*[F.when(F.col(f"v{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
                     for b in range(bits)])
    return agg.select(F.col(id_col), sig.alias("sh_bits"))


def simhash_near_dups_md5(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", *, max_hamming: int = 8,
                          prefix_bits: int = 16, bits: int = 64) -> DataFrame:
    """Near-dup pairs by the md5-family SimHash — same bit family the SQL
    oracle rebuilds char-for-char, but packed into ONE 64-bit long on the
    Spark side: each md5 hex char is parsed once (16 ``conv`` projections,
    not 64), votes OR into a signature long, blocking is a shift, and the
    Hamming filter is ``bit_count(a XOR b)`` instead of 64 per-pair string
    comparisons (the string formulation measured 2× slower at sf0.1).
    The final (id_a, id_b, hamming) values are bit-identical to the
    string oracle's."""
    if bits != 64:
        raise ValueError("packed md5 simhash is 64-bit")
    # Spread a too-few-partition input first (single-row-group bench
    # fixtures scan as ONE split, guide §2.5): the per-token md5 + 16
    # hex-char parses below otherwise run fused into a 1-task scan
    # stage (measured 2.1 s of a 4.0 s query).  Round-robin of the raw
    # doc rows is a no-op at scale (gate: partitions <
    # defaultParallelism) and the per-doc vote sums are exact integers,
    # identical under any partitioning.
    df = _spread_scan(df)
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("_t"))
    hx = F.md5(F.col("_t"))
    # SIMD-in-a-register vote counting: each hex char carries 4 signature
    # bits, and a 16-entry lookup spreads them into four 16-bit lanes of a
    # long, so ONE long sum per char replaces four conditional-sum
    # aggregates (16 sums + a count instead of 64 — measured ~2× on the
    # sf0.1 bench).  Lane k of sum _s{i} counts tokens whose char i has
    # bit (3-k) set; the majority vote for bit b=4i+k is then
    # 2*count > n.  Lanes hold counts < 2^16: fine for any document under
    # 65k tokens — longer docs should use the xxhash64 production variant
    # (simhash_near_dups), which has no lane packing.
    lut = [sum((((v >> (3 - k)) & 1) << (16 * k)) for k in range(4))
           for v in range(16)]
    lut_arr = F.array(*[F.lit(x).cast("long") for x in lut])
    tok = tok.select(id_col, *[
        F.element_at(lut_arr,
                     F.conv(F.substring(hx, i + 1, 1), 16, 10)
                      .cast("int") + 1).alias(f"_p{i}")
        for i in range(bits // 4)])
    agg = tok.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(f"_p{i}").alias(f"_s{i}") for i in range(bits // 4)])

    # assemble the signature long in ONE vectorized Arrow pass over the
    # per-doc aggregate (one row per doc): the previous 64-term
    # when/bitwiseOR chain cost ~2 s of Py4J plan construction plus ~3 s
    # of codegen compile per invocation — far more than the numpy work
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _sig(sums: pd.Series, n: pd.Series) -> pd.Series:
        import numpy as np
        S = (np.stack(sums.to_numpy()).astype(np.int64)
             if len(sums) else np.zeros((0, bits // 4), dtype=np.int64))
        N = n.to_numpy().astype(np.int64)
        if len(N) and int(N.max()) >= 65536:
            # a 65536-token doc overflows a 16-bit lane into the next
            # bit's count — corrupt signatures, silently.  Fail loudly.
            raise ValueError(
                "simhash_near_dups_md5: document with >= 65536 tokens "
                "overflows the packed vote lanes; use simhash_near_dups "
                "(xxhash64 family, unpacked votes) for long documents")
        sig = np.zeros(len(N), dtype=np.uint64)
        for i in range(bits // 4):
            v = S[:, i]
            for k in range(4):
                cnt = (v >> (16 * k)) & 0xFFFF
                b = 4 * i + k                      # MSB-first bit index
                # vote = 2*cnt − n; majority ⇔ 2*cnt > n (= sum(±1) > 0)
                sig |= ((2 * cnt > N).astype(np.uint64)
                        << np.uint64(63 - b))
        return pd.Series(sig.view(np.int64))

    h = (agg.select(
            F.col(id_col),
            _sig(F.array(*[f"_s{i}" for i in range(bits // 4)]),
                 F.col("_n")).alias("sh"))
            .withColumn("block",
                        F.shiftrightunsigned(F.col("sh"), 64 - prefix_bits))
            .cache())
    a, b_ = h.alias("a"), h.alias("b")
    return (a.join(b_, (F.col("a.block") == F.col("b.block"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .withColumn("hamming",
                         F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))))
             .filter(F.col("hamming") <= max_hamming)
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"), "hamming"))


def simhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", *, max_hamming: int = 8,
                      prefix_bits: int = 16, seed: int = 42,
                      max_block: Optional[int] = None) -> DataFrame:
    """Near-dup pairs by SimHash: block on the top ``prefix_bits`` bits
    (near-dups usually share the prefix after one rotation — this uses the
    single-block simplification), then filter by Hamming distance.

    ``max_block`` is the skew valve: degenerate corpora concentrate one
    block (empty/template docs hash to the same signature → d²/2 pairs in
    one task).  Blocks over the cap are dropped with the same rationale as
    ``minhash_lsh_candidates(max_bucket=...)``; exact mode is the default.
    """
    h = simhash_table(df, text_col, id_col, seed=seed)
    h = h.withColumn("block", F.shiftright("sh", 64 - prefix_bits))
    # one (id, sh, block) row per doc — cache so the self-join's two sides
    # don't each replay the explode + 64-vote aggregation
    h = h.cache()
    if max_block is not None:
        ok = (h.groupBy("block").agg(F.count(F.lit(1)).alias("_bs"))
               .filter(F.col("_bs") <= max_block).select("block"))
        h = h.join(ok, "block")
    a, b = h.alias("a"), h.alias("b")
    return (a.join(b, (F.col("a.block") == F.col("b.block"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .withColumn("hamming", hamming64(F.col("a.sh"), F.col("b.sh")))
             .filter(F.col("hamming") <= max_hamming)
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"), "hamming"))


# ------------------------------------------------------------- winnowing

_WINNOW_POS_CAP = 1 << 20  # 1M grams/doc: packing bound, raise for books


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", *, k: int = 5, w: int = 4,
                        hash_family: str = "xxhash64") -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    2003 — the MOSS algorithm): hash every positional k-gram, slide a
    w-gram window, keep the *rightmost minimal* hash per window, distinct
    the selections.  Guarantees every shared substring of length
    ``k + w - 1`` contributes a shared fingerprint, at ~2/(w+1) the k-gram
    density.

    Spark-first shape: positional grams via posexplode + window ``lead``
    (codegen, no HOFs); the rightmost-min-per-window selection packs
    ``(hash, w - 1 - pos)`` into ONE bigint so a single windowed ``min``
    resolves both the minimum and its rightmost position — no struct
    ordering (portable to the SQL oracle), no second window pass.  Cost:
    one shuffle on ``id_col`` for the per-doc windows, then a distinct.

    ``hash_family="md5"`` uses the engine-portable 32-bit md5-prefix hash
    (exact SQL parity, ``q_fingerprint_winnow``); xxhash64 (folded to 32
    bits) stays the production default.

    Returns distinct ``(id_col, fp_hash, fp_pos)`` rows.
    """
    from pyspark.sql.window import Window

    from orange3_spark.text.analysis import tokens

    toks = tokens(text_col)
    tok = df.select(F.col(id_col), F.posexplode(toks).alias("_pos", "_tok"))
    ww = Window.partitionBy(id_col).orderBy("_pos")
    parts = [F.col("_tok")] + [F.lead("_tok", j).over(ww)
                               for j in range(1, k)]
    grams = (tok.select(F.col(id_col), F.col("_pos"),
                        F.concat_ws(" ", *parts).alias("gram"),
                        F.lead("_tok", k - 1).over(ww).alias("_lastt"))
                .filter(F.col("_lastt").isNotNull()))
    if hash_family == "md5":
        h32 = F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10) \
            .cast("long")
    else:
        h32 = F.pmod(F.xxhash64(F.col("gram")), F.lit(1 << 32)).cast("long")
    cap = F.lit(_WINNOW_POS_CAP)
    packed = (grams.select(
        F.col(id_col), F.col("_pos"),
        (h32 * cap + (cap - 1 - F.pmod(F.col("_pos"), cap))).alias("_pk")))
    w2 = Window.partitionBy(id_col).orderBy("_pos") \
               .rowsBetween(-(w - 1), Window.currentRow)
    sel = (packed
           .withColumn("_win_min", F.min("_pk").over(w2))
           .filter(F.col("_pos") >= w - 1)  # full windows only
           .select(F.col(id_col),
                   (F.col("_win_min") / cap).cast("long").alias("fp_hash"),
                   (cap - 1 - F.pmod(F.col("_win_min"), cap))
                   .alias("fp_pos")))
    return sel.distinct()


# ------------------------------------------------------- repeated spans

def repeated_span_stats(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", *, n: int = 10,
                        min_df: int = 2,
                        max_df: Optional[int] = None) -> DataFrame:
    """Cross-document repeated-span statistics — the span-level dedup
    signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"): for every document, how many of its
    distinct word n-gram spans also occur in ≥ ``min_df``−1 OTHER
    documents, and what fraction of its spans that is.  Upstream of
    span REMOVAL (which needs a tokenizer-aligned rewrite), the flag
    frame is what a pipeline filters or audits on.

    Plan: the existing shingle table (posexplode + window ``lead``,
    distinct per doc) → span document frequency (one groupBy on the
    64-bit span hash) → semi-aggregated join back.  ``max_df`` caps
    pathological boilerplate spans exactly like ``jaccard_pairs`` —
    spans present in more than ``max_df`` docs still COUNT as repeated
    but are dropped from the join side valve-style only when set.
    All integer counts — exact under any partitioning, and the oracle
    replays the same CTEs in SQL (``q_repeated_spans``)."""
    sh = (shingle_table(df, text_col, id_col, n)
          .select(F.col(id_col), F.xxhash64("shingle").alias("s64")))
    dfreq = sh.groupBy("s64").agg(F.count(F.lit(1)).alias("df"))
    rep = dfreq.filter(F.col("df") >= min_df)
    if max_df is not None:
        rep = rep.filter(F.col("df") <= max_df)
    totals = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_spans"))
    shared = (sh.join(rep.select("s64"), "s64")
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("n_shared")))
    return (totals.join(shared, id_col, "left")
            .select(F.col(id_col), "n_spans",
                    F.coalesce(F.col("n_shared"), F.lit(0))
                    .alias("n_shared"))
            .withColumn("shared_frac",
                        F.col("n_shared").cast("double")
                        / F.col("n_spans").cast("double")))


# ------------------------------------------- content-defined chunking

def cdc_chunks(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", *, k: int = 3, divisor: int = 8,
               keep: Sequence[str] = ()) -> DataFrame:
    """Content-defined chunking (the Rabin/FastCDC family, token-level):
    split every document at positions where the hash of the trailing
    ``k``-token gram satisfies ``h % divisor == 0`` — boundaries move
    WITH the content, so an insertion early in a document shifts only
    the one chunk it lands in, and every other chunk still dedups
    (fixed-size blocks would mis-align everything downstream; that is
    the whole point of CDC storage/backup systems, applied here to
    chunk-level corpus dedup between near-identical revisions).

    Spark-first shape: posexplode + per-doc window ``lag`` builds the
    trailing grams, a lagged windowed cumsum of boundary flags assigns
    chunk numbers, and one groupBy rebuilds each chunk (order pinned by
    ``array_sort`` on (pos, token) structs — no collect_list order
    assumption).  Everything is md5-integer arithmetic, so the SQL
    oracle replays boundary selection and chunk hashes exactly.

    Mean chunk length ≈ ``divisor`` tokens.  Returns one row per chunk:
    ``(*keep, id_col, chunk_no, chash, n_tok)``.
    """
    from pyspark.sql.window import Window

    toks = tokens(text_col)
    tok = df.select(*keep, F.col(id_col),
                    F.posexplode(toks).alias("_pos", "_tok"))
    ww = Window.partitionBy(id_col).orderBy("_pos")
    parts = [F.lag("_tok", j).over(ww) for j in range(k - 1, 0, -1)]
    gram = F.concat_ws(" ", *parts, F.col("_tok"))
    h32 = F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")
    flag = ((F.col("_pos") >= k - 1)
            & (h32 % F.lit(divisor) == 0)).cast("long")
    cum = Window.partitionBy(id_col).orderBy("_pos") \
                .rowsBetween(Window.unboundedPreceding, -1)
    body = (tok.withColumn("_flag", flag)
               .withColumn("chunk_no",
                           F.coalesce(F.sum("_flag").over(cum), F.lit(0))))
    ctext = F.array_join(
        F.transform(F.array_sort(F.collect_list(F.struct("_pos", "_tok"))),
                    lambda s: s["_tok"]), " ")
    return (body.groupBy(*keep, id_col, "chunk_no")
                .agg(ctext.alias("_ctext"),
                     F.count(F.lit(1)).alias("n_tok"))
                .select(*keep, id_col, "chunk_no",
                        F.conv(F.substring(F.md5(F.col("_ctext")), 1, 8),
                               16, 10).cast("long").alias("chash"),
                        "n_tok"))


def cdc_chunk_stats(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", *, k: int = 3,
                    divisor: int = 8,
                    group_col: str = "source") -> DataFrame:
    """Chunk-level dup pressure per ``group_col``: total/duplicated
    chunk and token counts, where a chunk is duplicated iff its content
    hash occurs in more than one (doc, chunk) instance corpus-wide.

    Occurrence counting is a groupBy + equi-join back (NOT a window
    over the chunk hash): the partial aggregation absorbs hot identical
    chunks map-side and AQE's skew-join split covers the join, whereas
    a hash-partitioned window would funnel every instance of a
    boilerplate chunk through one task with no mitigation.
    """
    ch = cdc_chunks(df, text_col, id_col, k=k, divisor=divisor,
                    keep=(group_col,))
    occ = ch.groupBy("chash").agg(F.count(F.lit(1)).alias("_occ"))
    dup = (F.col("_occ") > 1).cast("long")
    return (ch.join(occ, "chash")
              .withColumn("_dup", dup)
              .groupBy(group_col)
              .agg(F.count(F.lit(1)).alias("n_chunks"),
                   F.sum("_dup").alias("n_dup_chunks"),
                   F.sum("n_tok").alias("n_tokens"),
                   F.sum(F.col("_dup") * F.col("n_tok"))
                   .alias("n_dup_tokens")))


# ---------------------------------------------------------- line-level dedup

def dedup_lines(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", *, sep: str = "\n",
                min_docs: int = 2,
                normalize: bool = True) -> DataFrame:
    """CCNet-style cross-document LINE deduplication (Wenzek et al.
    2020): a line occurring in ≥ ``min_docs`` distinct documents is
    boilerplate (headers, footers, nav chrome, licence lines) and is
    removed from EVERY document; survivors are reassembled in original
    order.  Returns ``(id_col, n_lines, n_kept, clean_text)``.

    Plan shape at 100 TB: posexplode → one distinct on (doc, key) →
    groupBy(key) count (map-side combinable) → the common-line set
    joins back as a plain equi-join on the line key (NOT broadcast —
    the common set is data-dependent and can be huge on web corpora) →
    groupBy(doc) reassembly.  Matching is on ``lower(trim(line))`` when
    ``normalize`` (the CCNet choice); emitted text keeps the original
    bytes."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep))
        .alias("pos", "line"))
    key = (F.lower(F.trim(F.col("line"))) if normalize
           else F.col("line"))
    lines = lines.withColumn("key", key)
    common = (lines.select(id_col, "key").distinct()
              .groupBy("key")
              .agg(F.count(F.lit(1)).alias("nd"))
              .where(F.col("nd") >= min_docs)
              .select("key"))
    kept = lines.join(common, "key", "left_anti")
    n_all = (lines.groupBy(id_col)
             .agg(F.count(F.lit(1)).cast("long").alias("n_lines")))
    # order-preserving reassembly: sort the (pos, line) structs inside
    # the group — row-local HOFs, fine off the hot path
    reassembled = (kept.groupBy(id_col)
                   .agg(F.count(F.lit(1)).cast("long").alias("n_kept"),
                        F.array_join(
                            F.transform(
                                F.array_sort(F.collect_list(
                                    F.struct("pos", "line"))),
                                lambda x: x["line"]),
                            sep).alias("clean_text")))
    return (n_all.join(reassembled, id_col, "left")
            .select(id_col, "n_lines",
                    F.coalesce("n_kept", F.lit(0)).cast("long")
                    .alias("n_kept"),
                    F.coalesce("clean_text", F.lit(""))
                    .alias("clean_text")))
