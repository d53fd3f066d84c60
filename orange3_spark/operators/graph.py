"""Graph propagation operators — fixed-point PageRank.

The reference has no graph engine (its network add-on is out of core),
but a 100 TB corpus pipeline constantly needs link-style propagation:
domain authority over a web graph, account importance over an
interaction graph, dedup-cluster centrality.  The classic Spark answer
is iterative join+aggregate (Pregel's "messages" are exactly a
``join(edges, ranks) → groupBy(dst).sum``), which this module
implements with one deliberate twist: **all rank mass is exact int64
fixed-point** (parts-per-``total``), so

* partial aggregation is associative — results are bit-identical under
  any partitioning, executor count, or engine (the float PageRank sum
  ``Σ r(u)/deg(u)`` is famously run-to-run unstable at cluster scale);
* the DuckDB oracle replays iterations verbatim with ``//`` integer
  division.

Scale shape: a driver-sized edge frame runs the exact-int64 local twin
on one :func:`~orange3_spark.session.fetch_local` fetch.  Past the fetch
cap edges are persisted ONCE (the iteration loop must never re-run the
upstream edge derivation — at 100 TB that is the whole input); each
iteration is one shuffle of (dst, contrib) pairs.  Dangling mass is
folded in as a 1-row aggregate cross-joined into the update — no
per-iteration driver action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orange3_spark.session import fetch_local, local_frame

#: total rank mass, in fixed-point "parts" — ranks sum to ≤ this
TOTAL = 10**12


def _pagerank_local(src_idx, dst_idx, n: int, *, iterations: int,
                    damping_pct: int, total: int):
    """The iteration loop on a fetched edge list — the Pregel
    loop's LOCAL TWIN, bit-identical by construction: every quantity is
    exact int64 (ranks ≤ ``total`` = 10¹² and ``ret`` ≤ 85·10¹² stay far
    under 2⁶³), every division is integer division of non-negatives
    (numpy ``//`` ≡ Spark ``div`` ≡ the oracle's ``//`` there), and
    integer sums are order-independent — the same argument that makes
    the distributed update partition-independent.  Returns the final
    int64 rank vector indexed like the factorized node ids."""
    import numpy as np

    outdeg = np.bincount(src_idx, minlength=n).astype(np.int64)
    teleport = (total * (100 - damping_pct)) // 100 // n
    rank = np.full(n, total // n, dtype=np.int64)
    dangling = outdeg == 0   # a node in src_idx always has outdeg ≥ 1
    for _ in range(iterations):
        ret = rank * damping_pct // 100
        contrib_e = ret[src_idx] // outdeg[src_idx]
        acc = np.zeros(n, dtype=np.int64)
        np.add.at(acc, dst_idx, contrib_e)
        dang_share = int(ret[dangling].sum()) // n
        rank = teleport + dang_share + acc
    return rank


def pagerank_frame(edges: DataFrame, *, src: str = "src",
                   dst: str = "dst", iterations: int = 3,
                   damping_pct: int = 85, total: int = TOTAL,
                   persisted: list | None = None) -> DataFrame:
    """Lazy rank frame ``(node, rank)`` after ``iterations`` rounds.

    Exact-integer update (mirrored by the SQL oracle term for term)::

        retained(u) = (rank(u) * damping_pct) div 100
        contrib(e)  = retained(src(e)) div outdeg(src(e))
        dang_share  = (Σ retained over out-degree-0 nodes) div n
        rank'(v)    = (total * (100-damping_pct)) div 100 div n
                      + dang_share + Σ contrib(e to v)

    Caller owns persistence of ``edges`` (see :func:`pagerank_topk`);
    the returned plan references it ``iterations`` times.
    ``n = |nodes|`` is fetched driver-side once (one count job).

    Cache ownership: with ``persisted`` supplied, every frame this
    function persists is appended to it and the caller unpersists after
    its action.  With ``persisted=None`` (direct calls, e.g. tests) the
    intermediates (nodes / message table / dangling set) are released
    here once the final ranks are materialized; only the returned frame
    stays cached, exposed as ``result.pagerank_cache`` — unpersist it
    when done (mirrors the ``bpe_cache`` convention in text/bpe.py).
    On the bounded local-twin path (a :func:`fetch_local`-sized edge
    frame) the result is an Arrow-backed ``LocalRelation`` and
    ``pagerank_cache`` is ``None`` — nothing stays cached."""
    from pyspark import StorageLevel

    raw = edges.select(F.col(src).cast("string").alias("src"),
                       F.col(dst).cast("string").alias("dst"))
    # bounded local twin: ONE parallel fetch of the edge frame replaces
    # the nodes count, dangling probe and every per-iteration
    # join/agg/persist job.  Past the fetch cap the Pregel loop below
    # runs unchanged.
    tbl = fetch_local(raw, width=2)
    if tbl is not None:
        import pandas as pd

        if not tbl.num_rows:
            raise ValueError("pagerank on an empty edge set (0 nodes)")
        codes, uniq = pd.factorize(pd.concat(
            [tbl.column("src").to_pandas(), tbl.column("dst").to_pandas()],
            ignore_index=True))
        m = tbl.num_rows
        rank = _pagerank_local(
            codes[:m], codes[m:], len(uniq),
            iterations=iterations, damping_pct=damping_pct, total=total)
        out = local_frame(
            edges.sparkSession,
            [(str(nd), int(rk)) for nd, rk in zip(uniq, rank)],
            "node string, rank long")
        out.pagerank_cache = None
        return out
    raw = raw.persist(StorageLevel.MEMORY_AND_DISK)
    outdeg = raw.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # message table (src, dst, outdeg), pre-partitioned by src and
    # persisted: InMemoryRelation keeps the partitioning, so each
    # iteration's join exchanges ONLY the rank table — the edge side
    # (the 100 TB side) never moves again.  The raw edge derivation is
    # scanned exactly once (into `raw`), then released.
    e2 = (raw.join(outdeg, "src").repartition(F.col("src"))
          .persist(StorageLevel.MEMORY_AND_DISK))
    # one scan of the (cached-on-first-use) message table derives nodes
    nodes = (e2.select(F.explode(F.array("src", "dst")).alias("node"))
             .distinct()
             .persist(StorageLevel.MEMORY_AND_DISK))
    n = nodes.count()
    raw.unpersist()
    if n == 0:
        raise ValueError("pagerank on an empty edge set (0 nodes)")
    dangling = nodes.join(e2.select(F.col("src").alias("node")),
                          "node", "left_anti")
    # static property probed ONCE: a symmetric/strongly-covering graph
    # has no dangling nodes, and the per-iteration dangling aggregate
    # (a semi-join + 1-row agg + broadcast) is pure overhead then
    has_dangling = dangling.limit(1).count() > 0
    if has_dangling:
        dangling = dangling.persist(StorageLevel.MEMORY_AND_DISK)
    if persisted is not None:      # caller unpersists after its action
        persisted.extend([nodes, e2]
                         + ([dangling] if has_dangling else []))
    teleport = (total * (100 - damping_pct)) // 100 // n
    ranks = nodes.withColumn("rank", F.lit(total // n).cast("long"))
    prev = None
    for it in range(iterations):
        retained = ranks.withColumn(
            "ret", F.expr(f"(rank * {damping_pct}) div 100"))
        contrib = (e2.join(retained.select(F.col("node").alias("src"),
                                           "ret"), "src")
                   .select(F.col("dst").alias("node"),
                           F.expr("ret div outdeg").alias("c"))
                   .groupBy("node")
                   .agg(F.sum("c").alias("contrib")))
        ranks = nodes.join(contrib, "node", "left")
        if has_dangling:
            # dangling mass: 1-row aggregate folded in lazily (no
            # action); the dangling node SET is static, probed above
            dang = (retained.join(dangling.select("node"), "node",
                                  "left_semi")
                    .agg(F.coalesce(F.sum("ret"), F.lit(0))
                         .alias("dang")))
            ranks = ranks.crossJoin(F.broadcast(dang))
            dang_share = F.expr(f"dang div {n}")
        else:
            dang_share = F.lit(0)
        ranks = ranks.select(
            "node",
            (F.lit(teleport) + dang_share
             + F.coalesce(F.col("contrib"), F.lit(0)))
            .cast("long").alias("rank"))
        # materialize each iteration (the Pregel loop shape): `retained`
        # feeds BOTH the contrib and dangling branches, so a lazy chain
        # re-executes every earlier iteration once per branch — 2^k
        # recomputation — and unbounded lineage breaks at high k anyway
        ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
        ranks.count()
        if prev is not None:
            prev.unpersist()
        prev = ranks
    if persisted is not None:
        if prev is not None:
            persisted.append(prev)
    else:
        # direct call: the loop has materialized `ranks`, so the
        # upstream caches are no longer needed — release them here
        # instead of leaking them for the life of the session
        e2.unpersist()
        nodes.unpersist()
        if has_dangling:
            dangling.unpersist()
        ranks.pagerank_cache = prev
    return ranks


def pagerank_topk(edges: DataFrame, *, k: int = 20, src: str = "src",
                  dst: str = "dst", iterations: int = 3,
                  damping_pct: int = 85,
                  total: int = TOTAL) -> DataFrame:
    """Top-``k`` nodes by rank (ties broken by node id — ranks are
    exact integers, so the cut is deterministic).  Persists the edge
    frame for the iteration loop and unpersists before returning a
    small Arrow-backed ``LocalRelation``."""
    spark = edges.sparkSession
    handles: list = []
    try:
        ranks = pagerank_frame(edges, src=src, dst=dst,
                               iterations=iterations,
                               damping_pct=damping_pct, total=total,
                               persisted=handles)
        top = (ranks.orderBy(F.desc("rank"), F.asc("node"))
               .limit(k).collect())
    finally:
        for h in handles:
            h.unpersist()
    return local_frame(
        spark, [(r["node"], int(r["rank"])) for r in top],
        "node string, rank long")
