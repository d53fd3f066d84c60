"""Community detection on a kNN graph.

Reference: ``Orange/clustering/louvain.py`` — builds a kNN graph from table
rows (``table_to_knn_graph``), then runs python-louvain's modularity
optimizer, all in memory.

Spark shape: modularity-greedy Louvain is inherently sequential, so the
scalable stand-in is **synchronous label propagation** over the same kNN
graph (Raghavan et al. 2007 — the standard distributed community algorithm,
also what GraphX/GraphFrames ship).  Each round is one join + one grouped
mode; convergence is a count of changed labels.  Deterministic: ties break
to the smallest label, so results are reproducible run-to-run — important
both for tests and for the reference's seeded behavior.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from orange3_spark.session import fetch_local, local_frame


def knn_graph(df: DataFrame, id_col: str, cols: Sequence[str], *,
              k: int = 5, metric: str = "euclidean") -> DataFrame:
    """Symmetric kNN edge list ``(src, dst)`` — mutual OR one-directional
    neighbor, matching the reference's undirected graph
    (louvain.py: kneighbors_graph -> symmetrized).

    Correctness regime is the O(n²) pair frame; at scale swap in an
    LSH-bucketed candidate frame (similarity.lsh_bucket_knn)."""
    from orange3_spark.stats.distance import row_distances

    pairs = row_distances(df, id_col, cols, metric=metric)
    # row_distances emits id_a < id_b only; mirror to get both directions
    both = pairs.union(pairs.select(F.col("id_b").alias("id_a"),
                                    F.col("id_a").alias("id_b"), "dist"))
    w = Window.partitionBy("id_a").orderBy("dist", "id_b")
    knn = (both.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") <= k)
               .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    return knn.union(knn.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst"))).distinct()


def label_propagation(edges: DataFrame, *, max_iters: int = 20) -> DataFrame:
    """Synchronous label propagation: every node adopts the most frequent
    label among its neighbors (ties -> smallest label), until no label
    changes or ``max_iters``.  Returns ``(id, community)`` with communities
    renumbered by smallest member.

    Each round: one shuffle (join on src) + one grouped count — the classic
    iterative-join pattern; ``localCheckpoint`` cuts the growing lineage so
    round N doesn't recompute rounds 1..N-1.  A :func:`fetch_local`-sized
    edge list (width 2) runs the identical rounds on the driver.
    """
    tbl = fetch_local(edges.select("src", "dst"), width=2)
    if tbl is not None:
        # edge list is O(edges) scalars — run the identical synchronous
        # rounds on the driver; job-scheduling overhead per distributed
        # round (~1 s) dwarfs this graph's actual work
        from collections import Counter, defaultdict

        adj = defaultdict(list)
        for u, v in zip(tbl.column(0).to_pylist(), tbl.column(1).to_pylist()):
            adj[u].append(v)
        # nodes = src ∪ dst (same universe as the distributed path): a node
        # appearing only as dst still needs a label, and dst labels must
        # exist before the first round reads them
        nodes = set(adj) | {u for nb in adj.values() for u in nb}
        labels_d = {v: v for v in nodes}
        seen_states: set = set()
        for _ in range(max_iters):
            new_d = {}
            for v in nodes:
                nb = adj.get(v)
                if not nb:          # no outgoing edges: keep own label
                    new_d[v] = labels_d[v]
                    continue
                cnt = Counter(labels_d[u] for u in nb)
                top = max(cnt.values())
                new_d[v] = min(l for l, c in cnt.items() if c == top)
            state = hash(frozenset(new_d.items()))
            labels_d = new_d
            if state in seen_states:
                break
            seen_states.add(state)
        # renumber communities by smallest member
        rep: dict = {}
        for v, c in labels_d.items():
            rep[c] = min(rep.get(c, v), v)
        dt = edges.schema["src"].dataType.simpleString()
        return local_frame(
            edges.sparkSession, [(v, rep[c]) for v, c in labels_d.items()],
            f"id {dt}, community {dt}")
    # materialize the graph once — otherwise every round replays the whole
    # upstream lineage (distance pair frame included)
    edges = edges.localCheckpoint(eager=True)
    nodes = (edges.select(F.col("src").alias("id"))
                  .union(edges.select(F.col("dst").alias("id")))
                  .distinct()).localCheckpoint(eager=True)
    labels = nodes.withColumn("community", F.col("id"))
    seen: list[int] = []  # label-state checksums; sync LPA can 2-cycle
    for _ in range(max_iters):
        neigh = (edges.join(labels.withColumnRenamed("id", "dst")
                                  .withColumnRenamed("community", "nb"), "dst")
                      .groupBy("src", "nb")
                      .agg(F.count(F.lit(1)).alias("cnt")))
        w = Window.partitionBy("src").orderBy(F.col("cnt").desc(), "nb")
        new = (neigh.withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") == 1)
                    .select(F.col("src").alias("id"),
                            F.col("nb").alias("community")))
        new = nodes.join(new, "id", "left") \
                   .withColumn("community",
                               F.coalesce("community", F.col("id")))
        new = new.localCheckpoint(eager=True)
        # one agg: order-independent state checksum, doubles as the
        # convergence AND oscillation test (a 2-cycle repeats a checksum)
        cs = new.agg(F.sum(F.hash("id", "community"))).first()[0]
        labels = new
        if cs in seen:
            break
        seen.append(cs)
    # renumber communities by their smallest member id
    rep = labels.groupBy("community").agg(F.min("id").alias("rep"))
    return (labels.join(rep, "community")
                  .select("id", F.col("rep").alias("community")))


# ------------------------------------------------------------------ Louvain

def modularity(edges: DataFrame, labels: DataFrame,
               weight_col: str = None) -> float:
    """Newman modularity Q of an assignment: ``edges`` is the DIRECTED-BOTH
    symmetric edge list, ``labels`` is ``(id, community)``.
    Q = Σ_c [ in_c/2m − (tot_c/2m)² ] in two aggregations."""
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    e = edges.select("src", "dst", w.alias("w"))
    la = labels.withColumnRenamed("id", "src").withColumnRenamed("community", "ca")
    lb = labels.withColumnRenamed("id", "dst").withColumnRenamed("community", "cb")
    joined = e.join(la, "src").join(lb, "dst")
    m2 = float(joined.agg(F.sum("w")).first()[0])        # = 2m
    per_c = (joined.groupBy("ca")
             .agg(F.sum(F.when(F.col("ca") == F.col("cb"), F.col("w"))
                        .otherwise(F.lit(0.0))).alias("inn"),
                  F.sum("w").alias("tot")))
    r = per_c.agg(F.sum(F.col("inn") / m2).alias("a"),
                  F.sum(F.pow(F.col("tot") / m2, 2)).alias("b")).first()
    return float(r.a - r.b)


def _louvain_driver(rows, max_levels: int, max_iters: int) -> dict:
    """Exact sequential Louvain (Blondel et al. 2008) on a collected edge
    list — deterministic: nodes visited in sorted order, ties to the
    smallest community id.  Same greedy as python-louvain
    (Orange/clustering/louvain.py consumes that library)."""
    from collections import defaultdict

    adj: dict = defaultdict(dict)          # directed-both, u≠v
    for u, v, w in rows:
        if u == v:
            continue
        adj[u][v] = adj[u].get(v, 0.0) + w
    nodes = sorted(set(adj) | {v for ws in adj.values() for v in ws})
    final = {u: u for u in nodes}

    for _level in range(max_levels):
        k = {u: sum(adj[u].values()) for u in nodes}
        m2 = sum(k.values())
        if m2 == 0:
            break
        com = {u: u for u in nodes}
        sigma = dict(k)                     # tot degree per community
        moved_any = False
        for _sweep in range(max_iters):
            moved = False
            for u in nodes:
                cu = com[u]
                # weights from u to each neighbouring community; self-loops
                # excluded — they follow u to any community, so they cancel
                dnc = defaultdict(float)
                for v, w in adj[u].items():
                    if v != u:
                        dnc[com[v]] += w
                sigma[cu] -= k[u]
                best_c, best_s = cu, dnc.get(cu, 0.0) - sigma[cu] * k[u] / m2
                for c, d in sorted(dnc.items()):
                    s = d - sigma[c] * k[u] / m2
                    if s > best_s + 1e-12 or (abs(s - best_s) <= 1e-12
                                              and c < best_c):
                        best_c, best_s = c, s
                sigma[best_c] = sigma.get(best_c, 0.0) + k[u]
                if best_c != cu:
                    com[u] = best_c
                    moved = moved_any = True
            if not moved:
                break
        if not moved_any:
            break
        final = {n: com[c] if c in com else c
                 for n, c in ((n, final[n]) for n in final)}
        # contract: communities become nodes; cu == cv pairs become
        # self-loops (already directed-both-doubled) so super-node degrees
        # keep the internal weight — dropping them would skew every gain
        # at the next level
        new_adj: dict = defaultdict(dict)
        for u, ws in adj.items():
            cu = com[u]
            for v, w in ws.items():
                cv = com[v]
                new_adj[cu][cv] = new_adj[cu].get(cv, 0.0) + w
        n_before, n_after = len(nodes), len(set(com.values()))
        adj = new_adj
        nodes = sorted(adj)
        if n_after == n_before or n_after <= 1:
            break
    # renumber by smallest member
    rep: dict = {}
    for n, c in final.items():
        rep[c] = min(rep.get(c, n), n)
    return {n: rep[c] for n, c in final.items()}


def louvain(edges: DataFrame, *, weight_col: str = None,
            max_levels: int = 10, max_iters: int = 20) -> DataFrame:
    """Modularity-optimizing Louvain over a symmetric edge list →
    ``(id, community)``.

    A :func:`fetch_local`-sized edge list (width 3): exact sequential
    greedy on the driver — the edge list is O(edges) scalars,
    and Louvain's sweep is inherently sequential, so this is both faster
    and exactly the reference algorithm.  Above it: synchronous
    parallel moves (each round = one join + grouped argmax of modularity
    gain), parity-damped so two adjacent nodes cannot swap forever — the
    standard distributed Louvain relaxation (one level, then community
    contraction and repeat).  Deterministic on both paths.
    """
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    e0 = edges.select("src", "dst", w.cast("double").alias("w"))
    tbl = fetch_local(e0, width=3)
    if tbl is not None:
        rows = zip(*(c.to_pylist() for c in tbl.columns))
        lab = _louvain_driver(rows, max_levels, max_iters)
        dt = edges.schema["src"].dataType.simpleString()
        return local_frame(edges.sparkSession, sorted(lab.items()),
                           f"id {dt}, community {dt}")

    # ---- distributed path: move phase + contraction per level
    mapping = None        # node -> community across levels
    e = e0.localCheckpoint(eager=True)
    for _level in range(max_levels):
        m2 = float(e.agg(F.sum("w")).first()[0])
        deg = e.groupBy("src").agg(F.sum("w").alias("k"))
        labels = deg.select(F.col("src").alias("id"),
                            F.col("src").alias("community"), "k")
        labels = labels.localCheckpoint(eager=True)
        quiet, level_moved = 0, False
        for it in range(max_iters):
            sig = labels.groupBy("community").agg(F.sum("k").alias("sigma"))
            lbl_dst = labels.select(F.col("id").alias("dst"),
                                    F.col("community").alias("cdst"))
            # self-loops excluded from neighbour weights (they follow the
            # node anywhere, so they cancel in every gain comparison)
            dnc = (e.filter(F.col("src") != F.col("dst"))
                    .join(lbl_dst, "dst")
                    .groupBy("src", "cdst").agg(F.sum("w").alias("dnc")))
            me = labels.select(F.col("id").alias("src"),
                               F.col("community").alias("cur"), "k")
            # staying score: dnc to OWN community (0 when alone there),
            # σ_tot excluding the node itself
            stay = (me.join(sig.withColumnRenamed("community", "cur"), "cur")
                      .join(dnc.withColumnRenamed("cdst", "cur"),
                            ["src", "cur"], "left")
                      .select("src", "cur", "k",
                              (F.coalesce("dnc", F.lit(0.0))
                               - (F.col("sigma") - F.col("k"))
                               * F.col("k") / F.lit(m2)).alias("stay_s")))
            cand = (dnc.join(stay, "src")
                       .filter(F.col("cdst") != F.col("cur"))
                       .join(sig.withColumnRenamed("community", "cdst"),
                             "cdst"))
            score = (F.col("dnc")
                     - F.col("sigma") * F.col("k") / F.lit(m2))
            wnd = Window.partitionBy("src").orderBy(
                F.col("s").desc(), F.col("cdst"))
            # parity damping: even-hash ids move on even rounds, odd on odd —
            # synchronous best-move without it lets neighbours swap forever
            par = F.pmod(F.xxhash64(F.col("id")), F.lit(2)) == (it % 2)
            moves = (cand.withColumn("s", score)
                         .withColumn("rn", F.row_number().over(wnd))
                         .filter((F.col("rn") == 1)
                                 & (F.col("s") > F.col("stay_s") + 1e-12))
                         .select(F.col("src").alias("id"),
                                 F.col("cdst").alias("new"))
                         .filter(par)
                         .localCheckpoint(eager=True))
            if moves.count() == 0:
                quiet += 1
                if quiet >= 2:      # stable across both parities
                    break
                continue
            quiet, level_moved = 0, True
            labels = (labels
                      .join(moves, "id", "left")
                      .withColumn("community",
                                  F.coalesce("new", F.col("community")))
                      .select("id", "community", "k")
                      .localCheckpoint(eager=True))
        if not level_moved:
            if mapping is None:     # nothing moved at all: identity labels
                mapping = labels.select("id", "community")
            break
        lv = labels.select("id", "community")
        mapping = lv if mapping is None else (
            mapping.withColumnRenamed("community", "mid")
                   .join(lv.withColumnRenamed("id", "mid"), "mid")
                   .select("id", "community")).localCheckpoint(eager=True)
        n_nodes = labels.count()
        n_comms = labels.select("community").distinct().count()
        if n_comms == n_nodes:
            break
        # contract graph
        # contract, KEEPING intra-community pairs as self-loops so the
        # next level's degrees carry the internal weight
        lsrc = lv.select(F.col("id").alias("src"), F.col("community").alias("cs"))
        ldst = lv.select(F.col("id").alias("dst"), F.col("community").alias("cd"))
        e = (e.join(lsrc, "src").join(ldst, "dst")
              .groupBy(F.col("cs").alias("src"), F.col("cd").alias("dst"))
              .agg(F.sum("w").alias("w"))
              .localCheckpoint(eager=True))
        if e.filter(F.col("src") != F.col("dst")).count() == 0:
            break
    rep = mapping.groupBy("community").agg(F.min("id").alias("rep"))
    return (mapping.join(rep, "community")
                   .select("id", F.col("rep").alias("community")))


def louvain_communities(df: DataFrame, id_col: str, cols: Sequence[str], *,
                        k: int = 5, max_iters: int = 20) -> DataFrame:
    """End-to-end: kNN graph from feature columns, then modularity Louvain
    (Orange/clustering/louvain.py: table_to_knn_graph + best_partition)."""
    edges = knn_graph(df, id_col, cols, k=k)
    out = louvain(edges, max_iters=max_iters)
    return out.withColumnRenamed("id", id_col)
