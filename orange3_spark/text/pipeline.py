"""End-to-end training-data preparation: the composition the engine exists
for — quality-filter → exact dedup → near-dup cluster prune → deterministic
split — each stage an operator from this package, the whole thing one lazy
DataFrame plan until the sink.

Stage costs at 100 TB:
  quality   — row-local expressions, fused into the scan (no shuffle);
  exact     — one shuffle on text hash;
  near-dup  — MinHash+LSH banding (shuffles on bounded band buckets), then
              component pruning on the tiny pair graph;
  split     — row-local hash threshold (no shuffle, reproducible).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Mapping, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orange3_spark.session import arrow_values, fetch_capped
from orange3_spark.text import analysis as TA
from orange3_spark.text import dedup as TD


@dataclass
class PipelineReport:
    input_docs: int = 0
    after_quality: int = 0
    after_exact: int = 0
    after_neardup: int = 0
    train_docs: int = 0
    holdout_docs: int = 0


def prepare_training_data_labeled(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id",
    min_tokens: int = 10, max_tokens: int = 100_000,
    max_punct_ratio: float = 0.2, min_stopword_ratio: float = 0.01,
    jaccard_threshold: float = 0.8, holdout_fraction: float = 0.01,
    hash_family: str = "xxhash64", minhash_seed: int = 42,
    report: Optional[PipelineReport] = None,
    persist_dedup_frame: bool = True,
) -> DataFrame:
    """Training-data preparation as ONE lineage: the quality-gated,
    exact- and near-dup-deduped corpus plus a ``split`` column
    (``train``/``holdout``).  Consumers that need both sides (counts,
    writes) should use this — two filtered return frames would re-execute
    the whole quality→dedup pipeline once per consumed branch (measured
    15.8 s vs ~8 s at sf0.1 for the count-both-sides shape).  Pass
    ``report`` to collect stage counts (forces evaluation per stage)."""
    def _n(df):
        return df.count() if report is not None else 0

    if report is not None:
        report.input_docs = _n(docs)

    # 1. quality gate — Gopher/C4-style signals as row-local expressions
    toks = TA.token_count(text_col)
    quality = docs.filter(
        (toks >= min_tokens) & (toks <= max_tokens)
        & (TA.punct_ratio(text_col) <= max_punct_ratio)
        & (TA.stopword_ratio(text_col, list(TA.LANG_MARKERS["en"]))
           >= min_stopword_ratio))
    # persist: the exact-dedup step below consumes ``quality`` TWICE in
    # one action (the min-id-per-normalized-text aggregation AND the
    # semi-join left side), so without it the quality regex battery
    # (token count, punct ratio, stopword lookaround scan) runs twice
    # per corpus scan — measured 1.1 s/extra pass at sf0.1, one full
    # corpus regex pass at 100 TB.  Same spill-not-recompute level and
    # opt-out as the ``exact`` persist below.
    if persist_dedup_frame:
        from pyspark import StorageLevel
        quality = quality.persist(StorageLevel.MEMORY_AND_DISK)
    if report is not None:
        report.after_quality = _n(quality)

    # 2. exact dedup — keep lowest id per normalized text
    survivors = TD.dedup_exact(quality, text_col, id_col).select(id_col)
    exact = quality.join(survivors, id_col, "left_semi")
    # persist: ``exact`` feeds three consumers in two ACTIONS — the
    # shingle-cache materialization inside dedup_minhash, the pair
    # graph collect inside dup_clusters, and the final anti-join — so
    # without it the quality filter + semi-join re-execute per action
    # (measured 4 document scans in the terminal plan; 6.9 → 4.9 s at
    # sf0.1).  MEMORY_AND_DISK spills rather than recomputes.  The
    # returned frame depends on this lineage, so there is no safe
    # unpersist point inside the function — storage-tight callers pass
    # ``persist_dedup_frame=False`` and pay re-scans WITH pushdown,
    # never a correctness change (r10 review finding).
    if persist_dedup_frame:
        from pyspark import StorageLevel
        exact = exact.persist(StorageLevel.MEMORY_AND_DISK)
    if report is not None:
        report.after_exact = _n(exact)

    # 3. near-dup pruning — LSH candidates, Jaccard-verified, keep one doc
    #    (the min id) per duplicate component
    pairs = TD.dedup_minhash(exact, text_col, id_col,
                             threshold=jaccard_threshold,
                             hash_family=hash_family, seed=minhash_seed)
    clusters = TD.dup_clusters(pairs)
    losers = (clusters.filter(F.col("doc_id") != F.col("cluster_id"))
                      .select(F.col("doc_id").alias(id_col)))
    deduped = exact.join(losers, id_col, "left_anti")
    if report is not None:
        report.after_neardup = _n(deduped)

    # 4. reproducible holdout carve-out — membership is a pure function of
    #    the doc id (stable under re-runs and repartitioning), expressed as
    #    one label column (the same primitive as operators.sample.sample_hash)
    thr = format(int(holdout_fraction * 0xFFFFFFFF), "08x")
    h = F.substring(F.md5(F.concat(F.col(id_col).cast("string"),
                                   F.lit("holdout"))), 1, 8)
    return deduped.withColumn(
        "split", F.when(h < F.lit(thr), F.lit("holdout"))
                  .otherwise(F.lit("train")))


def prepare_training_data(
    docs: DataFrame, *, report: Optional[PipelineReport] = None, **kwargs,
) -> tuple[DataFrame, DataFrame]:
    """→ (train, holdout) document sets — the two-frame view of
    :func:`prepare_training_data_labeled` (same parameters).  Callers
    consuming BOTH frames should prefer the labeled variant or cache."""
    labeled = prepare_training_data_labeled(docs, report=report, **kwargs)
    train = labeled.filter(F.col("split") == "train").drop("split")
    holdout = labeled.filter(F.col("split") == "holdout").drop("split")
    if report is not None:
        report.train_docs = train.count()
        report.holdout_docs = holdout.count()
    return train, holdout


def leakage_safe_split(docs: DataFrame, pairs: DataFrame, *,
                       id_col: str = "doc_id",
                       holdout_fraction: float = 0.01,
                       salt: str = "holdout") -> tuple[DataFrame, DataFrame]:
    """→ (train, holdout) with every near-dup CLUSTER wholly on one side.

    When near-duplicates are kept (threshold below the dedup policy, or
    augmentation variants of one source doc), a per-document hash split
    leaks: a doc in train with its near-twin in holdout inflates eval.
    Here membership is hashed on the duplicate-cluster REPRESENTATIVE
    (min id of the connected component, singletons represent themselves),
    so a whole component moves together — the split stays deterministic,
    engine-portable, and shuffle-free beyond the one components join.

    ``pairs`` is any (id_a, id_b) near-dup pair frame
    (``dedup_minhash``/``simhash_near_dups``/``jaccard_pairs``).
    """
    labeled = leakage_safe_split_labeled(
        docs, pairs, id_col=id_col, holdout_fraction=holdout_fraction,
        salt=salt)
    keep = [c for c in docs.columns]
    train = labeled.filter(F.col("split") == "train").select(*keep)
    holdout = labeled.filter(F.col("split") == "holdout").select(*keep)
    return train, holdout


def leakage_safe_split_labeled(docs: DataFrame, pairs: DataFrame, *,
                               id_col: str = "doc_id",
                               holdout_fraction: float = 0.01,
                               salt: str = "holdout") -> DataFrame:
    """Single-lineage view of :func:`leakage_safe_split`: the corpus with
    a ``split`` label column instead of two filtered frames.  Consumers
    that need BOTH sides (counts, writes, the registered query's
    doc_id→split listing) should use this — the two-frame view executes
    the docs⋈clusters join once per consumed side (same
    one-lineage-vs-two argument as ``prepare_training_data_labeled``)."""
    clusters = TD.dup_clusters(pairs)
    rep = F.coalesce(F.col("cluster_id"), F.col(id_col))
    withrep = (docs.join(
        clusters.withColumnRenamed("doc_id", id_col), id_col, "left")
        .withColumn("__rep", rep))
    threshold = format(int(holdout_fraction * 0xFFFFFFFF), "08x")
    h = F.substring(
        F.md5(F.concat(F.col("__rep").cast("string"), F.lit(salt))), 1, 8)
    keep = [c for c in docs.columns]
    return withrep.select(
        *keep, F.when(h < F.lit(threshold), F.lit("holdout"))
                .otherwise(F.lit("train")).alias("split"))


def decontaminate(train: DataFrame, benchmark: DataFrame, *,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 5) -> tuple[DataFrame, DataFrame]:
    """Benchmark decontamination: drop training docs that share any word
    n-gram with an evaluation/benchmark corpus (the n-gram-overlap rule
    used by GPT-3 §C / PaLM / Llama data pipelines; 8-13 grams in
    production, parameterized here).

    → ``(clean, contaminated)``; ``contaminated`` carries
    ``n_shared_grams`` (distinct benchmark grams hit) for audit.

    Scale shape: distinct (id, gram) tables on both sides
    (``dedup.shingle_table`` — codegen posexplode+lead), one equi-join on
    the gram key, a per-doc count, then a broadcast-friendly anti/semi
    split of the training corpus.  The benchmark side is typically tiny
    (eval suites), so Catalyst broadcasts it; shuffle volume is the
    training gram table once.  No cross join, no UDFs.
    """
    from orange3_spark.text.dedup import shingle_table

    tg = shingle_table(train, text_col, id_col, n=n)
    bg = (shingle_table(benchmark, text_col, id_col, n=n)
          .select("shingle").distinct())
    hits = (tg.join(bg, "shingle")
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("n_shared_grams")))
    contaminated = train.join(hits, id_col)
    clean = train.join(hits.select(id_col), id_col, "left_anti")
    return clean, contaminated


#: distinct-source bound of :func:`mix_sources` / :func:`mix_temperature`
MAX_SOURCES = 10_000


def mix_sources(docs: DataFrame, target: Mapping[str, float], *,
                id_col: str = "doc_id", source_col: str = "source",
                salt: str = "mix") -> DataFrame:
    """Data mixing: deterministically sample the corpus toward TARGET
    source proportions — the "data mixture" step of an LLM training
    pipeline (not in the reference; weights like 50% web / 30% code /
    20% books are standard practice).

    Solves for the largest total T such that every requested source can
    supply its share (n_s = T·target_s ≤ count_s), then keeps rows by
    the same content-hash predicate as ``operators.sample.sample_hash``
    — membership is a pure function of (id, salt), reproducible across
    engines/partitionings, and the per-source thresholds are literals a
    SQL oracle can replay exactly (``q_mix_sources``).  Sources not in
    ``target`` are dropped.  Cost: one count aggregation + one
    scan-side filter; no shuffle of the kept rows.

    The source-count fetch is bounded (:data:`MAX_SOURCES`) with a loud
    failure, like the stratified sampler's strata guard.
    """
    counts = _source_counts(docs, source_col, "mix_sources")
    return _mix(docs, counts, target, id_col, source_col, salt)


def _source_counts(docs: DataFrame, source_col: str, who: str) -> dict:
    """``{source: row count}`` in one aggregation, fetched with the
    :data:`MAX_SOURCES` cap; more distinct sources raise."""
    tbl = fetch_capped(docs.groupBy(source_col)
                       .agg(F.count(F.lit(1)).alias("n")), MAX_SOURCES)
    if tbl is None:
        raise ValueError(
            f"{who}: more than {MAX_SOURCES} distinct sources — "
            f"{source_col!r} must be a bounded category column")
    return dict(zip(arrow_values(tbl.column(0)), tbl.column(1).to_pylist()))


def _mix(docs: DataFrame, counts: dict, target: Mapping[str, float],
         id_col: str, source_col: str, salt: str) -> DataFrame:
    """Keep each source's rows under its :func:`mix_thresholds` hash."""
    thrs = mix_thresholds(counts, target)
    if not thrs:
        return docs.filter(F.lit(False))
    pred = None
    h = F.substring(F.md5(F.concat(F.col(id_col).cast("string"),
                                   F.lit(salt))), 1, 8)
    for s, thr in thrs.items():
        p = (F.col(source_col) == F.lit(s)) & (h < F.lit(thr))
        pred = p if pred is None else pred | p
    return docs.filter(pred)


def mix_thresholds(counts: Mapping[str, int],
                   target: Mapping[str, float]) -> "dict[str, str]":
    """Per-source hex hash thresholds for :func:`mix_sources` — shared
    verbatim by the Spark path and the SQL oracle replay so both embed
    the identical literals.  Largest feasible total first (the binding
    source caps it), then each source's keep fraction."""
    want = {s: f for s, f in target.items() if f > 0 and counts.get(s)}
    if not want:
        return {}
    total = min(counts[s] / f for s, f in want.items())
    return {s: format(int(min(1.0, (total * f) / counts[s]) * 0xFFFFFFFF),
                      "08x")
            for s, f in sorted(want.items())}


def corpus_report(docs: DataFrame, *, text_col: str = "text",
                  group_by: str = "source", lang_col: str = "lang",
                  short_doc_tokens: int = 10) -> DataFrame:
    """Per-group corpus "data card": the one-scan summary a curation run
    starts from (doc/token/char totals, exact-dup pressure, language
    spread, short-doc count) → one row per group.

    All metrics are exact integers from a single grouped aggregation
    (plus the distinct-normalized-text term inside it), so the panel is
    engine-replayable; mean tokens/doc is the truncating integer
    division both engines share."""
    toks = TA.token_count(text_col).cast("long")
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return (docs
            .select(F.col(group_by), toks.alias("_nt"),
                    F.length(text_col).cast("long").alias("_nc"),
                    norm.alias("_norm"), F.col(lang_col).alias("lang"))
            .groupBy(group_by)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("_nt").alias("total_tokens"),
                 F.sum("_nc").alias("total_chars"),
                 F.countDistinct("_norm").alias("n_unique_texts"),
                 F.countDistinct("lang").alias("n_langs"),
                 F.sum((F.col("_nt") < short_doc_tokens).cast("long"))
                 .alias("n_short"))
            .select(group_by, "n_docs", "total_tokens", "total_chars",
                    (F.col("n_docs") - F.col("n_unique_texts"))
                    .alias("n_exact_dups"),
                    "n_langs", "n_short",
                    F.expr("total_tokens DIV n_docs")
                    .alias("mean_tokens")))


def temperature_targets(counts: Mapping[str, int],
                        temperature: float) -> "dict[str, float]":
    """Temperature-scaled sampling proportions ``p_s = c_s^T / Σ c_j^T``
    — the multilingual/multisource sampling law (mBERT/XLM-R, T≈0.3-0.7
    upweights low-resource sources; T=1 is natural proportions).  Plain
    driver float math shared VERBATIM by the Spark path and the SQL
    oracle (like :func:`mix_thresholds`), so both embed identical
    threshold literals."""
    pw = {s: float(c) ** temperature for s, c in sorted(counts.items())
          if c > 0}
    z = sum(pw.values())
    return {s: v / z for s, v in pw.items()} if z else {}


def mix_temperature(docs: DataFrame, temperature: float, *,
                    id_col: str = "doc_id", source_col: str = "source",
                    salt: str = "mixT") -> DataFrame:
    """Deterministic temperature mixing: measure the observed source
    counts (one aggregation), convert them to temperature-scaled target
    proportions, and keep rows by the same content-hash predicate as
    :func:`mix_sources` — one scan-side filter, no shuffle of the kept
    rows, fully SQL-replayable (``q_mix_temperature``)."""
    counts = _source_counts(docs, source_col, "mix_temperature")
    return _mix(docs, counts, temperature_targets(counts, temperature),
                id_col, source_col, salt)
