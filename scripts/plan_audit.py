"""Physical-plan audit: dump the executed plans of representative queries
and grep them for the properties the engine promises (predicate pushdown,
column pruning, broadcast dims, bounded exchanges, no unpartitioned row
windows).  Writes PLANS.md — re-run after plan-shape changes.

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import importlib.util
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

spec = importlib.util.spec_from_file_location(
    "e", os.path.join(HERE, "__spark_entry__.py"))
entry = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry)

from orange3_spark.session import get_spark  # noqa: E402

# query -> the plan properties a reviewer should see
AUDITS = {
    "q1_filter_groupby": [
        ("pushed filter reaches parquet",
         r"PushedFilters: \[[^\]]*(LessThan|GreaterThan|IsNotNull)"),
        ("scan reads only needed columns", r"ReadSchema: [^\n]{0,200}"),
        ("whole-stage codegen", r"(\*\(\d+\)|WholeStageCodegen)"),
    ],
    "q5_region_revenue": [
        ("dimension joins broadcast", r"BroadcastHashJoin"),
        ("fact scan prunes columns", r"ReadSchema: [^\n]{0,200}"),
    ],
    "q_time_rollup": [
        ("multi-resolution rollup from ONE exchange",
         r"Exchange hashpartitioning"),
        ("grouping-sets expand", r"Expand"),
    ],
    "q_groupby_salted": [
        ("two-phase salted aggregation (2 exchanges)",
         r"Exchange hashpartitioning"),
    ],
    "q_dedup_minhash": [
        ("band-bucket equi-join, not cross join", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
    ],
    "q_asof_join": [
        ("as-of = ONE ordered window, no inequality join",
         r"Window|RunningWindowFunction"),
    ],
    "q_topk_per_group": [
        ("top-k window is PARTITIONED (no single-reducer rank)",
         r"Window.*partitionBy|Window \[[^\]]*partition|windowspecdefinition\([a-z_#0-9]+"),
    ],
    "q_sample_hash": [
        ("hash-sample predicate is scan-side", r"Filter .*md5|PushedFilters"),
    ],
    "q_stream_interval_join": [
        ("interval join is a key equi-join, not a nested loop",
         r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
    ],
    "q_text_bm25": [
        ("term filter prunes the token explode before the shuffle",
         r"Filter .*_t|PushedFilters"),
    ],
    "q_pack_sequences": [
        ("packing window is PARTITIONED by bucket (no global order)",
         r"windowspecdefinition\(bucket"),
    ],
    "q_lm_score": [
        ("LM model tables broadcast at this scale (AQE/SMJ above)",
         r"BroadcastHashJoin"),
        ("bigram explode is row-local codegen (no window)",
         r"Generate explode"),
    ],
    "q_pq_adc": [
        ("ADC top-k is a partitioned TakeOrdered, not a global sort",
         r"TakeOrderedAndProject"),
    ],
    "q_ivfpq": [
        ("probed-cell predicate filters before ADC ranking",
         r"Filter .*cluster"),
        ("IVF-PQ top-k is a partitioned TakeOrdered",
         r"TakeOrderedAndProject"),
    ],
    "q_corpus_report": [
        ("data card is ONE grouped aggregation over a pruned scan",
         r"ReadSchema: struct<text:string,lang:string,source:string"),
    ],
    "q_ml_adaboost_reg": [
        ("weighted-median predict is codegen, no Python eval",
         r"HashAggregate"),
    ],
    "q_quality_classifier": [
        ("full-corpus scoring is pure codegen (fit jobs are separate)",
         r"(\*\(\d+\)|WholeStageCodegen)"),
        # doc_id joined the pruned set when scoring moved to the codegen
        # hashed_bow_agg featurizer (it counts per doc); still pruned —
        # the docs table's remaining columns stay out of the scan
        ("scan prunes to doc_id/text/lang/source",
         r"ReadSchema: struct<(doc_id:bigint,)?text:string,lang:string,"
         r"source:string"),
    ],
    "q_cdc_chunks": [
        ("chunk windows are PARTITIONED by doc (no global order)",
         r"windowspecdefinition\(doc_id"),
        ("dup counting is groupBy + equi-join (map-side combine, AQE "
         "skew-join), not a chash window",
         r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
    ],
    "q_bpe_tokenize": [
        ("segmentation joins DISTINCT words back (equi-join, no UDF)",
         r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
    ],
    "q_sliding_chunks": [
        ("chunking is row-local codegen (explode, no window/join)",
         r"Generate posexplode"),
        ("scan prunes to id+text+source (no lang/n_chars)",
         r"ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
    ],
    "q_sketch_hll": [
        ("register aggregation is two-phase (map-side combine)",
         r"HashAggregate"),
        ("scan prunes to user_id+event_type",
         r"ReadSchema: struct<user_id:bigint,event_type:string>"),
    ],
    "q_sketch_bloom": [
        ("probe join against the bit set is broadcast",
         r"BroadcastHashJoin"),
    ],
    "q_sketch_quantile": [
        ("quantile recovery window is PARTITIONED by group",
         r"windowspecdefinition\(g"),
        ("scan prunes to price+returnflag",
         r"ReadSchema: struct<l_extendedprice:double,"
         r"l_returnflag:string>"),
    ],
    "q_boilerplate": [
        ("gram counting is map-side-combined aggregation",
         r"HashAggregate"),
        ("thresholded boilerplate set joins back broadcast",
         r"BroadcastHashJoin"),
    ],
    "q_url_canonicalize": [
        ("canonicalization is pure row-local codegen",
         r"(\*\(\d+\)|WholeStageCodegen)"),
        ("scan prunes to doc_id+source",
         r"ReadSchema: struct<doc_id:bigint,source:string>"),
    ],
    "q_embed_quantize": [
        ("element explode is row-local codegen",
         r"Generate posexplode"),
        ("per-vector scale window is PARTITIONED by vec_id",
         r"windowspecdefinition\(vec_id"),
    ],
    "q_line_dedup": [
        ("common-line removal is an anti join on the line key "
         "(scales past broadcast)", r"LeftAnti"),
    ],
    "q_partitioned_sink": [
        ("read-back prunes PARTITION DIRECTORIES, not just row groups",
         r"PartitionFilters: \[[^\]]*l_returnflag"),
    ],
    "q_venn": [
        ("membership is key equi-joins over pre-deduplicated sets",
         r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*FullOuter"
         r"|FullOuter"),
    ],
    "q_cv_stratified": [
        ("fold window is PARTITIONED by stratum (no global sort)",
         r"windowspecdefinition\(c_mktsegment"),
    ],
    "q_join_salted": [
        ("salted equi-join (salt refines the key partition)",
         r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
    ],
    "q_random_projection": [
        ("weight table joins broadcast",
         r"BroadcastHashJoin"),
        ("projection sum is map-side-combined",
         r"HashAggregate"),
    ],
    "q_resample_ffill": [
        ("grid is a row-local sequence explode",
         r"Generate explode"),
        ("forward fill is a PARTITIONED as-of window",
         r"windowspecdefinition\(user_id"),
    ],
    "q_ewma": [
        ("EWMA window is PARTITIONED by key (bounded frame)",
         r"windowspecdefinition\(user_id"),
    ],
    "q_snapshot_diff": [
        ("diff is one NULL-safe full outer join",
         r"FullOuter"),
    ],
    "q_zorder": [
        ("interleave is pure row-local codegen",
         r"(\*\(\d+\)|WholeStageCodegen)"),
        ("scan prunes to the two bucketed columns",
         r"ReadSchema: struct<l_quantity:double,"
         r"l_extendedprice:double>"),
    ],
    "q_hard_negatives_blocked": [
        ("scoring is ONE Arrow-grouped exact-BLAS pass per cell "
         "(shuffle key = cluster id, never a data-side cross join)",
         r"FlatMapGroupsInPandas"),
        ("cell grouping is a hash exchange on cluster",
         r"Exchange hashpartitioning\(cluster"),
        ("per-query top-k window is PARTITIONED by qid",
         r"windowspecdefinition\(qid"),
    ],
}

AUDITS.update({
    "q_media_decode_jpeg": [
        ("decode is Arrow-batched (mapInPandas), never per-row Python",
         r"MapInPandas|ArrowEvalPython"),
    ],
    "q_compression_ratio": [
        ("zlib pass is Arrow-batched (mapInPandas)",
         r"MapInPandas|ArrowEvalPython"),
        ("per-source aggregation shuffles once",
         r"Exchange hashpartitioning"),
    ],
    "q_neardup_cosine_scaled": [
        ("LSH candidates via bucket equi-join, not cross join",
         r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
        ("top-k is distributed TakeOrdered, no global sort",
         r"TakeOrderedAndProject"),
    ],
    "q_media_decode_jpeg_prog": [
        ("progressive decode is Arrow-batched (mapInPandas), never "
         "per-row Python",
         r"MapInPandas|ArrowEvalPython"),
    ],
    "q_media_decode_jpeg420": [
        ("subsampled decode is Arrow-batched (mapInPandas), never "
         "per-row Python",
         r"MapInPandas|ArrowEvalPython"),
    ],
    "q_media_frames_gif": [
        ("frame extraction is Arrow-batched (mapInPandas), never "
         "per-row Python",
         r"MapInPandas|ArrowEvalPython"),
    ],
    "q_media_decode_webp": [
        ("VP8L decode is Arrow-batched (mapInPandas), never per-row "
         "Python",
         r"MapInPandas|ArrowEvalPython"),
    ],
    "q_media_decode_tiff": [
        ("TIFF decode is Arrow-batched (mapInPandas), never per-row "
         "Python",
         r"MapInPandas|ArrowEvalPython"),
    ],
    "q_media_decode_gif": [
        ("GIF decode is Arrow-batched (mapInPandas), never per-row "
         "Python",
         r"MapInPandas|ArrowEvalPython"),
    ],
    "q_media_gate_fraction": [
        ("classification is ONE Arrow-batched pass",
         r"MapInPandas|ArrowEvalPython"),
        ("fraction denominator is a window aggregate, not a second scan",
         r"windowspecdefinition"),
    ],
    "q_media_vp8_meta": [
        ("VP8 header triage is Arrow-batched (mapInPandas), no pixel "
         "decode",
         r"MapInPandas|ArrowEvalPython"),
    ],
    "q_media_frames_vid": [
        ("AVI keyframe extraction is Arrow-batched (mapInPandas), "
         "never per-row Python",
         r"MapInPandas|ArrowEvalPython"),
    ],
    "q_media_frames_mp4": [
        ("MP4 sample-table keyframe extraction is Arrow-batched "
         "(mapInPandas), never per-row Python",
         r"MapInPandas|ArrowEvalPython"),
    ],
    "q_media_mp4_meta": [
        ("box/sample-table metadata parse is Arrow-batched "
         "(mapInPandas), no pixel decode, no per-row Python",
         r"MapInPandas|ArrowEvalPython"),
    ],
    "q_media_webm_meta": [
        ("EBML walk + VP8-header compose is Arrow-batched "
         "(mapInPandas), no macroblock decode, no per-row Python",
         r"MapInPandas|ArrowEvalPython"),
    ],
    "q_media_ts_meta": [
        ("TS packet/PSI walk is Arrow-batched (mapInPandas), no "
         "elementary-stream decode, no per-row Python",
         r"MapInPandas|ArrowEvalPython"),
    ],
    "q_ann_incremental": [
        ("append assigns via broadcast centroid join at graded size "
         "(one scan of the BATCH, never the corpus)",
         r"BroadcastNestedLoopJoin|BroadcastHashJoin"),
        ("per-vector nearest-cell pick is a partitioned window",
         r"windowspecdefinition\(vec_id"),
    ],
    "q_select_random": [
        ("scan reads ONLY the 3 selected columns (seeded draw costs no "
         "data pass)",
         r"ReadSchema: [^\n]{0,200}"),
        ("one aggregation pass, whole-stage codegen",
         r"(\*\(\d+\)|WholeStageCodegen)"),
    ],
    # --- r10: the fleet's cost head (r9 verdict task #2) ---
    "q_training_pipeline": [
        ("exact dedup keeps survivors via LEFT SEMI join (never a "
         "collect of winner ids)", r"LeftSemi"),
        ("near-dup losers removed via LEFT ANTI join (never broadcast "
         "of an unbounded loser list)", r"LeftAnti"),
        ("survivor/loser joins are doc_id EQUI-joins (the LSH band "
         "equi-join itself runs in the pair-graph action and is pinned "
         "by q_dedup_minhash — shared pipeline)",
         r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) "
         r"\[doc_id"),
        ("single lineage: the quality gate is a scan-side Filter fused "
         "into the document read", r"Filter [^\n]*size\("),
    ],
    "q_leakage_safe_split": [
        ("component labels join back by doc_id EQUI-keys (the shingle "
         "equi-join runs in the pair-graph action — pinned by "
         "q_dedup_minhash's banded shape)",
         r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) "
         r"\[doc_id"),
        ("split membership is a row-local hash expression, no per-doc "
         "window", r"md5"),
    ],
    "q_dedup_simhash": [
        ("candidate pairs from a PREFIX-bucket equi-join, never an "
         "all-pairs Hamming scan",
         r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
        ("signature bits are Arrow-batched (pandas UDF), no "
         "row-at-a-time Python", r"ArrowEvalPython|MapInPandas"),
    ],
    "q_dedup_incremental": [
        ("batch bands join the persisted index by (band, bucket) "
         "EQUI-keys",
         r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
        ("per-doc signature fold is a partitioned window/agg, no "
         "global sort", r"Exchange hashpartitioning"),
    ],
    "q_cluster_curation": [
        ("cluster assignment is Arrow-batched exact BLAS "
         "(no interpreted per-row fold)", r"ArrowEvalPython|MapInPandas"),
        ("within-cluster ranking is a PARTITIONED window",
         r"windowspecdefinition\((cluster|_q)"),
    ],
    "q_ml_som": [
        ("BMU assignment is Arrow-batched, codebook rides the closure",
         r"ArrowEvalPython|MapInPandas"),
    ],
    "q_ml_logreg_irls": [
        ("scoring pass reads the feature slice once, bounded exchanges",
         r"Exchange hashpartitioning|Exchange SinglePartition"),
    ],
})

BAD_PATTERNS = [
    ("CartesianProduct", r"CartesianProduct"),
    ("row-at-a-time Python UDF (BatchEvalPython)", r"BatchEvalPython"),
]

# Iterative / multi-stage operators: the executed plan of the returned
# DataFrame can't show driver-looped actions, so pin the JOB COUNT —
# every job is a full input read at 100 TB.  Budgets are the measured
# count plus slack for AQE re-planning jobs; a breach means someone added
# a per-metric/per-scorer rescan.  (Measured at sf0.01, r4:
# entropy_mdl 6, communities 16, metrics 7, kmeans 9, shuffle_split 6,
# feature_scores 6 after the shared-contingency rewrite.)
JOB_BUDGETS = {
    "q_entropy_mdl_bins": 10,
    "q_ml_communities": 24,
    "q_ml_metrics": 10,
    "q_ml_kmeans": 14,
    "q_ml_shuffle_split": 9,
    "q_feature_scores": 10,
    # pq_fit: count + take(k) + one suff-stats collect per Lloyd round +
    # the query-vec collect + the final aggregate (measured 9 at sf0.01)
    "q_pq_codes": 12,
    # bpe_fit: the CORPUS is scanned once (round 1 materializes the
    # persisted word table); each of the 8 merge rounds then runs one
    # TakeOrdered argmax over the cached vocab-bounded table, which AQE
    # splits into 2-3 stage-jobs (measured 20).  The budget bounds
    # per-round job growth, not corpus reads — those stay at 1.
    # (measured 20; budget = measured + 25%)
    "q_bpe_vocab": 25,
    # IRLS fit: one mapInPandas scan per Newton iteration (6, over the
    # persisted feature slice) + the slice featurization's explode/agg
    # AQE stages + the final scoring aggregate (measured 13); a breach
    # means a per-iteration rescan leaked in (budget = measured + 25%)
    "q_quality_classifier": 17,
    # pagerank bounded local twin: ONE session.fetch_local job over the
    # edge frame (width 2, so up to LOCAL_CELLS // 2 edge rows) + the
    # literal top-k frame; iterations are exact-int64 numpy on the
    # driver, bit-identical to the Pregel loop (graph.py:_pagerank_local,
    # parity-pinned in test_operators).  Measured 11 cold / 9 steady at
    # sf0.01 before the fetch folded the count job in; budget = that
    # measurement + ~25%.  A breach means the distributed loop leaked
    # back in below the cap (past the fetch cap the Pregel loop owns
    # the job count — its historical budget was 50).
    "q_pagerank": 14,
    # two ivf_knn builds (approx + exhaustive sides), each = Lloyd fit
    # jobs + centroid refresh collect + the final compare aggregate
    "q_ann_recall": 30,
    # dup_clusters_distributed, called directly: pair materialize +
    # per-round localCheckpoint + convergence agg (2 propagation rounds +
    # 1 no-change round on this data, each a handful of AQE stage-jobs
    # over the CACHED edge frame; the jaccard self-join runs once).
    # Measured 47 at sf0.01; a breach means a round re-derives the pairs.
    "q_dup_clusters_distributed": 55,
    # IVF fit jobs (Lloyd rounds + refresh collect) + the blocked
    # scoring pass (measured 14)
    "q_hard_negatives_blocked": 18,
    # driver-looped beam with one FILTERED (pushdown) scan per beam
    # member per depth — the count must stay flat as rules grow
    # (r7 verdict ask).  Measured 34 at sf0.01 (r10); budget =
    # measured + 25% so an innocuous AQE re-plan doesn't false-alarm.
    # The scan-per-beam-member shape is the MEASURED winner: r7 tried
    # fusing the beam into one multi-condition scan and it was SLOWER
    # (pushdown of each member's filter beats one unfilterable fused
    # pass) — the higher job count is the price of that trade, not a
    # regression.
    "q_ml_cn2_depth2": 43,
    # cube-once design: ONE distributed groupBy(+limit probe) feeds the
    # whole per-class / weighted covering loop — a breach means the
    # induction started re-scanning per rule
    "q_ml_cn2_unordered": 6,
    "q_ml_cn2_sd": 6,
    # interchange round-trip: distance pair collect + writer bound probe
    # + reader createDataFrame — bounded small-matrix IO, no data jobs
    # (measured 9; budget = measured + 25%)
    "q_dst_roundtrip": 12,
    # fixed-SIZE hash sample (one distributed top-k) + the driver-side
    # embed + literal frame; a breach means the sample re-scans
    "q_ml_isomap": 8,
    # ReliefF: ONE distinct-vector fixed-size sample pull + the scored
    # literal frame — the neighbor loop runs on the driver over the
    # bounded sample, never as per-row Spark jobs; a breach means the
    # scorer started scanning per feature
    "q_feature_scores_relieff": 8,
    # --- r10: the fleet's cost head (r9 verdict task #2), measured at
    # sf0.01 this round, budget = measured + >=25% headroom ---
    # five-stage single-lineage pipeline: quality filter + semi/anti
    # dedup joins + LSH banding + component pruning resolve in ONE
    # terminal action; the job count is AQE stage-jobs over that one
    # lineage (measured 27).  A breach means a stage became its own
    # action (the 15.8 s two-branch shape the design note forbids,
    # text/pipeline.py:44-50).
    "q_training_pipeline": 34,
    # jaccard pair join + pointer-jumping components (driver loop over
    # persisted label frames) + the split union (measured 21)
    "q_leakage_safe_split": 27,
    # scoring-sheet fit: exact interpolated medians + per-feature
    # threshold probes over the persisted slice (measured 28); a breach
    # means a per-feature rescan of the raw input leaked in
    "q_scoring_sheet": 35,
    # one signature aggregation + one prefix-bucket self-join
    # (measured 6)
    "q_dedup_simhash": 8,
    # band-index append: one scan of the BATCH + the banded equi-join
    # against the persisted index (measured 7); a breach means the
    # append re-derived the corpus index
    "q_dedup_incremental": 9,
    # baseline eval + per-feature permuted re-evals over the PERSISTED
    # scored frame (measured 8); a breach means a permutation re-read
    # the raw input
    "q_permutation_importance": 10,
    # level-0 CV folds + meta-learner fit over persisted fold outputs
    # (measured 8)
    "q_ml_stack": 10,
    # quantized-Lloyd fit + per-cluster cap/rank pass (measured 14)
    "q_cluster_curation": 18,
    # SOM: per-epoch BMU/update rounds over the persisted quantized
    # frame (measured 20); bounded by epochs, not data
    "q_ml_som": 25,
    # IRLS: one mapInPandas scan per Newton iteration over the
    # persisted feature slice + final scoring (measured 13)
    "q_ml_logreg_irls": 17,
    # one capped pair fetch, no probe job before it (measured in this
    # audit at sf0.01, budget = measured + 25%); a breach means a probe
    # job came back
    "q_dup_clusters": 5,           # measured 4, whether or not
                                   # q_dup_clusters_distributed ran first
    "q_ml_dbscan": 15,             # measured 12
    "q_ml_mds": 17,                # measured 13
    "q_ml_hierarchical": 22,       # measured 17
    "q_mix_temperature": 8,        # measured 6: one source-count fetch
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    lines = [
        "# PLANS — physical-plan audit of representative queries",
        "",
        f"Generated by `scripts/plan_audit.py` on `{sf_dir}`.  Each section",
        "greps the EXECUTED plan for the property the engine promises;",
        "a ✗ means the plan regressed and the audit should fail review.",
        "",
    ]
    failures = 0
    for name, checks in AUDITS.items():
        df = qs[name](spark, sf_dir)
        df.collect()  # materialize THIS plan so AQE finalizes it (codegen marks)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines.append(f"## {name}")
        lines.append("")
        for label, pat in checks:
            m = re.search(pat, plan)
            mark = "✓" if m else "✗"
            if not m:
                failures += 1
            snippet = (m.group(0)[:160] if m else "NOT FOUND")
            lines.append(f"- {mark} {label}: `{snippet}`")
        for label, pat in BAD_PATTERNS:
            if re.search(pat, plan):
                failures += 1
                lines.append(f"- ✗ UNEXPECTED {label}")
        n_exchanges = len(re.findall(r"Exchange ", plan))
        lines.append(f"- exchanges in plan: {n_exchanges}")
        lines.append("")

    lines.append("## Action budgets (jobs per query)")
    lines.append("")
    lines.append("Driver-looped operators can hide rescans the plan dump")
    lines.append("can't show; each Spark job is a full input read at scale.")
    lines.append("")
    sc = spark.sparkContext
    for name, budget in JOB_BUDGETS.items():
        group = f"audit-jobs-{name}"
        sc.setJobGroup(group, name)
        qs[name](spark, sf_dir).collect()
        sc.setJobGroup("audit-idle", "idle")
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        ok = jobs <= budget
        if not ok:
            failures += 1
        lines.append(f"- {'✓' if ok else '✗'} {name}: {jobs} jobs "
                     f"(budget {budget})")
    lines.append("")
    out = os.path.join(HERE, "PLANS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out}; {failures} failed checks")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
