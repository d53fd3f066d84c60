"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` pair every implemented operator from SURVEY.md §2 with a
DuckDB oracle for the t2 correctness gate.  The actual definitions live in
``orange3_spark/plans/queries_*.py`` (registry pattern).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# importing the modules populates the registry
import orange3_spark.plans.queries_analytics  # noqa: F401
import orange3_spark.plans.queries_core  # noqa: F401
import orange3_spark.plans.queries_media  # noqa: F401
import orange3_spark.plans.queries_ml  # noqa: F401
import orange3_spark.plans.queries_preprocess  # noqa: F401
import orange3_spark.plans.queries_sources  # noqa: F401
import orange3_spark.plans.queries_stats  # noqa: F401
import orange3_spark.plans.queries_streaming  # noqa: F401
import orange3_spark.plans.queries_text  # noqa: F401
from orange3_spark.plans.registry import ORACLE, QUERIES

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q1_filter_groupby"](spark, SF0001)


# The correctness harness grades entries in dict order with a ~50-query
# budget per round.  Round-7 ordering is COMPUTED, not hand-rotated:
# (1) queries whose engine paths materially changed this round (their
# old verdicts cover code that no longer exists); (2) never-graded /
# last-graded-red queries, oracle-paired first; (3) the greens, OLDEST
# driver grade first — so the ~50-query window provably cycles through
# every registered query within ~5 rounds and staleness stays bounded
# without hand-curated lists.
_CHANGED_THIS_ROUND = [
    # Every registered query whose capped driver fetch now goes through
    # session.fetch_capped (one limit(cap+1).toArrow() job, no count or
    # persist probe before it, Arrow columns instead of Rows).
    # graph twins now on session.fetch_local (text/dedup.py, ml/cluster.py)
    "q_dup_clusters", "q_ml_communities", "q_leakage_safe_split",
    "q_training_pipeline", "q_ml_dbscan",
    # the distributed half, called directly: eager checkpoint, not a cache
    "q_dup_clusters_distributed",
    # pair-matrix guards and the shared numpy pair_matrix builder
    "q_ml_hierarchical", "q_heatmap_order", "q_heatmap_order_olo",
    "q_ml_mds",
    # fitted-row guards (ml/projection.py)
    "q_ml_freeviz", "q_ml_tsne", "q_ml_isomap",
    # source mixing: one source-count fetch (text/pipeline.py)
    "q_mix_sources", "q_mix_temperature",
    # .dst writer, CN2 contingency cube
    "q_dst_roundtrip", "q_ml_cn2_unordered", "q_ml_cn2_sd",
]


def _grade_history() -> dict:
    """last-grade info per query from the driver's CORRECTNESS_r*.json
    artifacts: {name: (round, was_green)}."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    last: dict = {}
    def _round_of(p):
        mt = re.search(r"r(\d+)", os.path.basename(p))
        return int(mt.group(1)) if mt else -1

    # sort by PARSED round number, not lexicographically — a non-padded
    # r9.json would otherwise sort after r10.json and stale grades win
    paths = sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json")),
                   key=_round_of)
    for p in paths:
        rnd = _round_of(p)
        if rnd < 0:
            continue
        try:
            with open(p) as fh:
                data = json.load(fh)
        except Exception:
            continue
        for q, rec in data.items():
            if not isinstance(rec, dict):
                continue
            ok = (rec.get("err") is None
                  and rec.get("rows_match") is not False
                  and rec.get("hash_match") is not False)
            last[q] = (rnd, bool(ok))
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    last = _grade_history()
    reg = list(QUERIES)
    head = [q for q in _CHANGED_THIS_ROUND if q in QUERIES]

    def key(q):
        rnd, ok = last.get(q, (0, False))
        if not ok:
            # never graded / last grade red: grade first, oracle-paired
            # before rows-only (a hash verdict is the stronger signal if
            # the driver's budget runs out mid-bucket)
            return (0, 0, q not in ORACLE, reg.index(q))
        return (1, rnd, q not in ORACLE, reg.index(q))  # oldest green first

    tail = sorted((q for q in reg if q not in head), key=key)
    return {q: QUERIES[q] for q in head + tail}


def oracle_sql() -> dict[str, str]:
    # replay oracles (plans/oracle_replay.py) register a zero-arg callable
    # that re-fits the sample-fit learners through DuckDB at grading time
    # and embeds the fitted constants in exact SQL — resolve them here
    return {k: (v() if callable(v) else v) for k, v in ORACLE.items()}
