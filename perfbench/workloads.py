"""The benchmark's workloads: fixed query lists from the
``orange3_spark.plans`` registry, each chosen to load a different layer
(README.md has the full rationale and the layer table).

Each list has five queries.  A run repeats its list for several rounds,
and with an odd count the nearest-rank p50 falls inside the middle
query's cluster of samples and the p90 inside the slowest query's,
instead of on the boundary between two queries, which is what keeps the
percentiles from jumping between runs.
"""

from __future__ import annotations

#: scale factor of the generated fixtures (0.01 = 60k lineitems)
SF = 0.01

WORKLOADS: dict[str, list[str]] = {
    # relational operators on small tables: per-query fixed cost (py4j
    # plan building, job scheduling) dominates; a CSV write beside the
    # reads; no Python workers
    "olap": [
        "q_window_session",         # streaming
        "q_normalize_standardize",  # preprocess (+ operators)
        "q_range_join",             # operators + functions
        "q_csv_roundtrip",          # sources: file sink and re-read
        "q_sketch_hll",             # stats
    ],
    # build-heavy fits with bounded local twins, and Python-worker stages
    "ml_text": [
        "q_lang_id",                # text
        "q_ml_logreg_irls",         # ml: IRLS twin
        "q_pq_codes",               # similarity + ml: PQ twin, Arrow UDFs
        "q_media_decode_png",       # multimodal: pure-Python decoder UDF
        "q_pagerank",               # operators: pagerank twin, 7 eager jobs
    ],
}
