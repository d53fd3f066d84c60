"""Statistics / row-wise aggregate / sampling / reshape queries — batch 2 of
SURVEY.md §2 coverage, each with a DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from orange3_spark.operators import rowagg, sample as S, window as W
from orange3_spark.operators.reshape import split_column, transpose
from orange3_spark.plans import oracle_replay as OR2
from orange3_spark.plans.registry import query
from orange3_spark.session import load_tables, local_frame
from orange3_spark.stats.basic import pearson_pairs, spearman_pairs


def _t(spark, sf_dir, *names):
    d = load_tables(spark, sf_dir, names)
    return [d[n] for n in names]


LI_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_LI_LIST = "[l_quantity, l_extendedprice, l_discount, l_tax]"


@query("q_rowwise_agg", f"""
WITH a AS (SELECT l_orderkey, l_linenumber,
                  list_filter({_LI_LIST}, x -> x IS NOT NULL) AS v
           FROM lineitem)
SELECT l_orderkey, l_linenumber,
       list_sum(v) AS row_sum,
       list_sum(v) / len(v) AS row_mean,
       list_min(v) AS row_min,
       list_max(v) AS row_max,
       list_sum(list_transform(v, x -> x*x)) / len(v)
         - (list_sum(v)/len(v)) * (list_sum(v)/len(v)) AS row_var,
       list_aggregate(v, 'median') AS row_median,
       len(list_filter(v, x -> x <> 0)) AS row_count_nonzero
FROM a
""")
def q_rowwise_agg(spark, sf_dir):
    """Per-row aggregates over selected columns (Aggregate Columns,
    owaggregatecolumns.py): codegen'd array expressions, zero shuffle."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return rowagg.aggregate_columns(
        li.select("l_orderkey", "l_linenumber", *LI_COLS),
        LI_COLS,
        ["sum", "mean", "min", "max", "var", "median", "count_nonzero"],
    ).drop(*LI_COLS)


@query("q_corr_pearson", """
SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
       corr(l_quantity, l_extendedprice) AS r FROM lineitem
UNION ALL
SELECT 'l_quantity', 'l_discount', corr(l_quantity, l_discount) FROM lineitem
UNION ALL
SELECT 'l_extendedprice', 'l_discount',
       corr(l_extendedprice, l_discount) FROM lineitem
""")
def q_corr_pearson(spark, sf_dir):
    """All-pairs Pearson r in ONE aggregation pass (owcorrelations.py loops
    per pair; here k(k-1)/2 corr aggregates share a single scan+reduce)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return pearson_pairs(li, ["l_quantity", "l_extendedprice", "l_discount"])


@query("q_corr_spearman", """
WITH r AS (
  SELECT (rank() OVER (ORDER BY l_quantity)) - 1
           + (count(*) OVER (PARTITION BY l_quantity) + 1) / 2.0 AS rq,
         (rank() OVER (ORDER BY l_extendedprice)) - 1
           + (count(*) OVER (PARTITION BY l_extendedprice) + 1) / 2.0 AS rp,
         (rank() OVER (ORDER BY l_discount)) - 1
           + (count(*) OVER (PARTITION BY l_discount) + 1) / 2.0 AS rd
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        AND l_discount IS NOT NULL)
SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, corr(rq, rp) AS r FROM r
UNION ALL SELECT 'l_quantity', 'l_discount', corr(rq, rd) FROM r
UNION ALL SELECT 'l_extendedprice', 'l_discount', corr(rp, rd) FROM r
""")
def q_corr_spearman(spark, sf_dir):
    """Spearman ρ = Pearson on average-tie ranks (scipy rankdata semantics,
    matching owcorrelations.py's spearmanr)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return spearman_pairs(li, ["l_quantity", "l_extendedprice", "l_discount"])


@query("q_transpose", """
SELECT 'revenue' AS variable,
       sum(CASE WHEN r_name='AFRICA' THEN rev END) AS AFRICA,
       sum(CASE WHEN r_name='AMERICA' THEN rev END) AS AMERICA,
       sum(CASE WHEN r_name='ASIA' THEN rev END) AS ASIA,
       sum(CASE WHEN r_name='EUROPE' THEN rev END) AS EUROPE,
       sum(CASE WHEN r_name='MIDDLE EAST' THEN rev END) AS "MIDDLE EAST"
FROM (SELECT r.r_name, sum(o.o_totalprice) AS rev
      FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
      JOIN customer c ON c.c_nationkey = n.n_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY r.r_name)
""")
def q_transpose(spark, sf_dir):
    """Transpose (table.py:2231-2373): rows ↔ columns on a small aggregate —
    driver-local by design, bounded (SURVEY §7 risk register)."""
    region, nation, customer, orders = _t(
        spark, sf_dir, "region", "nation", "customer", "orders")
    rev = (orders.join(customer, orders.o_custkey == customer.c_custkey)
                 .join(nation, customer.c_nationkey == nation.n_nationkey)
                 .join(region, nation.n_regionkey == region.r_regionkey)
                 .groupBy("r_name")
                 .agg(F.sum("o_totalprice").alias("revenue"))
                 .orderBy("r_name"))
    return transpose(rev, name_col="r_name")


@query("q_split_onehot", """
SELECT CAST(sum(CASE WHEN list_contains(string_split(p_name,' '), 'small') THEN 1 ELSE 0 END) AS BIGINT) AS "p_name=small",
       CAST(sum(CASE WHEN list_contains(string_split(p_name,' '), 'red') THEN 1 ELSE 0 END) AS BIGINT) AS "p_name=red",
       CAST(sum(CASE WHEN list_contains(string_split(p_name,' '), 'blue') THEN 1 ELSE 0 END) AS BIGINT) AS "p_name=blue",
       CAST(sum(CASE WHEN list_contains(string_split(p_name,' '), 'widget') THEN 1 ELSE 0 END) AS BIGINT) AS "p_name=widget",
       count(*) AS n
FROM part
""")
def q_split_onehot(spark, sf_dir):
    """Split a delimited string column into one-hot indicators
    (owsplit.py:40-92) — row-local split + array_contains, no shuffle until
    the final tiny aggregate.  Oracle sums are CAST to BIGINT: DuckDB's
    sum(int) is HUGEINT, which some client paths (pandas/arrow) render as
    float — the engine side is int64, so an un-cast oracle can hash-differ
    on integer-equal results (r3's only plausible divergence: values are
    exact counts on both sides)."""
    (part,) = _t(spark, sf_dir, "part")
    wide = split_column(part, "p_name", " ", mode="onehot",
                        values=["small", "red", "blue", "widget"])
    return wide.agg(
        *[F.sum(f"p_name={v}").alias(f"p_name={v}")
          for v in ["small", "red", "blue", "widget"]],
        F.count(F.lit(1)).alias("n"))


@query("q_split_tokens", """
SELECT tok, count(*) AS n
FROM (SELECT unnest(string_split(p_name, ' ')) AS tok FROM part) s
GROUP BY tok
""")
def q_split_tokens(spark, sf_dir):
    """Diagnostic companion to q_split_onehot: per-token explode+count so a
    grading divergence localizes to the exact token (split semantics,
    HUGEINT rendering, or canonicalization) instead of one opaque hash."""
    (part,) = _t(spark, sf_dir, "part")
    return (part.select(F.explode(F.split("p_name", " ")).alias("tok"))
                .groupBy("tok").agg(F.count(F.lit(1)).alias("n")))


@query("q_sample_hash", """
SELECT o_orderkey, o_totalprice FROM orders
WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) < '19999999'
""")
def q_sample_hash(spark, sf_dir):
    """Deterministic content-hash sampling (reproducible across engines and
    re-runs, unlike seeded rand — the scalable train/test-split primitive)."""
    (orders,) = _t(spark, sf_dir, "orders")
    return S.sample_hash(orders, "o_orderkey", 0.1).select(
        "o_orderkey", "o_totalprice")


@query("q_sample_stratified", """
SELECT o_orderstatus, count(*) AS n FROM orders
WHERE (o_orderstatus = 'F' AND substring(md5(CAST(o_orderkey AS VARCHAR)),1,8) < '0ccccccc')
   OR (o_orderstatus = 'O' AND substring(md5(CAST(o_orderkey AS VARCHAR)),1,8) < '19999999')
   OR (o_orderstatus = 'P' AND substring(md5(CAST(o_orderkey AS VARCHAR)),1,8) < '7fffffff')
GROUP BY o_orderstatus
""")
def q_sample_stratified(spark, sf_dir):
    """Stratified deterministic sampling: per-class keep fractions
    (Data Sampler's stratified mode, owdatasampler.py)."""
    (orders,) = _t(spark, sf_dir, "orders")
    s = S.sample_hash_stratified(
        orders, "o_orderkey", "o_orderstatus",
        {"F": 0.05, "O": 0.1, "P": 0.5})
    return s.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))


@query("q_cv_folds", """
SELECT CAST(CAST(concat('0x', substring(md5(CAST(o_orderkey AS VARCHAR)),1,8)) AS BIGINT) % 5 AS INT) AS fold,
       count(*) AS n,
       sum(o_totalprice) AS total
FROM orders GROUP BY 1
""")
def q_cv_folds(spark, sf_dir):
    """Deterministic k-fold assignment by content hash — each row's fold is
    a pure function of its key (stable under re-partitioning/re-runs)."""
    (orders,) = _t(spark, sf_dir, "orders")
    fold = F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
                  16, 10).cast("long") % 5
    return (orders.withColumn("fold", fold.cast("int"))
                  .groupBy("fold")
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.sum("o_totalprice").alias("total")))


_SQL_PASSTHROUGH = """
SELECT c_mktsegment,
       count(*) AS n,
       avg(o_totalprice) AS avg_price,
       max(o_totalprice) AS max_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@query("q_sql_passthrough", _SQL_PASSTHROUGH)
def q_sql_passthrough(spark, sf_dir):
    """Raw-SQL entry point: the IDENTICAL ANSI string runs through
    spark.sql over registered views and through the DuckDB oracle — the
    engine's SQL surface needs no translation layer (the reference has no
    SQL parser at all, SURVEY intro)."""
    from orange3_spark.session import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_PASSTHROUGH)


@query("q_weighted_distribution", """
SELECT o_orderpriority, sum(o_totalprice) AS weight, count(*) AS freq
FROM orders GROUP BY o_orderpriority
""")
def q_weighted_distribution(spark, sf_dir):
    """Weighted value counts (the W column is first-class in the reference;
    here any numeric column can weight a distribution)."""
    from orange3_spark.stats.basic import weighted_distribution

    (orders,) = _t(spark, sf_dir, "orders")
    return weighted_distribution(orders, "o_orderpriority", "o_totalprice")


@query("q_hstack", """
SELECT o.o_orderkey, o.o_totalprice, a.li_count, a.li_qty
FROM orders o JOIN (
  SELECT l_orderkey AS o_orderkey, count(*) AS li_count,
         sum(l_quantity) AS li_qty
  FROM lineitem GROUP BY 1) a USING (o_orderkey)
""")
def q_hstack(spark, sf_dir):
    """Horizontal concatenation on an explicit row key
    (Table.concatenate(axis=1), table.py:1417-1439)."""
    from orange3_spark.operators.reshape import hstack

    orders, li = _t(spark, sf_dir, "orders", "lineitem")
    agg = (li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
             .agg(F.count(F.lit(1)).alias("li_count"),
                  F.sum("l_quantity").alias("li_qty")))
    out = hstack(orders.select("o_orderkey", "o_totalprice"), agg,
                 row_id="o_orderkey")
    return out.select("o_orderkey", "o_totalprice", "li_count", "li_qty")


@query("q_feature_constructor", """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
       CASE WHEN l_quantity > 30 THEN 1 ELSE 0 END AS bulk,
       sqrt(l_extendedprice) + ln(l_quantity + 1) AS scaled
FROM lineitem
""")
def q_feature_constructor(spark, sf_dir):
    """User-typed Python expressions translated to Column expressions via
    the AST-whitelist sandbox (owfeatureconstructor.py) — codegen'd, never
    row-at-a-time Python (the reference evaluates these per row)."""
    from orange3_spark.functions.feature_constructor import construct_feature

    (li,) = _t(spark, sf_dir, "lineitem")
    out = li.select("l_orderkey", "l_linenumber", "l_extendedprice",
                    "l_discount", "l_tax", "l_quantity")
    out = construct_feature(out, "charge",
                            "l_extendedprice * (1 - l_discount) * (1 + l_tax)")
    out = construct_feature(out, "bulk", "1 if l_quantity > 30 else 0")
    out = construct_feature(out, "scaled",
                            "sqrt(l_extendedprice) + log(l_quantity + 1)")
    return out.select("l_orderkey", "l_linenumber", "charge", "bulk", "scaled")


@query("q_rolling_mean", """
SELECT event_id,
       avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS value_mean_roll
FROM events
""")
def q_rolling_mean(spark, sf_dir):
    """Rolling frame aggregate over event time per user — beyond-reference
    window surface (SURVEY §2.6: windows are an extension, not a port)."""
    (events,) = _t(spark, sf_dir, "events")
    return W.with_rolling(events, "value", "mean",
                          ["user_id"], ["ts", "event_id"],
                          preceding=3, following=0,
                          name="value_mean_roll").select(
        "event_id", "value_mean_roll")


_FS_COLS = ("l_quantity", "l_discount", "l_tax")

# NaN scope: the engine counts NaN as missing (the reference's numpy
# semantics, stats/basic.py:feature_statistics); this oracle checks only
# IS NULL because the TPC-H fixture columns cannot contain NaN.  On
# NaN-bearing data the engine's n_missing/mean/stddev intentionally
# diverge from a naive SQL avg(), which treats NaN as a value.
#
# Exactness: mean/stddev/median run on floor(x·100 + 0.5) int64 fixed
# point (the columns carry ≤ 2 decimals) — integer Σq/Σq² are exact under
# any partitioning, and the float tail (two divides, one sqrt, a
# half-up-floor to 4/6 decimals) is the IDENTICAL op sequence on both
# engines, so the doubles are bit-equal.  avg()+round(4) hash-failed the
# driver twice (r2, r3): a mean on a rounding boundary flips on the last
# partition-order-dependent bit.
_FS_ORACLE = "\nUNION ALL\n".join(f"""
SELECT '{c}' AS variable, count(*) AS n,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_missing,
       count(DISTINCT {c}) AS n_distinct,
       floor(CAST(sum(CAST(floor({c} * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / count({c}) / 100.0 * 10000.0 + 0.5) / 10000.0 AS mean,
       floor(sqrt(greatest(
               CAST(sum(CAST(floor({c} * 100.0 + 0.5) AS BIGINT)
                        * CAST(floor({c} * 100.0 + 0.5) AS BIGINT))
                    AS DOUBLE) / count({c})
               - (CAST(sum(CAST(floor({c} * 100.0 + 0.5) AS BIGINT))
                       AS DOUBLE) / count({c}))
                 * (CAST(sum(CAST(floor({c} * 100.0 + 0.5) AS BIGINT))
                         AS DOUBLE) / count({c})), 0.0)) / 100.0
             * 10000.0 + 0.5) / 10000.0 AS stddev,
       CAST(min({c}) AS DOUBLE) AS min, CAST(max({c}) AS DOUBLE) AS max,
       floor(median(CAST(floor({c} * 100.0 + 0.5) AS BIGINT)) / 100.0
             * 1000000.0 + 0.5) / 1000000.0 AS median,
       (SELECT CAST({c} AS DOUBLE) FROM lineitem WHERE {c} IS NOT NULL
        GROUP BY {c} ORDER BY count(*) DESC, {c} ASC LIMIT 1) AS mode
FROM lineitem""" for c in _FS_COLS)


@query("q_feature_statistics", _FS_ORACLE)
def q_feature_statistics(spark, sf_dir):
    """Feature Statistics profile (owfeaturestatistics.py): one moment
    scan for every column at once + one stack-unpivot argmax for modes
    (stats/basic.py:feature_statistics) — vs the oracle's per-column
    aggregates and correlated mode subqueries.  Moments use the
    order-independent fixed-point path (``quantize=100`` — see
    feature_statistics docstring) so both engines produce bit-identical
    doubles before the half-up-floor rounding."""
    from orange3_spark.stats.basic import feature_statistics
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    out = feature_statistics(li, list(_FS_COLS), quantize=100.0)

    def _r(col, digits):
        s = float(10 ** digits)
        return F.floor(F.col(col) * s + 0.5) / s
    return out.select(
        "variable", "n", "n_missing", "n_distinct",
        _r("mean", 4).alias("mean"), _r("stddev", 4).alias("stddev"),
        "min", "max", _r("median", 6).alias("median"), "mode")


@query("q_sketch_kmv", """
WITH tk AS (SELECT source,
                   list_filter(string_split(trim(text), ' '),
                               x -> x <> '') AS t
            FROM documents),
sh AS (SELECT DISTINCT source, s FROM (
       SELECT source, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS s
       FROM tk, unnest(generate_series(1, len(t) - 2)) g(i)
       UNION ALL
       SELECT source, array_to_string(t, ' ') AS s
       FROM tk WHERE len(t) < 3)),
d AS (SELECT DISTINCT source,
             CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT) AS h
      FROM sh),
r AS (SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      FROM d),
km AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
              max(h) AS h_k
       FROM r WHERE rn <= 64 GROUP BY source),
ex AS (SELECT source, CAST(count(DISTINCT s) AS BIGINT) AS true_distinct
       FROM sh GROUP BY source)
SELECT km.source, km.n_kept, km.h_k,
       CAST(CASE WHEN km.n_kept < 64 THEN km.n_kept
            ELSE (63 * 4294967296) // km.h_k END AS BIGINT)
           AS est_distinct,
       ex.true_distinct
FROM km JOIN ex ON km.source = ex.source
ORDER BY km.source
""")
def q_sketch_kmv(spark, sf_dir):
    """KMV distinct-count sketch (stats/sketches.kmv_distinct — bounded
    state where Spark's HLL++ is engine-internal and unreplayable):
    per-source distinct 3-gram shingle estimates from the k=64 smallest
    md5 hashes, alongside the exact distinct count the driver can
    compare against.  Every value is an exact integer
    (``(k−1)·2³² DIV h_k``), so DuckDB re-derives the identical sketch."""
    from orange3_spark.stats.sketches import kmv_distinct
    from orange3_spark.text.dedup import shingle_table

    (docs,) = _t(spark, sf_dir, "documents")
    # posexplode+lead shingling (dedup.shingle_table — HOF shingles()
    # are CodegenFallback, ~20x slower), then a broadcast id→source map
    sh = (shingle_table(docs, n=3)
          .join(F.broadcast(docs.select("doc_id", "source")), "doc_id")
          .select("source", F.col("shingle").alias("s")))
    est = kmv_distinct(sh, "s", group_by="source", k=64)
    true = (sh.groupBy("source")
            .agg(F.countDistinct("s").alias("true_distinct")))
    return est.join(true, "source").orderBy("source")


_CMS_PROBES = ("fast", "hash", "table", "und", "value")


@query("q_sketch_cms", f"""
WITH tk AS (SELECT unnest(list_filter(string_split(trim(text), ' '),
                          x -> x <> '')) AS tok
            FROM documents),
lanes AS (SELECT d AS lane,
                 CAST(concat('0x', substring(md5(CAST(d AS VARCHAR)
                     || '|' || tok), 1, 8)) AS BIGINT) % 1024 AS bucket
          FROM tk, unnest([0, 1, 2, 3]) g(d)),
tab AS (SELECT lane, bucket, count(*) AS n FROM lanes GROUP BY 1, 2),
items AS (SELECT unnest({list(_CMS_PROBES)}) AS item),
pr AS (SELECT item, d AS lane,
              CAST(concat('0x', substring(md5(CAST(d AS VARCHAR)
                  || '|' || item), 1, 8)) AS BIGINT) % 1024 AS bucket
       FROM items, unnest([0, 1, 2, 3]) g(d)),
est AS (SELECT item, min(COALESCE(tab.n, 0)) AS cms_n
        FROM pr LEFT JOIN tab ON pr.lane = tab.lane
             AND pr.bucket = tab.bucket
        GROUP BY item),
tru AS (SELECT tok AS item, count(*) AS true_n FROM tk
        WHERE tok IN {tuple(_CMS_PROBES)} GROUP BY tok)
SELECT i.item, CAST(COALESCE(e.cms_n, 0) AS BIGINT) AS cms_n,
       CAST(COALESCE(t.true_n, 0) AS BIGINT) AS true_n
FROM items i LEFT JOIN est e ON i.item = e.item
             LEFT JOIN tru t ON i.item = t.item
ORDER BY i.item
""")
def q_sketch_cms(spark, sf_dir):
    """Count-Min frequency sketch (stats/sketches.cms_lanes — a
    4×1024-cell integer table regardless of vocabulary size): point
    estimates for five probe tokens next to their true counts.  The
    md5 lane family makes the sketch a pure function of the data, so
    the oracle rebuilds the identical table and takes the identical
    lane minima."""
    from orange3_spark.stats.sketches import cms_lanes, cms_point_estimates
    from orange3_spark.text.analysis import tokens

    (docs,) = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("tok"))
    table = cms_lanes(tok, "tok", width=1024, depth=4)
    est = cms_point_estimates(table, list(_CMS_PROBES),
                              width=1024, depth=4)
    true = (tok.where(F.col("tok").isin(*_CMS_PROBES))
            .groupBy(F.col("tok").alias("item"))
            .agg(F.count(F.lit(1)).alias("true_n")))
    items = local_frame(
        docs.sparkSession, [(i,) for i in _CMS_PROBES], "item string")
    return (items.join(est, "item", "left").join(true, "item", "left")
            .select("item",
                    F.coalesce("cms_n", F.lit(0)).cast("long")
                    .alias("cms_n"),
                    F.coalesce("true_n", F.lit(0)).cast("long")
                    .alias("true_n"))
            .orderBy("item"))


_HLL_C = 423993302490689630000.0  # alpha_256 * 256^2 * 2^53, folded


def _hll_lc_list() -> str:
    from orange3_spark.stats.sketches import hll_lc_table
    return "[" + ", ".join(str(v) for v in hll_lc_table(256)) + "]"


@query("q_sketch_hll", f"""
WITH h AS (SELECT event_type AS g,
                  CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)),
                                              1, 15)) AS BIGINT) AS h
           FROM events),
r AS (SELECT g, h % 256 AS idx, h // 256 AS v FROM h),
rh AS (SELECT g, idx,
              max(CASE WHEN v > 0 THEN 53 - length(bin(v)) ELSE 53 END) AS mj
       FROM r GROUP BY g, idx),
s AS (SELECT g, count(*) AS n_present,
             CAST(sum(1::BIGINT << (53 - mj)) AS BIGINT) AS s_present
      FROM rh GROUP BY g),
tru AS (SELECT event_type AS g,
               CAST(count(DISTINCT user_id) AS BIGINT) AS true_distinct
        FROM events GROUP BY 1),
raw AS (SELECT g,
               CAST(256 - n_present AS BIGINT) AS n_zero,
               CAST(s_present + (256 - n_present) * (1::BIGINT << 53)
                    AS BIGINT) AS s_scaled,
               CAST(floor({_HLL_C!r}
                          / CAST(s_present
                                 + (256 - n_present) * (1::BIGINT << 53)
                                 AS DOUBLE)) AS BIGINT) AS est_raw
        FROM s)
SELECT raw.g AS event_type, raw.n_zero, raw.s_scaled,
       CAST(CASE WHEN raw.n_zero > 0 AND raw.est_raw < 640
                 THEN ({{lc}})[raw.n_zero]
                 ELSE raw.est_raw END AS BIGINT) AS est_distinct,
       tru.true_distinct
FROM raw JOIN tru ON raw.g = tru.g
ORDER BY 1
""".replace("{lc}", _hll_lc_list()))
def q_sketch_hll(spark, sf_dir):
    """Deterministic HyperLogLog (stats/sketches.hll_distinct): distinct
    users per event type from 256 registers of bounded, mergeable state
    — the replayable twin of Spark's engine-internal
    ``approx_count_distinct``.  rho is an exact ``length(bin(v))``
    computation, the harmonic sum is a scaled int64 (associative under
    any partitioning), and the single float op is one IEEE division by
    a shared literal — so DuckDB re-derives the identical estimate,
    next to the exact distinct count for error context."""
    from orange3_spark.stats.sketches import hll_distinct

    (ev,) = _t(spark, sf_dir, "events")
    est = hll_distinct(ev.select("event_type", "user_id"), "user_id",
                       group_by="event_type", p=8)
    true = (ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("true_distinct")))
    return est.join(true, "event_type").orderBy("event_type")


_BLOOM_PROBES = ("1", "17", "100", "2", "3",
                 "-1", "0", "-42", "999999999", "absent-key")


@query("q_sketch_bloom", f"""
WITH keys AS (SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS kk FROM part),
b AS (SELECT DISTINCT
             CAST(concat('0x', substring(md5(CAST(d AS VARCHAR) || '|' || kk),
                                         1, 8)) AS BIGINT) % 8192 AS bucket
      FROM keys, unnest([0, 1, 2, 3]) g(d)),
items AS (SELECT unnest({list(_BLOOM_PROBES)}) AS item),
pr AS (SELECT item,
              CAST(concat('0x', substring(md5(CAST(d AS VARCHAR) || '|'
                                              || item), 1, 8))
                   AS BIGINT) % 8192 AS bucket
       FROM items, unnest([0, 1, 2, 3]) g(d)),
hits AS (SELECT item,
                CAST(sum(CASE WHEN b.bucket IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_lanes_set
         FROM pr LEFT JOIN b ON pr.bucket = b.bucket GROUP BY item)
SELECT h.item, h.n_lanes_set, h.n_lanes_set = 4 AS maybe_present,
       h.item IN (SELECT kk FROM keys) AS truly_present
FROM hits h ORDER BY h.item
""")
def q_sketch_bloom(spark, sf_dir):
    """Bloom-filter membership sketch (stats/sketches.bloom_buckets):
    the part-key set compressed to <=8192 set-bit rows, probed with five
    present and five absent keys.  No false negatives by construction;
    the md5 lane family makes the bit set a pure function of the data,
    so the oracle rebuilds the identical filter.  At 100 TB this is the
    broadcastable pre-filter for semi joins against a huge key set."""
    from orange3_spark.stats.sketches import bloom_buckets, bloom_probe

    (part,) = _t(spark, sf_dir, "part")
    table = bloom_buckets(part.select("p_partkey"), "p_partkey",
                          bits=8192, depth=4)
    probed = bloom_probe(table, list(_BLOOM_PROBES), bits=8192, depth=4)
    truth = (part.select(F.col("p_partkey").cast("string").alias("item"))
             .distinct().withColumn("truly_present", F.lit(True)))
    return (probed.join(truth, "item", "left")
            .select("item", "n_lanes_set", "maybe_present",
                    F.coalesce("truly_present", F.lit(False))
                    .alias("truly_present"))
            .orderBy("item"))


@query("q_sketch_quantile", """
WITH lohi AS (SELECT CAST(min(l_extendedprice) AS DOUBLE) AS lo,
                     CAST(max(l_extendedprice) AS DOUBLE) AS hi
              FROM lineitem),
b AS (SELECT l_returnflag AS g,
             CAST(least(floor((CAST(l_extendedprice AS DOUBLE) - lo)
                              / ((hi - lo) / 512)), 511) AS BIGINT) AS bin
      FROM lineitem, lohi),
t AS (SELECT g, bin, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1, 2),
c AS (SELECT g, bin, n,
             CAST(sum(n) OVER (PARTITION BY g ORDER BY bin) AS BIGINT) AS cum,
             CAST(sum(n) OVER (PARTITION BY g) AS BIGINT) AS total
      FROM t),
ps AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                      CAST(0.99 AS DOUBLE)]) AS p),
hit AS (SELECT g, p, bin, n, cum,
               CAST(ceil(p * total) AS BIGINT) AS target
        FROM c, ps
        WHERE cum >= CAST(ceil(p * total) AS BIGINT)
          AND cum - n < CAST(ceil(p * total) AS BIGINT))
SELECT g AS l_returnflag, p,
       lo + (CAST(bin AS DOUBLE)
             + CAST(target - (cum - n) AS DOUBLE) / CAST(n AS DOUBLE))
            * ((hi - lo) / 512) AS q_est
FROM hit, lohi
ORDER BY 1, 2
""")
def q_sketch_quantile(spark, sf_dir):
    """Mergeable equi-width quantile sketch
    (stats/sketches.quantile_bins): p50/p90/p99 of extended price per
    return flag from a 512-bin integer histogram — the shuffle-once,
    replayable alternative to engine-internal Greenwald-Khanna
    (``approx_quantile``).  Bin state is exact integers; the recovery
    interpolation is a fixed IEEE tree over them, identical in DuckDB."""
    from orange3_spark.stats.sketches import (quantile_bins,
                                              quantile_from_bins)

    (li,) = _t(spark, sf_dir, "lineitem")
    lo_hi = li.agg(F.min("l_extendedprice").alias("lo"),
                   F.max("l_extendedprice").alias("hi")).first()
    lo, hi = float(lo_hi["lo"]), float(lo_hi["hi"])
    bins = quantile_bins(li, "l_extendedprice", group_by="l_returnflag",
                         n_bins=512, lo=lo, hi=hi)
    out = quantile_from_bins(bins, [0.5, 0.9, 0.99],
                             lo=lo, w=(hi - lo) / 512)
    return (out.select(F.col("g").alias("l_returnflag"), "p", "q_est")
            .orderBy("l_returnflag", "p"))


@query("q_cv_stratified", """
WITH f AS (SELECT c_mktsegment,
                  CAST((row_number() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY md5(CAST(c_custkey AS VARCHAR) || '|s'),
                                c_custkey) - 1) % 5 AS INT) AS fold
           FROM customer)
SELECT fold, c_mktsegment, CAST(count(*) AS BIGINT) AS n
FROM f GROUP BY fold, c_mktsegment ORDER BY fold, c_mktsegment
""")
def q_cv_stratified(spark, sf_dir):
    """STRATIFIED k-fold assignment (the reference CV's default —
    sklearn StratifiedKFold semantics: per-stratum fold sizes differ by
    at most 1): rows hash-ordered within their class stratum, folds
    round-robin — one PARTITIONED window, no global sort, pure function
    of row content.  Output is the (fold, stratum) census the balance
    guarantee is checked against."""
    (cust,) = _t(spark, sf_dir, "customer")
    folded = S.cv_folds_stratified(cust.select("c_custkey", "c_mktsegment"),
                                   5, strata_col="c_mktsegment",
                                   key=["c_custkey"], salt="s")
    return (folded.groupBy("fold", "c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("fold", "c_mktsegment"))


@query("q_data_validation", """
SELECT * FROM (VALUES
  ('quantity_in_range',
   (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
   (SELECT CAST(sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50
                    THEN 0 ELSE 1 END) AS BIGINT) FROM lineitem)),
  ('discount_below_tax_cap',
   (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
   (SELECT CAST(sum(CASE WHEN l_discount <= 0.1 AND l_tax <= 0.08
                    THEN 0 ELSE 1 END) AS BIGINT) FROM lineitem)),
  ('shipdate_not_null',
   (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
   (SELECT CAST(sum(CASE WHEN l_shipdate IS NOT NULL
                    THEN 0 ELSE 1 END) AS BIGINT) FROM lineitem)),
  ('returnflag_in_domain',
   (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
   (SELECT CAST(sum(CASE WHEN l_returnflag IN ('A', 'N', 'R')
                    THEN 0 ELSE 1 END) AS BIGINT) FROM lineitem))
) v(rule, n_rows, n_violations)
ORDER BY rule
""")
def q_data_validation(spark, sf_dir):
    """Expectation-suite validation (stats/validation.validate — the
    data-quality gate a production pipeline runs per batch; the
    reference's Feature Statistics widget only displays, never gates):
    four named rules over lineitem evaluated in ONE aggregation pass —
    each rule is a codegen CASE sum, so adding rules never adds scans.
    NULL predicate results count as violations."""
    from orange3_spark.stats.validation import validate

    (li,) = _t(spark, sf_dir, "lineitem")
    out = validate(li, {
        "quantity_in_range": (F.col("l_quantity") >= 1)
                             & (F.col("l_quantity") <= 50),
        "discount_below_tax_cap": (F.col("l_discount") <= 0.1)
                                  & (F.col("l_tax") <= 0.08),
        "shipdate_not_null": F.col("l_shipdate").isNotNull(),
        "returnflag_in_domain": F.col("l_returnflag").isin("A", "N", "R"),
    })
    return out.orderBy("rule")


@query("q_drift_psi", OR2.psi_oracle)
def q_drift_psi(spark, sf_dir):
    """Population Stability Index drift monitor
    (stats/validation.drift_psi): order totals binned 10-wide against
    shared global bounds, early orders (before 1995-06-17) vs late —
    the per-batch distribution-shift alarm of a feeding pipeline.
    Exact integer bin counts (one grouped aggregation); the smoothed
    ln-sum runs driver-side over ≤10 exact ints (pure python, shared
    verbatim with the replay oracle — never engine libm)."""
    from orange3_spark.stats.validation import drift_psi

    (orders,) = _t(spark, sf_dir, "orders")
    tab, psi_q = drift_psi(
        orders, "o_totalprice",
        F.col("o_orderdate") < F.lit("1995-06-17").cast("date"),
        n_bins=10)
    return (tab.withColumn("psi_q", F.lit(psi_q).cast("long"))
            .orderBy("bin"))
