"""Source/domain/filter queries — the SURVEY §2.1/§2.2/§2.3/§2.9/§2.10 rows
that were pytest-only through round 2, each now driver-checkable.

The reader round-trips (tab/csv/url/basket) materialize a small slice of the
driver's parquet into the reference's interchange formats in a temp dir,
re-read it through the engine's own readers (dialect sniff, 3-row header,
type inference, extension dispatch), and aggregate — the DuckDB oracle
aggregates the parquet directly, so any loss in the writer/reader/inference
path breaks the hash.  Reference: ``Orange/data/io.py``, ``io_base.py``,
``io_util.py``.

Temp files: the interchange formats are driver-side small-data by contract
(``sources/tab.py:write_tab`` caps rows); temp dirs are cleaned at exit.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from orange3_spark.plans import oracle_replay as OR2
from orange3_spark.plans.registry import query
from orange3_spark.session import load_tables, local_frame


def _t(spark, sf_dir, *names):
    d = load_tables(spark, sf_dir, names)
    return [d[n] for n in names]


def _tmpdir() -> str:
    d = tempfile.mkdtemp(prefix="o3s_io_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _bounded_pandas(df, max_rows: int = 1_000_000):
    """Driver-side collect with the same explicit bound as
    ``sources/tab.py:write_tab``: interchange formats are small-data by
    contract, and a silent ``toPandas()`` of a SF-scaled table would
    OOM the driver — raise loudly instead."""
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"interchange-format round-trip is driver-side; {n} rows > "
            f"{max_rows}. Round-trip a bounded slice instead.")
    return df.toPandas()


# ------------------------------------------------------------ §2.1 readers

@query("q_tab_roundtrip", """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_regionkey) AS DOUBLE) AS sum_region,
       CAST(count(DISTINCT n_name) AS BIGINT) AS n_names,
       min(n_name) AS first_name
FROM nation
""")
def q_tab_roundtrip(spark, sf_dir):
    """.tab 3-row-header round-trip (``io_base.py:117-207,596-699``):
    parquet → write_tab (names/types/flags rows) → read_tab (header parse,
    typed casts) → aggregate.  Continuous columns come back as doubles."""
    from orange3_spark.sources.tab import read_tab, write_tab

    (nation,) = _t(spark, sf_dir, "nation")
    path = os.path.join(_tmpdir(), "nation.tab")
    write_tab(nation, path)
    back = read_tab(spark, path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_regionkey").cast("double").alias("sum_region"),
        F.countDistinct("n_name").alias("n_names"),
        F.min("n_name").alias("first_name"))


@query("q_csv_roundtrip", """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(s_acctbal), 2) AS sum_bal,
       min(s_name) AS lo_name, max(s_name) AS hi_name
FROM supplier
""")
def q_csv_roundtrip(spark, sf_dir):
    """CSV round-trip through dialect sniffing + sampled Orange type
    inference (``io.py:120-190``, ``io_util.py:153-192``): parquet →
    plain csv → read_csv (sniffed sep/header, float columns inferred
    continuous) → aggregate."""
    from orange3_spark.sources.csv import read_csv

    (supplier,) = _t(spark, sf_dir, "supplier")
    path = os.path.join(_tmpdir(), "supplier.csv")
    _bounded_pandas(supplier).to_csv(path, index=False)
    back = read_csv(spark, path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("s_acctbal"), 2).alias("sum_bal"),
        F.min("s_name").alias("lo_name"),
        F.max("s_name").alias("hi_name"))


@query("q_csv_import_options", """
SELECT * FROM (VALUES (1.0, 'Ann; the 1st', '007'),
                      (2.0, 'Bé', '008'),
                      (3.0, 'Cy', NULL)) AS t(id, name, code)
""")
def q_csv_import_options(spark, sf_dir):
    """owcsvimport option surface end-to-end (owcsvimport.py: encodings,
    quoting, preamble skip, NA tokens, per-column type hints): a latin-1
    file with a quoted embedded separator, one preamble line, a custom NA
    token, and overrides forcing a zero-padded code to STRING, ids to
    CONTINUOUS, and dropping a column.  The oracle pins the exact decoded
    table — any option mishandled (mojibake, eaten quote, shifted rows,
    cast '007'→7) breaks the hash."""
    from orange3_spark.sources.csv import read_csv

    path = os.path.join(_tmpdir(), "opts.csv")
    body = ('# preamble line to skip\n'
            'id;name;code;junk\n'
            '1;"Ann; the 1st";007;x\n'
            '2;Bé;008;y\n'
            '3;Cy;NA!;z\n')
    with open(path, "wb") as fh:
        fh.write(body.encode("latin-1"))
    df = read_csv(spark, path, sep=";", header=True, skip_rows=1,
                  encoding="ISO-8859-1", na_values=["NA!"],
                  column_types={"code": "string", "id": "continuous",
                                "junk": "skip"})
    return df.select("id", "name", "code")


@query("q_excel_roundtrip", """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(p_size) AS DOUBLE) AS sum_size,
       CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands,
       min(p_name) AS lo_name, max(p_name) AS hi_name
FROM part
""")
def q_excel_roundtrip(spark, sf_dir):
    """.xlsx round-trip (``io.py:246-389`` ExcelReader, ``:319-346``
    ExcelWriter) through the self-contained zip+XML codec
    (``sources/xlsx.py``): parquet → write_xlsx (header + typed cells) →
    extension-dispatched read (sheet resolution via workbook rels, shared/
    inline strings, numeric cells, Orange type inference) → aggregate.
    Any loss in cell encoding, escaping, or inference breaks the hash."""
    from orange3_spark.sources.registry import read_table
    from orange3_spark.sources.xlsx import write_xlsx

    (part,) = _t(spark, sf_dir, "part")
    path = os.path.join(_tmpdir(), "part.xlsx")
    write_xlsx(part, path)
    back = read_table(spark, path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("p_size").alias("sum_size"),
        F.countDistinct("p_brand").alias("n_brands"),
        F.min("p_name").alias("lo_name"),
        F.max("p_name").alias("hi_name"))


@query("q_url_read", """
SELECT r_name, CAST(count(*) AS BIGINT) AS n
FROM region GROUP BY r_name
""")
def q_url_read(spark, sf_dir):
    """URL reader → extension-dispatch registry (``io.py:409-513``,
    ``io_base.py:701-771``): fetch a ``file://`` URL, suggest a filename,
    dispatch ``.csv`` to the csv reader."""
    from orange3_spark.sources.url import read_url

    (region,) = _t(spark, sf_dir, "region")
    path = os.path.join(_tmpdir(), "region.csv")
    _bounded_pandas(region).to_csv(path, index=False)
    back = read_url(spark, "file://" + path)
    return back.groupBy("r_name").agg(F.count(F.lit(1)).alias("n"))


@query("q_basket_read", """
SELECT n_name AS key, CAST(n_nationkey AS DOUBLE) AS total,
       CAST(1 AS BIGINT) AS n
FROM nation
UNION ALL
SELECT 'reg' || CAST(n_regionkey AS VARCHAR) AS key,
       CAST(count(*) AS DOUBLE) AS total, count(*) AS n
FROM nation GROUP BY n_regionkey
""")
def q_basket_read(spark, sf_dir):
    """Basket (sparse ``k=v``) reader (``io.py:221-245`` + ``_io.pyx``):
    write one comma-separated basket line per nation — a valued item
    (``name=key``) and a bare item (``regN``, value 1.0) — read it back
    long-form, aggregate per key."""
    from orange3_spark.sources.basket import read_basket

    (nation,) = _t(spark, sf_dir, "nation")
    rows = sorted(nation.collect(), key=lambda r: r["n_nationkey"])
    path = os.path.join(_tmpdir(), "nation.basket")
    with open(path, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(f"{r['n_name']}={r['n_nationkey']}, "
                     f"reg{r['n_regionkey']}\n")
    long = read_basket(spark, path)
    return long.groupBy("key").agg(F.sum("value").alias("total"),
                                   F.count(F.lit(1)).alias("n"))


@query("q_infer_types", """
SELECT * FROM (VALUES ('o_orderstatus', 'discrete'),
                      ('o_orderpriority', 'discrete'),
                      ('o_totalprice', 'continuous'),
                      ('o_orderdate_iso', 'time'),
                      ('p_name', 'string')) AS t(col, vtype)
""")
def q_infer_types(spark, sf_dir):
    """``guess_data_type`` (``io_util.py:153-192``): discrete probe →
    float → ISO time → string, over the sorted distinct values of five
    representative columns.  The oracle pins the expected ruling."""
    from orange3_spark.sources.infer import guess_data_type

    orders, part = _t(spark, sf_dir, "orders", "part")
    probes = {
        "o_orderstatus": orders.select(F.col("o_orderstatus").cast("string")),
        "o_orderpriority": orders.select(
            F.col("o_orderpriority").cast("string")),
        "o_totalprice": orders.select(F.col("o_totalprice").cast("string")),
        "o_orderdate_iso": orders.select(
            F.date_format("o_orderdate", "yyyy-MM-dd")),
        "p_name": part.select(F.col("p_name").cast("string")),
    }
    # The five probes are independent single-column jobs; submit them
    # from a small thread pool so each job's task tail back-fills the
    # others' idle cores (guide §2.6 overlap independent jobs).  Each
    # probe is a deterministic ordered-distinct prefix, so results are
    # unchanged; output order is pinned by the probes dict.
    from concurrent.futures import ThreadPoolExecutor

    def _probe(item):
        name, df = item
        vals = [r[0] for r in
                df.where(F.col(df.columns[0]).isNotNull())
                  .distinct().orderBy(df.columns[0]).limit(1000).collect()]
        return (name, guess_data_type(vals)[0])

    with ThreadPoolExecutor(max_workers=3) as pool:
        out = list(pool.map(_probe, probes.items()))
    return local_frame(spark, out, "col string, vtype string")


# ----------------------------------------------------- §2.2 domain editing

@query("q_editdomain", """
SELECT CASE o_orderstatus WHEN 'F' THEN 'finished' WHEN 'O' THEN 'open'
            WHEN 'P' THEN 'pending' ELSE o_orderstatus END AS status,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS DOUBLE) AS sum_key
FROM orders GROUP BY 1
""")
def q_editdomain(spark, sf_dir):
    """Edit Domain (``oweditdomain.py``): rename a variable, remap its
    discrete values, retype a key to continuous — then aggregate through
    the edited schema."""
    from orange3_spark.operators.editdomain import (
        change_type, rename_values, rename_variables,
    )

    (orders,) = _t(spark, sf_dir, "orders")
    out = rename_variables(orders, {"o_orderstatus": "status"})
    out = rename_values(out, "status",
                        {"F": "finished", "O": "open", "P": "pending"})
    out = change_type(out, "o_orderkey", "continuous")
    return out.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").cast("double").alias("sum_key"))


@query("q_purge_domain", """
SELECT * FROM (VALUES ('c_acctbal'), ('c_custkey'), ('c_mktsegment'),
                      ('c_name'), ('c_nationkey')) AS t(col)
""")
def q_purge_domain(spark, sf_dir):
    """Purge Domain (``remove.py:13-120``): one aggregation pass drops the
    constant and the all-null column, keeps the informative five."""
    from orange3_spark.operators.editdomain import purge_domain

    (customer,) = _t(spark, sf_dir, "customer")
    noisy = customer.select(
        "*", F.lit("X").alias("const_col"),
        F.lit(None).cast("double").alias("null_col"))
    purged = purge_domain(noisy)
    cols = sorted(c.strip("`") for c in purged.columns)
    return local_frame(spark, [(c,) for c in cols], "col string")


# ------------------------------------------------------------ §2.3 filters

@query("q_filter_samevalue", """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority
""")
def q_filter_samevalue(spark, sf_dir):
    """SameValue filter (``filter.py:143-197``) — missing-aware equality."""
    from orange3_spark.operators.filters import SameValue

    (orders,) = _t(spark, sf_dir, "orders")
    out = SameValue(column="o_orderstatus", value="F")(orders)
    return out.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


@query("q_filter_regex", """
SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
       round(sum(p_retailprice), 2) AS total
FROM part WHERE regexp_matches(p_name, 'g(ear|izmo)') GROUP BY p_brand
""")
def q_filter_regex(spark, sf_dir):
    """FilterRegex (``filter.py:544-554``): re.search semantics → rlike,
    unanchored on both engines."""
    from orange3_spark.operators.filters import FilterRegex

    (part,) = _t(spark, sf_dir, "part")
    out = FilterRegex(column="p_name", pattern="g(ear|izmo)")(part)
    return out.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("p_retailprice"), 2).alias("total"))


@query("q_filter_stringlist", """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n
FROM customer WHERE lower(c_mktsegment) IN ('building', 'automobile')
GROUP BY c_mktsegment
""")
def q_filter_stringlist(spark, sf_dir):
    """FilterStringList (``filter.py:503-541``) with case-insensitive
    matching."""
    from orange3_spark.operators.filters import FilterStringList

    (customer,) = _t(spark, sf_dir, "customer")
    out = FilterStringList(column="c_mktsegment",
                           values=["building", "AUTOMOBILE"],
                           case_sensitive=False)(customer)
    return out.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------- §2.9/§2.10 transforms

@query("q_transform_kernels", """
SELECT CASE c_nationkey WHEN 0 THEN 'a' WHEN 1 THEN 'b' WHEN 2 THEN 'c'
       ELSE 'z' END AS grp,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST((c_acctbal - 1000.0) * 0.001 AS DECIMAL(24,6)))
            AS DOUBLE) AS sum_norm,
       CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1.0 ELSE 0.0 END)
            AS DOUBLE) AS n_building
FROM customer GROUP BY 1
""")
def q_transform_kernels(spark, sf_dir):
    """Transformation kernels (``transformation.py:131,176,211``):
    Normalizer (affine), Indicator (one-hot), Lookup (value remap) — all
    pure Column expressions folded into one scan.

    The normalized sum is aggregated as DECIMAL: each row's double is
    bit-identical on both engines (same IEEE ops), the per-row decimal
    rounding is therefore identical, and the decimal sum is exact — no
    partition-order float drift at any scale (a post-hoc ``round`` can
    still straddle a boundary when the float sums differ in the last bit).
    """
    from orange3_spark.preprocess.transform import (
        indicator, lookup, normalizer,
    )

    (customer,) = _t(spark, sf_dir, "customer")
    out = customer.select(
        lookup("c_nationkey", {0: "a", 1: "b", 2: "c"}, "z").alias("grp"),
        normalizer("c_acctbal", 1000.0, 0.001).alias("norm"),
        indicator("c_mktsegment", "BUILDING").alias("ind"))
    return out.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("norm").cast("decimal(24,6)"))
         .cast("double").alias("sum_norm"),
        F.sum("ind").alias("n_building"))


@query("q_impute_model", """
WITH m AS (SELECT *,
        substring(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                      CAST(l_linenumber AS VARCHAR)), 1, 2) < '29' AS msk
        FROM lineitem),
fit AS (SELECT regr_slope(l_extendedprice, l_quantity) AS b1,
               regr_intercept(l_extendedprice, l_quantity) AS b0
        FROM m WHERE NOT msk)
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(avg(CASE WHEN msk THEN b0 + b1 * l_quantity
                      ELSE l_extendedprice END), 2) AS avg_price
FROM m, fit GROUP BY l_returnflag
""")
def q_impute_model(spark, sf_dir):
    """Model-based imputation (``impute.py:176-225``): mask ~16% of
    l_extendedprice by content hash, fit OLS(quantity) on the defined rows,
    predict the holes distributively, coalesce.  The oracle refits with
    regr_slope/regr_intercept — exact normal-equation parity."""
    from orange3_spark.preprocess.transform import impute_model

    (li,) = _t(spark, sf_dir, "lineitem")
    msk = F.substring(
        F.md5(F.concat(F.col("l_orderkey").cast("string"), F.lit("-"),
                       F.col("l_linenumber").cast("string"))), 1, 2) < "29"
    holey = li.withColumn(
        "l_extendedprice",
        F.when(msk, None).otherwise(F.col("l_extendedprice")))
    fixed = impute_model(holey, "l_extendedprice", ["l_quantity"])
    return fixed.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"))


@query("q_time_parse", """
SELECT 'iso_seconds' AS fmt, CAST(count(*) AS BIGINT) AS n_parsed,
       CAST(date_trunc('second', max(o_orderdate)) AS TIMESTAMP) AS max_ts
FROM orders
UNION ALL
SELECT 'iso_z', count(*),
       CAST(date_trunc('second', max(o_orderdate)) AS TIMESTAMP) FROM orders
UNION ALL
SELECT 'date_only', count(*),
       CAST(date_trunc('day', max(o_orderdate)) AS TIMESTAMP) FROM orders
UNION ALL
SELECT 'dot_date', count(*),
       CAST(date_trunc('day', max(o_orderdate)) AS TIMESTAMP) FROM orders
UNION ALL
SELECT 'us_date', count(*),
       CAST(date_trunc('day', max(o_orderdate)) AS TIMESTAMP) FROM orders
""")
def q_time_parse(spark, sf_dir):
    """TimeVariable lenient multi-format parse (``variable.py:1146-1211``):
    render o_orderdate into five of the reference's accepted shapes
    (ISO seconds, ISO-with-Z, date-only, European dot-date, US slash-date),
    re-parse each with the shared probe list, and prove nothing is lost —
    per-format parse counts and max timestamps match the direct values."""
    from orange3_spark.functions.timeparse import lenient_timestamp

    (orders,) = _t(spark, sf_dir, "orders")
    shapes = {
        "iso_seconds": "yyyy-MM-dd HH:mm:ss",
        "iso_z": "yyyy-MM-dd'T'HH:mm:ss'Z'",
        "date_only": "yyyy-MM-dd",
        "dot_date": "dd.MM.yyyy",
        "us_date": "MM/dd/yyyy",
    }
    parts = []
    for name, fmt in shapes.items():
        s = F.date_format("o_orderdate", fmt)
        parts.append(orders.select(
            F.lit(name).alias("fmt"),
            lenient_timestamp(s).alias("_ts")))
    un = parts[0]
    for p in parts[1:]:
        un = un.unionAll(p)
    return un.groupBy("fmt").agg(
        F.count("_ts").alias("n_parsed"),
        F.max("_ts").alias("max_ts"))


@query("q_select_best", """
WITH src AS (SELECT o_orderpriority AS f_pri,
                    CAST(year(o_orderdate) AS VARCHAR) AS f_year,
                    CASE WHEN o_totalprice < 100000 THEN 'lo'
                         WHEN o_totalprice < 200000 THEN 'mid'
                         ELSE 'hi' END AS f_bucket,
                    o_orderstatus AS y
             FROM orders WHERE o_orderstatus IS NOT NULL),
long AS (SELECT 'f_pri' AS feat, f_pri AS f, y FROM src
         UNION ALL SELECT 'f_year', f_year, y FROM src
         UNION ALL SELECT 'f_bucket', f_bucket, y FROM src),
c AS (SELECT feat, f, y, CAST(count(*) AS DOUBLE) AS n
      FROM long WHERE f IS NOT NULL GROUP BY 1, 2, 3),
tot AS (SELECT feat, sum(n) AS nn FROM c GROUP BY 1),
hy AS (SELECT p.feat, -sum(p.p * log2(p.p)) AS h FROM
        (SELECT c.feat, sum(n) / t.nn AS p
         FROM c JOIN tot t ON c.feat = t.feat GROUP BY c.feat, y, t.nn) p
       GROUP BY p.feat),
hcond AS (SELECT g.feat, sum(g.fn / t.nn * g.hfy) AS h FROM
           (SELECT feat, f, any_value(fn) AS fn,
                   -sum((n / fn) * log2(n / fn)) AS hfy
            FROM (SELECT feat, f, y, n,
                         sum(n) OVER (PARTITION BY feat, f) AS fn FROM c)
            GROUP BY feat, f) g
          JOIN tot t ON g.feat = t.feat GROUP BY g.feat),
ig AS (SELECT hy.feat, hy.h - hcond.h AS gain
       FROM hy JOIN hcond ON hy.feat = hcond.feat)
SELECT CAST(row_number() OVER (ORDER BY gain DESC, feat) AS BIGINT) AS rank,
       feat AS feature
FROM ig ORDER BY gain DESC, feat LIMIT 2
""")
def q_select_best(spark, sf_dir):
    """SelectBestFeatures (``fss.py:16-104``) by InfoGain over three
    derived discrete features — the oracle recomputes all three gains and
    must agree on the top-2 ranking."""
    from orange3_spark.preprocess.score import info_gain, select_best_features

    (orders,) = _t(spark, sf_dir, "orders")
    feat = orders.select(
        F.col("o_orderpriority").alias("f_pri"),
        F.year("o_orderdate").cast("string").alias("f_year"),
        F.when(F.col("o_totalprice") < 100000, "lo")
         .when(F.col("o_totalprice") < 200000, "mid")
         .otherwise("hi").alias("f_bucket"),
        F.col("o_orderstatus").alias("y"),
    ).where(F.col("y").isNotNull())
    best = select_best_features(feat, ["f_bucket", "f_pri", "f_year"], "y",
                                scorer=info_gain, k=2)
    return local_frame(spark, [(i + 1, f) for i, f in enumerate(best)],
                       "rank long, feature string")


@query("q_impute_asvalue", """
WITH m AS (SELECT CASE WHEN substring(md5(CAST(o_orderkey AS VARCHAR) || 'p'),
                                      1, 2) < '29'
                       THEN NULL ELSE o_orderpriority END AS pri
           FROM orders)
SELECT coalesce(pri, 'N/A') AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN pri IS NULL THEN 0.0 ELSE 1.0 END) AS DOUBLE)
           AS n_defined
FROM m GROUP BY 1
""")
def q_impute_asvalue(spark, sf_dir):
    """Impute AsValue (``impute.py:285``): missing becomes its own category
    plus a defined-indicator column — mask ~16% of a discrete column by
    content hash, impute, aggregate both outputs."""
    from orange3_spark.preprocess.transform import impute_as_value

    (orders,) = _t(spark, sf_dir, "orders")
    msk = F.substring(
        F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit("p"))),
        1, 2) < "29"
    holey = orders.withColumn(
        "o_orderpriority",
        F.when(msk, None).otherwise(F.col("o_orderpriority")))
    out = impute_as_value(holey, "o_orderpriority", missing_label="N/A")
    return out.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderpriority_defined").alias("n_defined"))


@query("q_sample_fixed", """
SELECT CAST(300 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_foreign
""")
def q_sample_fixed(spark, sf_dir):
    """Random filter, exact-count mode (``filter.py:110-140``): the sampled
    row SET is seed/partitioning-dependent, so the oracle pins the exact
    properties instead — the sample has exactly n rows and every one comes
    from the source (anti-join count 0)."""
    from orange3_spark.operators.filters import Random

    (orders,) = _t(spark, sf_dir, "orders")
    s = Random(prob=300, seed=7)(orders)
    foreign = s.join(orders, "o_orderkey", "left_anti")
    return s.agg(F.count(F.lit(1)).alias("n_rows")).crossJoin(
        foreign.agg(F.count(F.lit(1)).alias("n_foreign")))


@query("q_sample_bernoulli", """
SELECT TRUE AS in_range, CAST(0 AS BIGINT) AS n_foreign
""")
def q_sample_bernoulli(spark, sf_dir):
    """Random filter, Bernoulli mode: keep-probability 0.2 per row.  The
    kept count is partitioning-dependent, so the checkable property is the
    binomial bound — |n − pN| ≤ 5σ — plus provenance (no foreign rows)."""
    import math

    from orange3_spark.operators.filters import Random

    (orders,) = _t(spark, sf_dir, "orders")
    n_src = orders.count()
    s = Random(prob=0.2, seed=11)(orders)
    tol = 5.0 * math.sqrt(n_src * 0.2 * 0.8)
    foreign = s.join(orders, "o_orderkey", "left_anti")
    return (s.agg(F.count(F.lit(1)).alias("_n"))
             .select((F.abs(F.col("_n") - F.lit(0.2 * n_src))
                      <= F.lit(tol)).alias("in_range"))
             .crossJoin(foreign.agg(F.count(F.lit(1)).alias("n_foreign"))))


# ------------------------------------- §2.11/§2.12 rows-only registrations

@query("q_ml_tsne", OR2.tsne_oracle)
def q_ml_tsne(spark, sf_dir):
    """Deterministic exact t-SNE of a hash-sampled slice of the embeddings
    table (``Orange/projection/manifold.py``; PCA init, fixed schedule).
    O(n²) by nature → sample-then-embed is the contract.  The embedding
    is a pure function of the id-SORTED sample matrix, so the oracle
    (plans/oracle_replay.tsne_oracle) re-fetches the identical hash
    sample through DuckDB, re-runs the identical numpy schedule, and the
    driver hash-checks the integer fixed-point coordinates row by row —
    sampling, collection, embedding and quantization end to end."""
    from orange3_spark.ml.projection import tsne
    from orange3_spark.operators.sample import sample_hash

    (emb,) = _t(spark, sf_dir, "embeddings")
    P = OR2.TSNE_PARAMS
    sampled = sample_hash(emb, "vec_id", P["fraction"])
    out = tsne(sampled, "vec_id", array_col="embedding",
               n_iter=P["n_iter"])
    return out.select(
        "vec_id",
        F.floor(F.col("tsne_x") * F.lit(OR2.TSNE_QSCALE) + F.lit(0.5))
        .cast("long").alias("qx"),
        F.floor(F.col("tsne_y") * F.lit(OR2.TSNE_QSCALE) + F.lit(0.5))
        .cast("long").alias("qy"))


@query("q_ml_som", OR2.som_oracle)
def q_ml_som(spark, sf_dir):
    """Batch SOM (Kohonen; reference ``Orange/projection/som.py``):
    PCA-plane init, one assignment scan per iteration, driver-sized grid.
    Every cross-partition statistic (Gram init, per-unit sums, counts)
    is an exact quantized integer, so the fitted grid is a pure function
    of the data and the oracle (plans/oracle_replay.som_oracle) replays
    fit + winner assignment bit for bit; the driver hash-checks the
    per-unit hit counts end to end."""
    from orange3_spark.ml.projection import som

    P = OR2.SOM_PARAMS
    (emb,) = _t(spark, sf_dir, "embeddings")
    data = emb.filter(F.col("embedding").isNotNull())
    out = som(data, array_col="embedding", dim_x=P["dim_x"],
              dim_y=P["dim_y"], n_iterations=P["n_iterations"])
    return (out.groupBy("som_x", "som_y")
               .agg(F.count(F.lit(1)).alias("n"))
               .orderBy("som_x", "som_y"))


@query("q_ml_freeviz", OR2.freeviz_oracle)
def q_ml_freeviz(spark, sf_dir):
    """FreeViz anchor projection (``Orange/projection/freeviz.py``,
    Demšar 2005): deterministic radial-init gradient fit on the bounded
    per-nation feature table, row-local anchor projection.  Features are
    built from EXACT integer aggregates (count / fixed-point sum / max)
    so the feature matrix is partition-independent and bit-identical in
    DuckDB; the oracle (plans/oracle_replay.freeviz_oracle) replays the
    fit on it and mirrors the anchor-projection Column chain term for
    term, hash-checking aggregation, fit, distributed projection and
    quantization end to end."""
    from orange3_spark.ml.projection import freeviz

    nation, customer, orders = _t(spark, sf_dir,
                                  "nation", "customer", "orders")
    q = F.floor(F.col("o_totalprice").cast("double") * F.lit(100.0)
                + F.lit(0.5)).cast("long")
    feats = (orders.join(customer, orders.o_custkey == customer.c_custkey)
                   .join(nation, customer.c_nationkey == nation.n_nationkey)
                   .groupBy("n_nationkey", "n_regionkey")
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.sum(q).alias("qsum"), F.max(q).alias("qmax"))
                   .select("n_nationkey", "n_regionkey",
                           F.col("n").cast("double").alias("f_orders"),
                           (F.col("qsum").cast("double")
                            / F.col("n").cast("double")
                            / F.lit(100.0)).alias("f_avg"),
                           (F.col("qmax").cast("double")
                            / F.lit(100.0)).alias("f_max")))
    out = freeviz(feats, ["f_orders", "f_avg", "f_max"],
                  "n_regionkey", maxiter=60)
    return out.select(
        "n_nationkey",
        F.floor(F.col("freeviz_x") * F.lit(OR2.FREEVIZ_QSCALE) + F.lit(0.5))
        .cast("long").alias("qfx"),
        F.floor(F.col("freeviz_y") * F.lit(OR2.FREEVIZ_QSCALE) + F.lit(0.5))
        .cast("long").alias("qfy"))


@query("q_feature_scores_relieff", """
WITH raw AS (
  SELECT DISTINCT l_quantity, l_discount, l_tax, l_returnflag
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        AND l_tax IS NOT NULL AND l_returnflag IS NOT NULL),
pool AS (
  SELECT CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS q1,
         CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS q2,
         CAST(floor(l_tax * 100.0 + 0.5) AS BIGINT) AS q3,
         l_returnflag AS y,
         md5(CAST(l_quantity AS VARCHAR) || '|'
             || CAST(l_discount AS VARCHAR) || '|'
             || CAST(l_tax AS VARCHAR) || '|' || l_returnflag) AS h
  FROM raw),
samp AS (SELECT q1, q2, q3, y, row_number() OVER (ORDER BY h) AS rid
         FROM (SELECT * FROM pool ORDER BY h LIMIT 150) s),
spans AS (SELECT greatest(max(q1) - min(q1), 1) AS s1,
                 greatest(max(q2) - min(q2), 1) AS s2,
                 greatest(max(q3) - min(q3), 1) AS s3,
                 count(*) AS n FROM samp),
pairs AS (SELECT a.rid AS i, b.rid AS j, a.y = b.y AS hit,
                 abs(a.q1 - b.q1) AS d1, abs(a.q2 - b.q2) AS d2,
                 abs(a.q3 - b.q3) AS d3,
                 abs(a.q1 - b.q1) * s.s2 * s.s3
                   + abs(a.q2 - b.q2) * s.s1 * s.s3
                   + abs(a.q3 - b.q3) * s.s1 * s.s2 AS dist
          FROM samp a JOIN samp b ON a.rid <> b.rid CROSS JOIN spans s),
nearest AS (SELECT i, hit, d1, d2, d3,
                   row_number() OVER (PARTITION BY i, hit
                                      ORDER BY dist, j) AS rn
            FROM pairs),
w AS (SELECT CAST(sum(CASE WHEN hit THEN -d1 ELSE d1 END) AS BIGINT) AS w1,
             CAST(sum(CASE WHEN hit THEN -d2 ELSE d2 END) AS BIGINT) AS w2,
             CAST(sum(CASE WHEN hit THEN -d3 ELSE d3 END) AS BIGINT) AS w3
      FROM nearest WHERE rn <= 5)
SELECT feature,
       floor(score * 1000000.0 + 0.5) / 1000000.0 AS score
FROM (
  SELECT 'l_discount' AS feature,
         CAST(w2 AS DOUBLE) / (n * 5 * s2) AS score FROM w, spans
  UNION ALL
  SELECT 'l_quantity', CAST(w1 AS DOUBLE) / (n * 5 * s1) FROM w, spans
  UNION ALL
  SELECT 'l_tax', CAST(w3 AS DOUBLE) / (n * 5 * s3) FROM w, spans) u
""")
def q_feature_scores_relieff(spark, sf_dir):
    """ReliefF (``score.py:338``) on the deterministic md5-ordered bounded
    sample — nearest hit/miss scoring is inherently pairwise, so the fit
    sample is the contract (SURVEY §7 risk register).  The quantized exact
    path (``preprocess/score.py:relieff(quantize=100)``: integer distances
    scaled by the other features' spans, stable lower-index tie-break, one
    exact integer accumulation per feature, one final division) makes the
    whole fit a pure function of the data, so the oracle replays it:
    sample → spans → pairwise integer distances → 5 nearest hits/misses →
    signed |Δq| sums.  Previously rows-only."""
    from orange3_spark.preprocess.score import relieff

    (li,) = _t(spark, sf_dir, "lineitem")
    scores = relieff(li, ["l_quantity", "l_discount", "l_tax"],
                     "l_returnflag", n_samples=150, quantize=100.0)
    import math
    return local_frame(
        spark, sorted((c, math.floor(v * 1000000.0 + 0.5) / 1000000.0)
                      for c, v in scores.items()),
        "feature string, score double")


@query("q_scoring_sheet", OR2.scoringsheet_oracle)
def q_scoring_sheet(spark, sf_dir):
    """Scoring sheet learner (``Orange/classification/scoringsheet.py``):
    exact-median indicators + contingency-IRLS logistic fit → integer
    point sheet.  Binary indicators collapse the training set to a
    2^p-row integer contingency, so the fit is a pure function of exact
    counts — the oracle (plans/oracle_replay.scoringsheet_oracle) replays
    medians, contingency and the identical IRLS through DuckDB and embeds
    the sheet, hash-grading the distributed percentile + groupBy + solve
    end to end (previously rows-only: the MLlib L-BFGS fit was
    deterministic only per-partitioning)."""
    from orange3_spark.ml.scoringsheet import scoring_sheet_learner

    customer, orders = _t(spark, sf_dir, "customer", "orders")
    df = (orders.join(customer,
                      orders.o_custkey == customer.c_custkey)
                .select("o_totalprice", "c_acctbal",
                        (F.col("o_orderstatus") == "F")
                        .cast("double").alias("y")))
    P = OR2.SCORING_SHEET_PARAMS
    model = scoring_sheet_learner(df, ["o_totalprice", "c_acctbal"], "y",
                                  num_decision_params=P["num_decision_params"],
                                  max_points=P["max_points"])
    rows = [(f, float(round(t, 6)), int(p)) for f, t, p in model.sheet]
    return local_frame(
        spark, rows, "feature string, threshold double, points long")


@query("q_filter_hasclass", """
WITH m AS (SELECT CASE WHEN substring(md5(CAST(o_orderkey AS VARCHAR) || 'c'),
                                      1, 2) < '29'
                       THEN NULL ELSE o_orderstatus END AS cls,
                  o_orderpriority
           FROM orders)
SELECT cls AS o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
FROM m WHERE cls IS NOT NULL GROUP BY 1, 2
""")
def q_filter_hasclass(spark, sf_dir):
    """HasClass filter (``filter.py:86-107``): drop rows whose class
    variable is missing — mask ~16% of the class column by content hash,
    filter, aggregate the survivors."""
    from orange3_spark.operators.filters import HasClass

    (orders,) = _t(spark, sf_dir, "orders")
    msk = F.substring(
        F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit("c"))),
        1, 2) < "29"
    holey = orders.withColumn(
        "o_orderstatus",
        F.when(msk, None).otherwise(F.col("o_orderstatus")))
    out = HasClass(class_columns=["o_orderstatus"])(holey)
    return out.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"))


@query("q_orc_roundtrip", """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(c_nationkey) AS BIGINT) AS sum_nation,
       CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
       min(c_name) AS lo_name, max(c_name) AS hi_name
FROM customer
""")
def q_orc_roundtrip(spark, sf_dir):
    """ORC round-trip — the columnar interchange format of the
    Hive/Trino world, absent in the reference (its persisted form is
    pickle, deliberately skipped) but mandatory for a warehouse-adjacent
    engine.  Fully DISTRIBUTED on both legs (executor-parallel write and
    read, unlike the driver-side small-data contracts of tab/csv/xlsx);
    check values are exact integers/strings, so the oracle is the same
    aggregate over the source parquet."""
    from orange3_spark.sources.registry import read_table

    (customer,) = _t(spark, sf_dir, "customer")
    path = os.path.join(_tmpdir(), "customer.orc")
    customer.write.mode("overwrite").orc(path)
    back = read_table(spark, path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("c_nationkey").cast("long").alias("sum_nation"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
        F.min("c_name").alias("lo_name"),
        F.max("c_name").alias("hi_name"))


@query("q_jsonl_roundtrip", """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(length(text)) AS BIGINT) AS sum_text_len
FROM documents
""")
def q_jsonl_roundtrip(spark, sf_dir):
    """JSON-Lines round-trip — THE corpus interchange format of LLM
    training pipelines.  Distributed write and read; the read passes the
    EXPLICIT schema (schema inference is a full extra scan of the data —
    never pay it twice at 100 TB).  Exact-integer check values; oracle =
    the same aggregate over the source parquet."""
    (docs,) = _t(spark, sf_dir, "documents")
    path = os.path.join(_tmpdir(), "documents_jsonl")
    docs.write.mode("overwrite").json(path)
    back = spark.read.schema(docs.schema).json(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.length("text")).cast("long").alias("sum_text_len"))


@query("q_partitioned_sink", """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem WHERE l_returnflag = 'R'
""")
def q_partitioned_sink(spark, sf_dir):
    """Hive-partitioned parquet sink + PARTITION-PRUNED read-back: write
    lineitem partitioned by l_returnflag, read one partition back
    through a filter.  At 100 TB this is the difference between
    scanning a third of the table and scanning all of it — the plan
    audit pins `PartitionFilters` on the read (directory-level pruning,
    stronger than row-group PushedFilters).  l_quantity is
    integer-valued, so its double sum is exact and order-independent."""
    (li,) = _t(spark, sf_dir, "lineitem")
    path = os.path.join(_tmpdir(), "lineitem_by_flag")
    (li.select("l_orderkey", "l_quantity", "l_returnflag")
       .write.mode("overwrite").partitionBy("l_returnflag").parquet(path))
    back = spark.read.parquet(path).where(F.col("l_returnflag") == "R")
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.countDistinct("l_orderkey").alias("n_orders"))


@query("q_ml_isomap", OR2.isomap_oracle)
def q_ml_isomap(spark, sf_dir):
    """Isomap (owmanifoldlearning.py — the reference's Manifold Learning
    widget wraps sklearn.Isomap; this closes the last manifold row):
    k-NN graph -> Floyd-Warshall geodesics -> classical MDS, all
    deterministic numpy over the id-sorted FIXED-SIZE hash sample, with
    the engine's sign convention.  Sample-then-embed is the contract
    (the reference is in-memory too); the sample is fixed-SIZE
    (sample_fixed_hash: top-n by md5, a distributed top-k) rather than
    a hash fraction, so the bounded-n embed guard holds at any corpus
    scale — a fraction sample grew with the corpus and tripped its own
    guard at sf1.  The oracle (plans/oracle_replay.isomap_oracle)
    re-fetches the identical sample and replays the identical fit."""
    from orange3_spark.ml.projection import isomap
    from orange3_spark.operators.sample import sample_fixed_hash

    P = OR2.ISOMAP_PARAMS
    (emb,) = _t(spark, sf_dir, "embeddings")
    sampled = sample_fixed_hash(emb.where(F.col("embedding").isNotNull()),
                                "vec_id", P["n"])
    out = isomap(sampled, "vec_id", array_col="embedding",
                 n_neighbors=P["n_neighbors"])
    return out.select(
        "vec_id",
        F.floor(F.col("iso_0") * F.lit(OR2.ISOMAP_QSCALE) + F.lit(0.5))
        .cast("long").alias("qx"),
        F.floor(F.col("iso_1") * F.lit(OR2.ISOMAP_QSCALE) + F.lit(0.5))
        .cast("long").alias("qy"))


@query("q_dst_roundtrip", """
WITH s AS (SELECT s_suppkey, CAST(s_acctbal AS DOUBLE) AS a,
                  CAST(s_nationkey AS DOUBLE) AS b
           FROM supplier WHERE s_suppkey < 40),
idx AS (SELECT s_suppkey, a, b,
               row_number() OVER (ORDER BY s_suppkey) - 1 AS i
        FROM s)
SELECT CAST(x.i AS INTEGER) AS i, CAST(y.i AS INTEGER) AS j,
       CAST(x.s_suppkey AS VARCHAR) AS row_label,
       CASE WHEN x.i = y.i THEN 0.0
            ELSE sqrt((x.a - y.a) * (x.a - y.a)
                      + (x.b - y.b) * (x.b - y.b)) END AS dist
FROM idx x CROSS JOIN idx y
ORDER BY i, j
""")
def q_dst_roundtrip(spark, sf_dir):
    """.dst distance-matrix interchange round-trip
    (``Orange/misc/distmatrix.py:113-245,359-388``; widgets
    owdistancefile / owsavedistances): supplier slice → long-form
    euclidean distances (stats/distance.row_distances) → write_dst
    (header + row labels + lower triangle) → read_dst (flag parse,
    symmetric mirror, zero diagonal) → the full logical square.  The
    oracle recomputes every cell from the parquet directly, so any loss
    in the format layer (label mapping, triangle mirroring, float
    round-trip via repr) breaks the hash."""
    from orange3_spark.sources.dst import read_dst, write_dst
    from orange3_spark.stats.distance import row_distances

    (sup,) = _t(spark, sf_dir, "supplier")
    d = (sup.where(F.col("s_suppkey") < 40)
         .select("s_suppkey", "s_acctbal", "s_nationkey"))
    pairs = row_distances(d, "s_suppkey", ["s_acctbal", "s_nationkey"])
    path = os.path.join(_tmpdir(), "suppliers.dst")
    write_dst(pairs, path, id_a="id_a", id_b="id_b", dist_col="dist")
    back = read_dst(spark, path)
    return back.select("i", "j", "row_label", "dist").orderBy("i", "j")
