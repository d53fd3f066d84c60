"""SparkSession construction and fixture loading.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` but every config here is
chosen to survive a 1000-executor cluster reading ~100 TB:

  * AQE on (runtime coalescing of shuffle partitions, skew-join splitting,
    runtime broadcast conversion) — at 100 TB the static shuffle-partition
    number is always wrong, AQE fixes it per-stage.
  * Arrow enabled for every pandas/driver boundary.
  * Session timezone pinned to UTC so event-time semantics are independent of
    the host (and comparable with the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: the directory holding the ``orange3_spark`` package, for the workers
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _reap_stale_scratch(root: str, max_age_s: int = 6 * 3600) -> None:
    """Remove shuffle/blockmgr scratch left behind by DEAD sessions.

    tmpfs scratch is RAM: a killed JVM never runs its shutdown hook, so
    each crashed/timed-out session strands its spark-*/blockmgr-* dirs
    and the debris silently eats the machine (observed: 92 GB of shm
    from one day's sessions starving a live run to OOM death).  Each
    session now writes under ``<root>/<pid>``, so liveness is EXACT —
    a numeric-named tree is reaped the moment its owning process is
    gone, however fresh (the r8 OOM loop was crash debris minutes old
    that a pure age gate kept protecting).  Non-numeric entries are
    legacy flat-layout scratch, still age-gated so a concurrent live
    session that predates this layout is never touched."""
    import shutil
    import time

    try:
        now = time.time()
        for name in os.listdir(root):
            p = os.path.join(root, name)
            try:
                if name.isdigit():
                    if not os.path.exists(f"/proc/{name}"):
                        shutil.rmtree(p, ignore_errors=True)
                elif now - os.path.getmtime(p) > max_age_s:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                continue
    except OSError:
        pass


def _default_local_dir(min_free_bytes: int = 8 << 30) -> str:
    """Prefer tmpfs for shuffle files only when it actually has room
    (containers often cap /dev/shm at 64 MB); otherwise /tmp.  The
    session gets a per-PID subdir so the reaper can tell live scratch
    from crash debris exactly.  Shuffle-heavy SCALE runs (sf1+) should
    set SPARK_GRAFT_LOCAL_DIR=/tmp explicitly: tmpfs shuffle is RAM,
    and a 10x-corpus shuffle plus the JVM heap can exceed the machine."""
    try:
        _reap_stale_scratch("/dev/shm/spark-local")
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= min_free_bytes:
            return f"/dev/shm/spark-local/{os.getpid()}"
    except OSError:
        pass
    return "/tmp"


def get_spark(app_name: str = "orange3-spark", **extra_conf: str) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: the one switch that matters most at scale — coalesces the
        # post-shuffle partition count to the data actually produced and
        # splits skewed join partitions at runtime.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Static default for local runs; AQE coalesces down from here.
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet scans: vectorized reader + pushdown are default-on; keep
        # split size at 128MB so a 100 TB table yields ~800k well-sized tasks.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Some producers write TIMESTAMP(NANOS) parquet (e.g. pandas) which
        # Spark's reader rejects; read them as long and convert at ingest
        # (see load_tables).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Generated-class cache (static conf, default 100 entries): a
        # session running the full 150-query surface evicts constantly, so
        # re-running any query pays full janino recompilation — measured as
        # 3-5x "steady-state" slowdowns late in a long session (e.g.
        # q_dup_clusters 3.2 s solo vs 17.9 s after 150 other queries).
        # 5000 classes ≈ tens of MB of metaspace: cheap insurance for any
        # long-lived analytics session, not just the bench.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # local[N] runs driver+executor in ONE JVM: size the heap for the
        # executor work, not driver bookkeeping.  8g showed single ~15-19 s
        # full-GC stalls under the dedup section's shuffle churn; 32g keeps
        # G1 in concurrent mode for the whole 112-query bench.  On a real
        # cluster this maps to executor memory, not driver memory.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # Shuffle/spill files on tmpfs when available: local-mode bench runs
        # showed one ~20 s stall per run at a random query with clean GC
        # logs (max pause 22 ms) — consistent with page-cache writeback of
        # shuffle files to disk, which tmpfs sidesteps.  Real clusters put
        # local dirs on NVMe; this is the local-harness equivalent.
        # Docker defaults /dev/shm to 64 MB, so require real headroom
        # before preferring it — shuffle-heavy queries ENOSPC otherwise.
        .config("spark.local.dir",
                os.environ.get("SPARK_GRAFT_LOCAL_DIR") or _default_local_dir())
        # managed-table warehouse (bucketed tables, sources/bucketing.py) —
        # kept out of the repo tree
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               "/tmp/orange3_spark_warehouse"))
        # full PushedFilters/ReadSchema in explain output (default truncates
        # at 100 chars; plan-regression tests read these)
        .config("spark.sql.maxMetadataStringLength", "2000")
        .config("spark.ui.enabled", "false")
        # Python workers fork from orange3_spark/_worker_daemon.py, which
        # runs pyspark's daemon with a zipimport invalidation that re-reads
        # an archive only when it changed: the stock one re-read
        # pyspark.zip, py4j and the Spark jar (16 directories) before every
        # task, 0.2-0.3 s of worker CPU each.  Workers import the daemon,
        # and every UDF pickled by reference, from the package's parent
        # directory, whatever the driver's cwd and PYTHONPATH.
        .config("spark.python.daemon.module", "orange3_spark._worker_daemon")
    )
    builder = builder.config("spark.executorEnv.PYTHONPATH", os.pathsep.join(
        filter(None, [_PACKAGE_PARENT,
                      extra_conf.pop("spark.executorEnv.PYTHONPATH", None)])))
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: lazy-frame memo keyed by (applicationId, path, mtime_ns, size).
#: This caches SCHEMA RESOLUTION only — ``spark.read.parquet`` costs
#: ~80 ms per call (py4j + JVM DataSource resolution + footer read),
#: which a 252-query bench pass pays ~500 times for the same ten
#: read-only fixture files (~40 s/pass, r10 measurement).  The cached
#: object is an UNMATERIALIZED scan plan: every action still reads the
#: parquet bytes, so no result or data is ever reused across queries;
#: the (mtime, size) key drops the entry if a file changes, and entries
#: from stopped sessions are pruned on the next lookup.
_SCAN_CACHE: dict = {}


def load_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TPCH_TABLES
) -> dict[str, DataFrame]:
    """Read the driver-generated parquet fixtures as DataFrames.

    Parquet is the engine's native persisted form (reference persists pickled
    numpy tables, ``Orange/data/io.py:199-220``); the columnar scan gives us
    column pruning + predicate pushdown for free.
    """
    try:
        app = spark.sparkContext.applicationId
    except Exception:
        app = None
    if app is not None:
        for k in [k for k in _SCAN_CACHE if k[0] != app]:
            del _SCAN_CACHE[k]
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        try:
            st = os.stat(path)
        except OSError:
            continue
        key = (app, path, st.st_mtime_ns, st.st_size)
        df = _SCAN_CACHE.get(key) if app is not None else None
        if df is None:
            df = _read_parquet(spark, path)
            if app is not None:
                _SCAN_CACHE[key] = df
        out[name] = df
    return out


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as TIMESTAMP(NANOS) in the parquet footer — Spark reads
    them as long (nanosAsLong); we convert back to timestamps at ingest."""
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa
    except ImportError:  # pragma: no cover
        return []
    try:
        schema = pq.read_schema(path)
    except Exception:  # directory-style parquet: sample one file
        first = next((os.path.join(path, f) for f in sorted(os.listdir(path))
                      if f.endswith(".parquet")), None)
        if first is None:
            return []
        schema = pq.read_schema(first)
    return [f.name for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"]


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    from pyspark.sql import functions as F

    nanos = _nanos_timestamp_cols(path)
    if nanos:
        # Runtime-settable SQL conf: must hold in *any* caller-supplied
        # session (the correctness harness builds its own), not only one
        # produced by get_spark() — otherwise TIMESTAMP(NANOS) parquet
        # fails the read with PARQUET_TYPE_ILLEGAL.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos:
        # integer division truncates ns -> µs exactly like DuckDB/Arrow do
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def _internal_arrow_type(dt):
    """Arrow type of ``dt.toInternal`` output: dates are int32 days and
    timestamps int64 µs since the epoch, nested types recurse, every
    other type is its plain Spark→Arrow mapping."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return pa.int64()
    if isinstance(dt, T.DateType):
        return pa.int32()
    if isinstance(dt, T.ArrayType):
        return pa.list_(_internal_arrow_type(dt.elementType))
    if isinstance(dt, T.MapType):
        return pa.map_(_internal_arrow_type(dt.keyType),
                       _internal_arrow_type(dt.valueType))
    if isinstance(dt, T.StructType):
        return pa.struct([(f.name, _internal_arrow_type(f.dataType))
                          for f in dt.fields])
    return to_arrow_type(dt)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-computed rows as an Arrow-backed ``LocalRelation``.

    ``spark.createDataFrame(<python rows>, schema)`` ships the rows as a
    pickled Python RDD, so every later action on the frame runs a
    Python-worker job (~0.25 s at any row count).  This builds one
    ``pyarrow.Table`` instead, which Spark plans as a ``LocalRelation``:
    collecting it runs no job at all.

    ``rows`` are tuples/lists/``Row``s (positional) or dicts (by field
    name); ``schema`` is a DDL string or a ``StructType``.  Semantics match
    the list path:

      * every row passes the same ``_make_type_verifier`` check, so a
        wrong-typed value (``1.5`` into ``bigint``, ``2**40`` into
        ``int``) raises instead of Arrow silently truncating it;
      * columns are built straight from Python values — no pandas, which
        would turn a float ``NaN`` into NULL;
      * every value goes through its Spark type's ``toInternal``, as on
        the list path, so dates and timestamps arrive as days / µs since
        the epoch: an aware ``datetime`` lands on the same UTC instant
        and a naive one is read in the same local zone.
    """
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(schema, str):
        schema = spark._parse_ddl(schema)
    if not isinstance(schema, T.StructType):
        raise TypeError(f"local_frame needs a struct schema, got {schema!r}")
    verify = T._make_type_verifier(schema)
    cols: list[list] = [[] for _ in schema.fields]
    for row in rows:
        verify(row)
        if isinstance(row, dict):
            row = [row.get(n) for n in schema.names]
        for col, f, v in zip(cols, schema.fields, row):
            col.append(f.dataType.toInternal(v))
    arrays = [pa.array(col, type=_internal_arrow_type(f.dataType))
              .cast(to_arrow_type(f.dataType))
              for col, f in zip(cols, schema.fields)]
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, names=schema.names), schema)


#: driver budget of every local twin, in fetched cells (rows × values
#: per row).  Read at call time: setting it (and LOCAL_ROWS) to 0 sends
#: every twin down its distributed path.
LOCAL_CELLS = 4_000_000
#: row ceiling of a fetch whose caller passes no ``width``
LOCAL_ROWS = 65_536


def fetch_capped(df: DataFrame, cap: int):
    """``df`` as one ``pyarrow.Table`` when it has at most ``cap`` rows,
    else ``None``.

    The fetch is ``limit(cap + 1).toArrow()``: ONE job, which runs the
    limit in parallel over the partitions (``collect`` would scan them
    in executeTake's sequential scale-up rounds), and no probe job
    before it.  Arrow keeps NULL apart from NaN and int64 exact; a
    pandas fetch does neither."""
    tbl = df.limit(cap + 1).toArrow()
    return None if tbl.num_rows > cap else tbl


def fetch_local(df: DataFrame, width: "int | None" = None):
    """``df`` as one ``pyarrow.Table`` when it is small enough for a
    driver-local twin, else ``None`` — the caller then runs its
    distributed loop.

    ``width`` is the value count of a fixed-width row: the cap is
    ``LOCAL_CELLS // width`` rows.  Without it the cap is ``LOCAL_ROWS``
    rows and ``LOCAL_CELLS`` fetched cells, every array element counted
    as one cell.  The fetch is :func:`fetch_capped`."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cells = LOCAL_CELLS
    cap = LOCAL_ROWS if width is None else cells // max(width, 1)
    tbl = fetch_capped(df, cap)
    if tbl is None or width is not None:
        return tbl
    n = sum(pc.sum(pc.list_value_length(c)).as_py() or 0
            if pa.types.is_list(c.type) or pa.types.is_large_list(c.type)
            else len(c) for c in tbl.columns)
    return None if n > cells else tbl


def arrow_values(col) -> list:
    """A fetched column as the Python values ``collect()`` gives: a
    ``timestamp`` (UTC-aware in Arrow) becomes a ``Row``'s naive local
    datetime, so a fetched key equals the caller's keys."""
    import pyarrow as pa
    from pyspark.sql.types import TimestampType

    if not (pa.types.is_timestamp(col.type) and col.type.tz):
        return col.to_pylist()
    us = col.cast(pa.timestamp("us", col.type.tz)).cast(pa.int64())
    return [TimestampType().fromInternal(v) for v in us.to_pylist()]


def arrow_matrix(col, dtype):
    """A fixed-length array column of a :func:`fetch_local` table as one
    ``(rows, length)`` numpy matrix, read column-wise (no per-row
    Python lists)."""
    import numpy as np

    arr = col.combine_chunks()
    return np.asarray(arr.flatten(), dtype=dtype).reshape(len(arr), -1)


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load fixtures and register them as temp views for spark.sql use."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
