"""The measured process: one fresh Spark session running one workload as a
closed loop with a single client.

``run.py`` starts this module with a pinned environment and reads the
record it writes.  Phases, in order:

1. set-up (``setup_s``, timed from the moment run.py spawned this
   process): interpreter and imports, Spark session, fixture scan
   registration, then ``WARM_PASSES`` untimed passes over the workload;
2. the timed window: whole rounds of the workload, each in an order drawn
   from the seed, until ``--seconds`` have passed.  Every query is timed
   in three phases -- build (the registry function), plan
   (``executedPlan``) and exec (a ``noop`` write, which evaluates every
   output column without moving rows to the driver);
3. the correctness phase, outside every timing: each query once with
   ``collect()``, compared with its DuckDB oracle.

A query that raises, in the warm passes or in the window, is recorded in
``errors`` and counted as failed; the run goes on.

With ``--trace 1`` the same loop also records package spans, py4j calls,
job and stage metrics and Python-worker CPU; those add work, so the
end-to-end figures come from the untraced run.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time

from perfbench import spans as S
from perfbench.datagen import TABLES
from perfbench.summary import percentile, tail
from perfbench.workloads import WORKLOADS
from scripts.check_correctness import canon_rows

#: the first pass pays JIT and code generation; with five-query rounds
#: the JIT is still speeding rounds up after two passes, so three
WARM_PASSES = 3


class Tracer:
    """Per-query layer records for the traced run."""

    def __init__(self, spark, spans: S.Spans, py4j: S.Py4jCounter):
        self.spans = spans
        self.py4j = py4j
        self.sc = spark.sparkContext
        from pyspark import SparkContext
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.n = 0

    def begin_build(self) -> None:
        self.n += 1
        self.sc.setJobGroup(f"perfbench-{self.n}-build", "build")
        self.pkg0 = self.spans.snapshot()
        self.pyw0 = S.pyworker_cpu_s(self.jvm_pid)
        self.cpu0 = time.process_time()
        self.py4j.calls = 0
        self.py4j.seconds = 0.0
        self.py4j.active = True

    def end_build(self) -> None:
        self.py4j.active = False
        self.driver_cpu = time.process_time() - self.cpu0
        self.build_py4j = (self.py4j.calls, self.py4j.seconds)

    def begin_exec(self) -> None:
        self.sc.setJobGroup(f"perfbench-{self.n}-exec", "exec")

    def finish(self, plan, rec: dict) -> None:
        exchanges, python = S.plan_counts(plan.toString())
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        build_jobs = tracker.getJobIdsForGroup(f"perfbench-{self.n}-build")
        exec_jobs = tracker.getJobIdsForGroup(f"perfbench-{self.n}-exec")
        rec.update({
            "build.jobs": len(build_jobs),
            "build.py4j_calls": self.build_py4j[0],
            "build.py4j_s": self.build_py4j[1],
            "driver.cpu_s": self.driver_cpu,
            "plan.exchanges": exchanges,
            "plan.python_nodes": python,
            "exec.jobs": len(exec_jobs),
            "pyworker.cpu_s": S.pyworker_cpu_s(self.jvm_pid) - self.pyw0,
        })
        for k, v in S.job_metrics(jsc.statusStore(),
                                  build_jobs + exec_jobs).items():
            rec[f"spark.{k}"] = v
        now = self.spans.snapshot()
        for pkg, (calls, self_s) in now.items():
            c0, s0 = self.pkg0.get(pkg, (0, 0.0))
            if calls - c0:
                rec[f"{pkg}.calls"] = calls - c0
                rec[f"{pkg}.self_s"] = self_s - s0


def run_query(spark, fn, sf_dir: str, tracer: Tracer | None) -> dict:
    """Build, plan and execute one query; returns its phase timings."""
    t0 = time.perf_counter()
    if tracer:
        tracer.begin_build()
        try:
            df = fn(spark, sf_dir)
        finally:
            tracer.end_build()
    else:
        df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    plan = df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    if tracer:
        tracer.begin_exec()
    df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    rec = {"build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2,
           "latency_s": t3 - t0}
    if tracer:
        tracer.finish(plan, rec)
    return rec


def check_oracles(spark, queries, registry, oracles, sf_dir, scratch):
    """Run each query once with ``collect()`` and compare it with its
    DuckDB oracle; returns {query: None or failure text}."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{os.path.join(scratch, 'duckdb')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, t + '.parquet')}'")
    out = {}
    for q in queries:
        try:
            df = registry[q](spark, sf_dir)
            got = canon_rows(df.collect(), df.columns)
            sql = oracles[q]
            res = con.execute(sql() if callable(sql) else sql)
            cols = [d[0] for d in res.description]
            want = canon_rows(res.fetchall(), cols)
            if sorted(df.columns) != sorted(cols):
                out[q] = "column names differ from the oracle"
            elif got != want:
                out[q] = f"result differs ({len(got)} vs {len(want)} rows)"
            else:
                out[q] = None
        except Exception as e:  # a failing query is counted, not fatal
            out[q] = f"{type(e).__name__}: {str(e)[:300]}"
        spark.catalog.clearCache()
    con.close()
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    spawned = float(os.environ["PERFBENCH_SPAWNED"])
    queries = WORKLOADS[a.workload]
    order = random.Random(a.seed)

    spans = py4j = None
    if a.trace:
        # before the plan modules import (and bind) the package functions
        spans = S.Spans()
        spans.install(extra={"session": ("orange3_spark.session",
                                         "load_tables")})
        py4j = S.Py4jCounter()
        py4j.install()
    import __spark_entry__  # noqa: F401  (populates the registry)
    from orange3_spark.plans.registry import ORACLE, QUERIES
    from orange3_spark.session import get_spark, load_tables

    imported_s = time.time() - spawned
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{a.workload}", **{
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(a.scratch, 'tmp')} "
            "-XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t
    load_tables(spark, a.data, TABLES)
    tracer = Tracer(spark, spans, py4j) if a.trace else None

    errors = []

    def attempt(q: str, rnd) -> dict | None:
        """One query; an exception is recorded in ``errors`` (counted as
        failed) and the loop goes on."""
        try:
            return run_query(spark, QUERIES[q], a.data, tracer)
        except Exception as e:
            errors.append({"query": q, "round": rnd,
                           "error": f"{type(e).__name__}: {e}"[:300]})
            return None
        finally:
            spark.catalog.clearCache()

    t = time.perf_counter()
    for i in range(WARM_PASSES):
        for q in order.sample(queries, len(queries)):
            attempt(q, f"warm{i}")
    warm_s = time.perf_counter() - t
    setup_s = time.time() - spawned

    records, round_walls = [], []
    pkg0 = spans.snapshot() if spans else {}
    cpu0 = S.cpu_times()
    w0 = time.perf_counter()
    while True:
        r0 = time.perf_counter()
        for q in order.sample(queries, len(queries)):
            rec = attempt(q, len(round_walls))
            if rec is not None:
                rec.update(query=q, round=len(round_walls))
                records.append(rec)
        round_walls.append(time.perf_counter() - r0)
        if time.perf_counter() - w0 >= a.seconds:
            break
    wall = time.perf_counter() - w0
    steal = S.steal_frac(cpu0, S.cpu_times())
    pkg1 = spans.snapshot() if spans else {}
    jvm_rss = S.rss_peak_mb(tracer.jvm_pid) if tracer else None

    t = time.perf_counter()
    oracle = check_oracles(spark, queries, QUERIES, ORACLE, a.data,
                           a.scratch)
    oracle_s = time.perf_counter() - t
    t = time.perf_counter()
    stop_spark(spark)
    stop_s = time.perf_counter() - t

    lat = [r["latency_s"] for r in records]
    attempted = (WARM_PASSES * len(queries) + len(round_walls) * len(queries)
                 + len(oracle))
    mismatches = {q: m for q, m in oracle.items() if m is not None}
    failed = len(errors) + len(mismatches)
    result = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "queries": queries, "setup_s": setup_s, "imported_s": imported_s,
        "session_start_s": session_start_s, "warm_s": warm_s,
        "window_s": wall, "oracle_s": oracle_s, "stop_s": stop_s,
        "rounds": len(round_walls), "round_walls_s": round_walls,
        "completed": len(records),
        # median round: one slow round (a burst of host steal) moves it
        # less than it moves the window total
        "qps": statistics.median(
            sum(r["round"] == i for r in records) / w
            for i, w in enumerate(round_walls)),
        "latency_p50_s": percentile(lat, 50) if lat else None,
        "latency_p90_s": percentile(lat, 90) if lat else None,
        "latency_tail": tail(lat), "samples": len(lat),
        "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted,
        "errors": errors, "oracle_mismatches": mismatches,
        "host_steal_frac": steal, "per_query": records,
    }
    if tracer:
        layers = {k: sum(r.get(k, 0) for r in records) for k in (
            "build_s", "plan_s", "exec_s", "build.jobs", "build.py4j_calls",
            "build.py4j_s", "driver.cpu_s", "plan.exchanges",
            "plan.python_nodes", "exec.jobs", "pyworker.cpu_s",
            *(f"spark.{k}" for k in S.JOB_FIELDS))}
        for pkg in S.PACKAGES + ("session",):
            c1, s1 = pkg1.get(pkg, (0, 0.0))
            c0, s0 = pkg0.get(pkg, (0, 0.0))
            layers[f"{pkg}.calls"] = c1 - c0
            layers[f"{pkg}.self_s"] = s1 - s0
        layers["session.load_tables_calls"] = layers.pop("session.calls")
        layers["session.load_tables_s"] = layers.pop("session.self_s")
        layers.update({
            "trace.qps": result["qps"],
            "session.start_s": session_start_s,
            "setup.warm_s": warm_s,
            "mem.driver_rss_peak_mb": S.rss_peak_mb(),
            "mem.jvm_rss_peak_mb": jvm_rss,
            "host.steal_frac": steal,
        })
        result["layers"] = layers
    with open(a.out, "w") as fh:
        json.dump(result, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
