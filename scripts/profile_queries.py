"""Per-query profiler for the optimization round: times N runs of each
named query, counts Spark jobs/stages/tasks via the status tracker, and
dumps ``explain("formatted")`` so plan shape and job-count regressions
are visible side by side.

Usage:
    python scripts/profile_queries.py [--sf DIR] [--runs N] q_a q_b ...
    python scripts/profile_queries.py --top 25        # slowest from bench_result.json

Writes /tmp/profile_r10/<query>.txt (plan + metrics) and prints a summary
table.  Measurement methodology matches bench.py (count() action, cache
clear + GC between queries) so numbers are comparable.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import __spark_entry__ as entry_mod  # noqa: E402
from orange3_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--top", type=int, default=0,
                    help="profile the N slowest queries from bench_result.json")
    ap.add_argument("--out", default="/tmp/profile_r10")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    names = list(args.queries)
    if args.top:
        with open(os.path.join(HERE, "bench_result.json")) as fh:
            qs = json.load(fh)["queries"]
        names += [k for k, _ in sorted(qs.items(), key=lambda kv: -kv[1])
                  [:args.top] if k not in names]

    os.makedirs(args.out, exist_ok=True)
    spark = get_spark("profile-r10")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    qmap = entry_mod.queries()

    # warm-up (JVM/codegen/footers) on the first query, like bench.py
    qmap[names[0]](spark, args.sf).count()

    def isolate():
        spark.catalog.clearCache()
        gc.collect()
        try:
            sc._jvm.System.gc()
        except Exception:
            pass

    summary = []
    for name in names:
        fn = qmap[name]
        isolate()
        times = []
        jobs = stages = tasks = 0
        for i in range(args.runs):
            group = f"prof-{name}-{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.count()
            times.append(round(time.perf_counter() - t0, 4))
            sc.setJobGroup(None, None)
            if i == args.runs - 1:  # steady-state run's job breakdown
                jids = tracker.getJobIdsForGroup(group)
                jobs = len(jids)
                for j in jids:
                    ji = tracker.getJobInfo(j)
                    if ji is None:
                        continue
                    for st in ji.stageIds:
                        si = tracker.getStageInfo(st)
                        if si is not None:
                            stages += 1
                            tasks += si.numTasks
            isolate()
        # explain the last timed frame: building it again would re-run
        # every eager fit job of the query
        try:
            explained = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"))
        except Exception:
            import io
            from contextlib import redirect_stdout
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            explained = buf.getvalue()
        rec = {"query": name, "times": times, "min": min(times),
               "jobs": jobs, "stages": stages, "tasks": tasks}
        summary.append(rec)
        with open(os.path.join(args.out, f"{name}.txt"), "w") as fh:
            fh.write(json.dumps(rec, indent=2) + "\n\n" + explained)
        print(f"{min(times):8.3f}s  jobs={jobs:<3} stages={stages:<4} "
              f"tasks={tasks:<5} {name}", flush=True)

    with open(os.path.join(args.out, "summary.json"), "w") as fh:
        json.dump(summary, fh, indent=2)


if __name__ == "__main__":
    main()
