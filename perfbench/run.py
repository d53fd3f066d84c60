"""Benchmark entry point.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates the fixtures on first use (under
``perfbench/.work/data``), starts the measured process (``loop.py``) with
a pinned environment, stops every process it started, removes its scratch
directory, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (setup_s, qps,
latency_p50_s, latency_p90_s); with ``--trace 1`` the per-layer ones.
The full record of the run, per query and per round, is kept in
``perfbench/.work/out/``.  See README.md for what each workload and metric
means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.workloads import SF, WORKLOADS  # noqa: E402

#: the measured process must end well inside the 180 s a run may take
CHILD_TIMEOUT_S = 165
DRIVER_MEM = "3g"


def pinned_env(scratch: str, data: str) -> dict[str, str]:
    """Environment of the measured process: one Spark task slot per CPU
    this process may use, a heap that fits a small host, and every
    scratch path inside the benchmark's own directory."""
    env = dict(os.environ)
    local = os.path.join(scratch, "local")
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(scratch, "warehouse"),
        "SPARK_GRAFT_SF_DIR": data,   # replay oracles read their samples here
        "TMPDIR": os.path.join(scratch, "tmp"),
        # the JVMs would otherwise write /tmp/hsperfdata_<user>
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
        "PERFBENCH_SPAWNED": repr(time.time()),
    })
    return env


def _group_alive(pgid: int) -> bool:
    """Whether any live (non-zombie) process is in process group pgid."""
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    s = fh.read()
            except OSError:
                continue
            f = s[s.rindex(")") + 2:].split()
            if f[0] != "Z" and int(f[2]) == pgid:
                return True
    return False


def reap_group(child: subprocess.Popen, timeout: float = 30.0) -> None:
    """Kill what is left of the measured process group (the JVM and its
    Python workers) and wait until every member has exited."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        child.poll()
        if not _group_alive(child.pid):
            return
        try:
            os.killpg(child.pid, sig)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline - timeout / 2:
            sig = signal.SIGKILL
        if time.monotonic() > deadline:
            raise RuntimeError(f"process group {child.pid} did not exit")
        time.sleep(0.2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF,
                    help="fixture scale factor (the self-test uses 0.001)")
    a = ap.parse_args(argv)
    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    for need in ("__spark_entry__.py", "orange3_spark/__init__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"program not found: {need} is missing under {ROOT}",
                  file=sys.stderr)
            return 2

    work = os.path.join(HERE, ".work")
    data = datagen.ensure_fixtures(os.path.join(work, "data"), a.sf)
    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    scratch = os.path.join(work, f"run-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse", "duckdb"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    cmd = [sys.executable, "-m", "perfbench.loop", "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", data, "--scratch", scratch,
           "--out", stem + ".json"]
    try:
        with open(stem + ".log", "w") as log:
            child = subprocess.Popen(cmd, cwd=ROOT, stdout=log,
                                     stderr=subprocess.STDOUT,
                                     env=pinned_env(scratch, data),
                                     start_new_session=True)
            try:
                rc = child.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                reap_group(child)
                child.wait()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if rc != 0:
        with open(stem + ".log") as fh:
            sys.stderr.write(fh.read()[-4000:])
        print(f"measured process failed (exit {rc}); log: {stem}.log",
              file=sys.stderr)
        return 1
    with open(stem + ".json") as fh:
        r = json.load(fh)
    return report(r)


def report(r: dict) -> int:
    """Print the summary lines and the result object; 1 if no query of the
    timed window completed, so there is nothing to report."""
    if not r["completed"]:
        for e in r["errors"]:
            print(f"ERROR {e['query']}: {e['error']}", file=sys.stderr)
        print("no query completed in the timed window", file=sys.stderr)
        return 1
    n = r["samples"]
    t = r["latency_tail"]
    print(f"{r['workload']} seed={r['seed']} trace={r['trace']} "
          f"rounds={r['rounds']} window={r['window_s']:.2f}s "
          f"steal={r['host_steal_frac']:.4f}")
    print(f"  setup_s={r['setup_s']:.3f} s (n=1)  "
          f"qps={r['qps']:.4f} queries/s (n={n})  "
          f"latency_p50_s={r['latency_p50_s']:.4f} s (n={n})  "
          f"latency_p90_s={r['latency_p90_s']:.4f} s (n={n})  "
          f"failed_frac={r['failed_frac']:.4f} fraction "
          f"(n={r['attempted']})")
    print(f"  highest percentile with >=10 samples beyond it: "
          f"p{t['p']}={t['value']} s (n={t['n']})")
    print(f"  round walls (s): "
          + " ".join(f"{w:.3f}" for w in r["round_walls_s"]))
    for q, m in sorted(r["oracle_mismatches"].items()):
        print(f"  ORACLE MISMATCH {q}: {m}")
    for e in r["errors"]:
        print(f"  ERROR {e['query']} (round {e['round']}): {e['error']}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want, values = ((spec["per_layer"], r["layers"]) if r["trace"]
                    else (spec["end_to_end"], r))
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in want}
    print(json.dumps({"correct": r["failed"] == 0,
                      "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
