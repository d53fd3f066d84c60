"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q                 # everything (~3 min)
    python3 -m pytest perfbench -q -k "not smoke"  # no Spark, seconds

The smoke tests run the real benchmark on sf0.001 fixtures.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

from perfbench import spans as S
from perfbench.loop import WARM_PASSES
from perfbench.summary import beyond, percentile, tail
from perfbench.workloads import WORKLOADS
from scripts.check_correctness import canon_rows

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# ------------------------------------------------------------ percentiles

def test_nearest_rank_percentile():
    xs = list(range(1, 101))          # 1..100
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("n, p", [
    (1000, 99.0),   # 10 beyond p99
    (999, 95.0),    # 9 beyond p99
    (200, 95.0),
    (100, 90.0),    # the p90 rule needs >= 100 samples
    (99, 75.0),
    (40, 75.0),
    (39, 50.0),
    (20, 50.0),
    (19, None),     # not even the median has 10 beyond it
    (0, None),
])
def test_tail_picks_highest_percentile_with_ten_beyond(n, p):
    xs = [float(i) for i in range(n)]
    t = tail(xs)
    assert t["p"] == p and t["n"] == n
    if p is not None:
        assert beyond(n, p) >= 10
        assert t["value"] == percentile(xs, p)


# ------------------------------------------------------------------ spans

class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_span_self_time_subtracts_nested_spans():
    clock = FakeClock()
    sp = S.Spans(clock)
    sp.enter("ml")            # ml: 0 .. 10
    clock.t = 1.0
    sp.enter("stats")         # stats: 1 .. 4, with ml nested 2 .. 3
    clock.t = 2.0
    sp.enter("ml")
    clock.t = 3.0
    sp.exit()
    clock.t = 4.0
    sp.exit()
    clock.t = 6.0
    sp.enter("operators")     # operators: 6 .. 9
    clock.t = 9.0
    sp.exit()
    clock.t = 10.0
    sp.exit()
    snap = sp.snapshot()
    assert snap["ml"] == (2, pytest.approx(10 - 3 - 3 + 1))
    assert snap["stats"] == (1, pytest.approx(3 - 1))
    assert snap["operators"] == (1, pytest.approx(3))
    # self times partition the outermost span
    assert sum(s for _, s in snap.values()) == pytest.approx(10)


def test_install_wraps_public_functions_and_rebinds_imports(tmp_path,
                                                             monkeypatch):
    pkg = tmp_path / "fakeroot"
    (pkg / "alpha").mkdir(parents=True)
    (pkg / "beta").mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "alpha" / "__init__.py").write_text(
        "from fakeroot.alpha.core import outer\n")
    (pkg / "alpha" / "core.py").write_text(textwrap.dedent("""
        from fakeroot.beta.util import inner

        def outer(x):
            return inner(x) + 1

        def _private(x):
            return x

        def udf_like(x):
            return x
        udf_like.evalType = 200

        class Model:
            def predict(self, x):
                return inner(x)
    """))
    (pkg / "beta" / "__init__.py").write_text("")
    (pkg / "beta" / "util.py").write_text("def inner(x):\n    return 2 * x\n")
    (pkg / "user.py").write_text("from fakeroot.alpha.core import outer\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    import fakeroot.user as user   # binds ``outer`` before install

    sp = S.Spans()
    sp.install(root="fakeroot", packages=("alpha", "beta"))
    import fakeroot.alpha.core as core

    assert user.outer(1) == 3
    assert core.Model().predict(2) == 4
    snap = sp.snapshot()
    assert snap["alpha"][0] == 2 and snap["beta"][0] == 2
    assert core._private.__name__ == "_private"
    assert not hasattr(core._private, "__perfbench_original__")
    assert not hasattr(core.udf_like, "__perfbench_original__")
    import fakeroot.alpha as alpha
    assert alpha.outer is core.outer is user.outer
    for m in [m for m in sys.modules if m.startswith("fakeroot")]:
        del sys.modules[m]


# --------------------------------------------------------- small helpers

def test_oracle_comparison_ignores_engine_order_and_float_noise():
    spark_rows = [(2, 0.1 + 0.2, "b"), (1, float("nan"), None)]
    duck_rows = [("b", 0.3, 2), (None, float("nan"), 1)]
    assert (canon_rows(spark_rows, ["k", "v", "s"])
            == canon_rows(duck_rows, ["s", "v", "k"]))
    assert canon_rows([(-0.0,)], ["x"]) == canon_rows([(0.0,)], ["x"])
    assert canon_rows([(1.0,)], ["x"]) != canon_rows([(1.0001,)], ["x"])


def test_plan_counts():
    plan = textwrap.dedent("""\
        AdaptiveSparkPlan isFinalPlan=false
        +- HashAggregate(keys=[k#1], functions=[count(1)])
           +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [id=#9]
              +- *(2) Project [pythonUDF0#12 AS y#7]
                 +- ArrowEvalPython [f(x#5)#6], [pythonUDF0#12], 200
                    +- BroadcastHashJoin [a#1], [b#2], Inner, BuildRight
                       :- MapInPandas f(x#5), [y#7]
                       +- BroadcastExchange HashedRelationBroadcastMode
    """)
    assert S.plan_counts(plan) == (2, 2)


def test_steal_fraction():
    before = [100, 0, 50, 800, 10, 0, 0, 40, 0, 0]
    after = [200, 0, 100, 1600, 10, 0, 0, 90, 0, 0]
    assert S.steal_frac(before, after) == pytest.approx(50 / 1000)


# ------------------------------------------------------------ smoke runs

def _run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(tmp_path, "--workload", "olap", "--seed", "1", "--seconds",
             "1", "--trace", "0", timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_sf0001_prints_every_metric(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--sf", "0.001")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    want = bench["per_layer"] if trace else bench["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert "failed_frac=0.0000 fraction" in p.stdout


def test_always_failing_query_is_counted_not_fatal(tmp_path):
    """A query that raises on every call, from the first warm pass on,
    ends the run with ``correct: false`` and every failure counted; the
    other queries are still measured."""
    script = textwrap.dedent(f"""
        import json, os, sys, time
        sys.path.insert(0, {ROOT!r})
        from perfbench import datagen, loop, run
        from perfbench.workloads import WORKLOADS

        data = datagen.ensure_fixtures(
            os.path.join({HERE!r}, ".work", "data"), 0.001)
        scratch = {str(tmp_path)!r}
        for sub in ("tmp", "local", "warehouse", "duckdb"):
            os.makedirs(os.path.join(scratch, sub))
        os.environ.update(run.pinned_env(scratch, data))
        time.tzset()

        import __spark_entry__  # noqa: F401
        from orange3_spark.plans.registry import ORACLE, QUERIES

        def q_raises(spark, sf_dir):
            raise RuntimeError("injected failure")

        QUERIES["q_raises"] = q_raises
        ORACLE["q_raises"] = "SELECT 1 AS x"
        WORKLOADS["olap"] = ["q_window_session", "q_raises"]
        out = os.path.join(scratch, "out.json")
        loop.main(["--workload", "olap", "--seed", "1", "--seconds", "1",
                   "--trace", "0", "--data", data, "--scratch", scratch,
                   "--out", out])
        with open(out) as fh:
            sys.exit(run.report(json.load(fh)))
    """)
    p = subprocess.run([sys.executable, "-c", script], cwd=ROOT,
                       capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is False
    # every warm pass, every timed round and the oracle phase
    assert out["failed"] >= WARM_PASSES + 2
    assert out["failed"] < out["attempted"]
    assert "ERROR q_raises (round warm0): RuntimeError: injected failure" \
        in p.stdout
    assert "ORACLE MISMATCH q_raises: RuntimeError" in p.stdout
