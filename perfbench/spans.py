"""Tracing for the benchmark's traced run, measured from outside the
program at the calls into each layer.

* ``Spans`` wraps the public functions and methods of each
  ``orange3_spark`` package and records, per package, the calls and the
  self time (a span's duration minus the part covered by nested package
  spans).  ``install`` must run before ``orange3_spark.plans`` is
  imported, because the plan modules bind functions at import time; it
  also rebinds the names package modules bound while it imported them.
* ``Py4jCounter`` counts and times every py4j command the driver sends.
* ``job_metrics`` reads Spark's status store for a set of job ids.
* ``/proc`` readers give host steal, Python-worker CPU and peak RSS.

Everything stays in memory; the caller writes it out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import pkgutil
import sys
import time

PACKAGES = ("operators", "preprocess", "stats", "ml", "similarity", "text",
            "multimodal", "sources", "streaming", "functions")
ROOT = "orange3_spark"


class Spans:
    """Per-package call counts and self time, with a stack for nesting."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.calls: dict[str, int] = {}
        self.self_s: dict[str, float] = {}
        self._stack: list[list] = []   # [pkg, start, child_time]
        self._wrapped: dict[int, object] = {}

    def enter(self, pkg: str) -> None:
        self._stack.append([pkg, self.clock(), 0.0])

    def exit(self) -> None:
        pkg, start, child = self._stack.pop()
        dur = self.clock() - start
        self.calls[pkg] = self.calls.get(pkg, 0) + 1
        self.self_s[pkg] = self.self_s.get(pkg, 0.0) + dur - child
        if self._stack:
            self._stack[-1][2] += dur

    def snapshot(self) -> dict[str, tuple[int, float]]:
        return {p: (self.calls.get(p, 0), self.self_s.get(p, 0.0))
                for p in set(self.calls) | set(self.self_s)}

    def wrap(self, fn, pkg: str):
        key = id(fn)
        if key in self._wrapped:
            return self._wrapped[key]

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self.enter(pkg)
            try:
                return fn(*args, **kwargs)
            finally:
                self.exit()

        traced.__perfbench_original__ = fn
        self._wrapped[key] = traced
        return traced

    def install(self, root: str = ROOT, packages=PACKAGES,
                extra: dict[str, tuple[str, ...]] | None = None) -> None:
        """Wrap every public function (and public method of a public
        class) defined in ``root.<pkg>`` for each package, then rebind
        every loaded ``root.*`` module attribute that still points at an
        original.  ``extra`` maps a span name to (module, function, ...)
        for single functions outside the packages."""
        for pkg in packages:
            base = importlib.import_module(f"{root}.{pkg}")
            mods = [base] + [importlib.import_module(m.name) for m in
                             pkgutil.walk_packages(base.__path__,
                                                   base.__name__ + ".")]
            for mod in mods:
                for name, obj in list(vars(mod).items()):
                    if name.startswith("_"):
                        continue
                    if _own_function(obj, f"{root}.{pkg}"):
                        setattr(mod, name, self.wrap(obj, pkg))
                    elif (inspect.isclass(obj)
                          and obj.__module__ == mod.__name__):
                        for attr, meth in list(vars(obj).items()):
                            if (not attr.startswith("_")
                                    and _own_function(meth, f"{root}.{pkg}")):
                                setattr(obj, attr, self.wrap(meth, pkg))
        for span, (modname, *names) in (extra or {}).items():
            mod = importlib.import_module(modname)
            for name in names:
                setattr(mod, name, self.wrap(getattr(mod, name), span))
        self._rebind(root)

    def _rebind(self, root: str) -> None:
        """Point module-level names that ``from x import f`` bound to an
        original before it was wrapped at the wrapper."""
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == root
                                   or modname.startswith(root + ".")):
                continue
            for name, obj in list(vars(mod).items()):
                w = self._wrapped.get(id(obj))
                if w is not None and w is not obj:
                    setattr(mod, name, w)


def _own_function(obj, prefix: str) -> bool:
    # pyspark UDF objects are plain functions carrying ``evalType``;
    # wrapping them would hide the attributes Spark dispatches on
    return (inspect.isfunction(obj)
            and (obj.__module__ or "").startswith(prefix)
            and not hasattr(obj, "evalType")
            and not hasattr(obj, "__perfbench_original__"))


class Py4jCounter:
    """Counts and times ``GatewayClient.send_command`` while active."""

    def __init__(self):
        self.calls = 0
        self.seconds = 0.0
        self.active = False

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        counter = self

        @functools.wraps(orig)
        def send_command(client, *args, **kwargs):
            if not counter.active:
                return orig(client, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(client, *args, **kwargs)
            finally:
                counter.calls += 1
                counter.seconds += time.perf_counter() - t0

        GatewayClient.send_command = send_command


JOB_FIELDS = ("stages", "stages_skipped", "tasks", "failed_tasks",
              "executor_run_s", "executor_cpu_s", "jvm_gc_s", "input_bytes",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def job_metrics(store, job_ids) -> dict[str, float]:
    """Sum stage metrics from Spark's status store over ``job_ids``; a
    stage shared by several jobs is counted once.  The caller drains the
    listener bus first so the last job's metrics have landed."""
    out = dict.fromkeys(JOB_FIELDS, 0)
    seen: set[int] = set()
    for jid in job_ids:
        job = store.job(jid)
        out["failed_tasks"] += job.numFailedTasks()
        ids = job.stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                out["stages_skipped"] += 1
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["jvm_gc_s"] += sd.jvmGcTime() / 1e3
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += (sd.memoryBytesSpilled()
                                   + sd.diskBytesSpilled())
    return out


PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "ArrowWindowPython", "WindowInPandas")


def plan_counts(plan_text: str) -> tuple[int, int]:
    """(exchanges, Python-worker nodes) in an executed-plan string."""
    exchanges = python = 0
    for line in plan_text.splitlines():
        node = line.lstrip(" +-:*()0123456789")
        if node.startswith(("Exchange", "BroadcastExchange")):
            exchanges += 1
        elif node.startswith(PYTHON_NODES):
            python += 1
    return exchanges, python


# ------------------------------------------------------------------ /proc

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """Aggregate jiffies from the ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])   # guest time is already inside user/nice
    return d[7] / total if total > 0 else 0.0


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, utime+stime+cutime+cstime in ticks)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        comm = s[s.index("(") + 1:s.rindex(")")]
        f = s[s.rindex(")") + 2:].split()
        out[int(d)] = (int(f[1]), comm, sum(int(x) for x in f[11:15]))
    return out


def pyworker_cpu_s(jvm_pid: int) -> float:
    """User+system CPU of the JVM's Python worker processes, including
    workers that already exited and were reaped by the daemon."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, list(kids.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        _, comm, ticks = table[pid]
        if comm.startswith("python"):
            total += ticks
        todo.extend(kids.get(pid, []))
    return total / _TICK


def rss_peak_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
