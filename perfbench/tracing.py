"""Spans, Spark job attribution and process-tree memory for the benchmark.

Spans are recorded by the benchmark around its own calls into the engine;
nothing inside ``pfaedle_spark`` is instrumented. Each span runs its jobs
under its own Spark job group, so after the run the live application
status store (the one every SparkContext keeps, tracing or not) tells
which jobs, stages and tasks each span caused. Reading the store happens
after the timed region, so the traced plan differs from the untraced one
only by the benchmark's own bookkeeping and eager per-layer
materialization.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run_id}:{self.span_id}"


class Tracer:
    """In-memory span recorder. ``span()`` nests; the innermost open span's
    job group is the one Spark jobs are submitted under."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.bookkeeping_s = 0.0   # time spent inside the tracer itself

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        sp = Span(name, len(self.spans), self._stack[-1].span_id if self._stack else None,
                  self.run_id, 0.0, attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        self.bookkeeping_s += time.perf_counter() - t0
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            t1 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.bookkeeping_s += time.perf_counter() - t1

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sum(c.end - c.start for c in self.spans if c.parent == sp.span_id)
        return (sp.end - sp.start) - kids

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "name": sp.name, "span_id": sp.span_id, "parent": sp.parent,
                    "run_id": sp.run_id, "start": sp.start, "end": sp.end,
                    "self_s": self.self_time(sp), "attrs": sp.attrs,
                }) + "\n")


# --------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------

class SparkLedger:
    """Job, stage and task metrics from the live application status store,
    grouped by job group. The store is read as JSON in a few calls; a
    py4j round trip per field would cost seconds on a 200-job run."""

    def __init__(self, sc):
        jvm = sc._jvm
        self.store = sc._jsc.sc().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(scala_module.__getattr__("MODULE$"))
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self.jobs: dict[str, list[dict]] = {}
        for j in self._json(self.store.jobsList(None)):
            if j.get("jobGroup"):
                self.jobs.setdefault(j["jobGroup"], []).append(j)
        self.stages = {
            st["stageId"]: st
            for st in self._json(self.store.stageList(None, False, False, no_quantiles, None))
            if st["status"] == "COMPLETE"   # skipped stages reuse an earlier shuffle
        }

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def groups_summary(self, groups: list[str]) -> dict:
        """Totals over every job submitted under the given groups."""
        jobs = [j for g in groups for j in self.jobs.get(g, [])]
        stages = [self.stages[s] for j in jobs for s in j["stageIds"] if s in self.stages]
        out = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(st["numCompleteTasks"] for st in stages),
            "task_s": sum(st["executorRunTime"] for st in stages) / 1e3,
            "gc_s": sum(st["jvmGcTime"] for st in stages) / 1e3,
            "shuffle_bytes": sum(st["shuffleWriteBytes"] for st in stages),
            "spill_bytes": sum(st["diskBytesSpilled"] for st in stages),
            "task_skew": 1.0,
        }
        if stages:
            # skew of the dominant stage: max / median task duration
            top = max(stages, key=lambda st: st["executorRunTime"])
            durs = [t["duration"] for t in self._json(
                self.store.taskList(top["stageId"], top["attemptId"], 1 << 20))
                if t.get("duration") is not None]
            if len(durs) > 1 and statistics.median(durs) > 0:
                out["task_skew"] = max(durs) / statistics.median(durs)
        return out


def python_bytes(df) -> int:
    """Arrow bytes sent to plus received from Python workers, summed over
    the executed plan of ``df`` (call after ``df`` has run)."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    seen = 0
    while stack and seen < 10_000:
        node = stack.pop()
        seen += 1
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name == "ReusedExchangeExec":
            stack.append(node.child())
            continue
        metrics = node.metrics()
        for key in ("pythonDataSent", "pythonDataReceived"):
            m = metrics.get(key)
            if m.isDefined():
                total += m.get().value()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return total


# --------------------------------------------------------------------
# process-tree memory
# --------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_pids(root: int) -> list[int]:
    pids, stack = [], [root]
    while stack:
        pid = stack.pop()
        pids.append(pid)
        try:
            for task in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{task}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
        except OSError:
            continue   # the process ended between listing and reading
    return pids


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


_PYTHON = os.path.realpath(sys.executable)


def _is_python(pid: int) -> bool:
    """Runs this interpreter. The JVM starts its children through a
    vfork'ed helper that shares the JVM's memory until it execs, so a
    test on what a process is not would count the JVM's heap once in a
    while."""
    try:
        return os.readlink(f"/proc/{pid}/exe") == _PYTHON
    except OSError:
        return False


def python_rss_bytes(root: int) -> int:
    """Resident bytes of the Python processes in the tree of ``root``
    (the driver, the worker daemon and its workers); the JVM is left out."""
    return sum(_rss(pid) for pid in _tree_pids(root) if _is_python(pid))


_TICK = os.sysconf("SC_CLK_TCK")


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")   # thread names as /proc cuts them


def _stat_ticks(path: str, n: int) -> int:
    """Sum of the first ``n`` of utime, stime, cutime, cstime in a stat file."""
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(v) for v in fields[11:11 + n])


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of ``pid`` (0 if it has none)."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
            total += _stat_ticks(f"/proc/{pid}/task/{tid}/stat", 2)
        except OSError:
            continue
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its
    descendants, live processes' own time plus what their reaped children
    used, less the JVM's JIT compiler threads. Compilation goes on in the
    background for dozens of passes: of a 5,000-point flagship pass it took
    6 s of the second pass's 13 s and still 1.4 s of the tenth's 6 s, so
    with it counted a pass's CPU follows how far compilation has got more
    than the program. A compiler thread's CPU can only be left out while
    the thread lives, so ``run.py`` keeps them for the whole run. Time the
    hypervisor steals from this VM is not counted either."""
    total = 0
    for pid in _tree_pids(root):
        try:
            total += _stat_ticks(f"/proc/{pid}/stat", 4) - _jit_ticks(pid)
        except OSError:
            continue
    return total / _TICK


def jvm_heap_peak(sc) -> int:
    """Sum over the driver JVM's heap pools of their peak used bytes."""
    total = 0
    for pool in sc._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if str(pool.getType().toString()) == "Heap memory":
            total += pool.getPeakUsage().getUsed()
    return total


class MemorySampler:
    """Samples the resident set of the Python processes of this process
    tree (driver, worker daemon, workers) and keeps the peak. The driver
    JVM is left out: with the heap grown as G1 decides, every JVM-side
    figure tried follows garbage collection timing more than the program.
    Over runs of five seeds the process tree's resident peak spread 0.24
    (IQR/median), the JVM's peak heap used 0.5, and Spark's storage memory
    (broadcasts stay in it until the driver collects their handles) moved
    by half between two seeds, while the Python part spread 0.002."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, python_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
