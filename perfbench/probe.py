"""Measurement from outside the program: spans, Spark counters, /proc.

Nothing here reaches into the package under test. Spans wrap the
benchmark's own calls into each layer; Spark counters come from the
application status store, filtered by the job group the benchmark set
before the call; process CPU and memory come from ``/proc``.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    unit: int


@dataclass
class Tracer:
    """In-memory span recorder; a disabled tracer records nothing but
    still times the outermost unit span (the end-to-end measurement)."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    unit_id: int = 0
    sc: object = None

    def span(self, name: str):
        return _SpanCtx(self, name)

    @contextmanager
    def group(self, name: str, prefix: str = "u"):
        """Run the enclosed Spark jobs under job group
        ``<prefix><unit>.<name>`` (``u`` for the unit, ``r`` for the read)."""
        self.sc.setJobGroup(f"{prefix}{self.unit_id}.{name}", name)
        try:
            yield
        finally:
            self.sc.setJobGroup("idle", "idle")

    def self_times(self, unit: int) -> dict[str, float]:
        """Span duration minus the time its direct children cover,
        summed per span name, for one unit."""
        own = [(i, s) for i, s in enumerate(self.spans) if s.unit == unit]
        child: dict[int, float] = {}
        for _, s in own:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for i, s in own:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child.get(i, 0.0)
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        self.start = time.perf_counter()
        if self.t.enabled:
            self.t.spans.append(
                Span(self.name, self.start, self.start,
                     self.t._stack[-1] if self.t._stack else None, self.t.unit_id)
            )
            self.t._stack.append(len(self.t.spans) - 1)
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        self.seconds = self.end - self.start
        if self.t.enabled:
            self.t.spans[self.t._stack.pop()].end = self.end
        return False


# ---------------------------------------------------------------------------
# /proc: CPU per process class, tree RSS
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _stat(pid: int) -> tuple[str, float, int] | None:
    """(comm, cpu seconds incl. reaped children, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw.rsplit(")", 1)[1].split()
    ticks = sum(int(rest[i]) for i in (11, 12, 13, 14))
    return comm, ticks / CLK_TCK, int(rest[21]) * PAGE


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (``/proc/stat``); a run's record keeps it to explain outliers."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


class ProcTree:
    """The benchmark process and its descendants, split into the
    driver (this interpreter), the JVM, and Python workers the JVM
    forked (pyspark.daemon and its workers)."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def sample(self) -> dict[str, float]:
        kids = _children()
        cpu = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        rss = 0

        def walk(pid: int, cls: str) -> None:
            nonlocal rss
            st = _stat(pid)
            if st is None:
                return
            comm, c, r = st
            if pid != self.root:
                if comm == "java":
                    cls = "jvm"
                elif cls == "jvm" and comm.startswith("python"):
                    cls = "pyworker"
            # reaped children's time folds into the parent's cutime,
            # so it counts toward the parent's class
            cpu[cls] += c
            rss += r
            for k in kids.get(pid, ()):
                walk(k, cls)

        walk(self.root, "driver")
        return {**cpu, "rss": float(rss)}


class RssSampler:
    """Peak tree RSS over a window, sampled by a background thread."""

    def __init__(self, tree: ProcTree, interval: float = 0.2):
        self.tree, self.interval = tree, interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self):
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.sample()["rss"])
            self._stop.wait(self.interval)

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


class SparkCounters:
    """Per-job-group counters read from the application status store
    (``sc._jsc.sc().statusStore()``) and the SQL status store."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.sc = sc
        self.jvm = sc._gateway.jvm
        self.cores = sc.defaultParallelism

    def _list(self, seq) -> list:
        return list(self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))

    def group(self, prefix: str) -> dict[str, float]:
        """Totals over the jobs whose group starts with ``prefix``."""
        store = self.sc._jsc.sc().statusStore()
        jobs = [
            j for j in self._list(store.jobsList(None))
            if j.jobGroup().isDefined() and j.jobGroup().get().startswith(prefix)
        ]
        job_ids = {j.jobId() for j in jobs}
        stage_ids: set[int] = set()
        for j in jobs:
            stage_ids.update(self._list(j.stageIds()))
        gw = self.sc._gateway
        stages = [
            s for s in self._list(
                store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
            )
            if s.stageId() in stage_ids and s.status().toString() == "COMPLETE"
        ]
        out = {
            "jobs": float(len(jobs)),
            "stages": float(len(stages)),
            "tasks": 0.0,
            "executor_run_s": 0.0,
            "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
            "input_mb": 0.0,
        }
        spans = []
        task_ms: list[float] = []
        for s in stages:
            out["tasks"] += s.numTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            out["spill_mb"] += s.diskBytesSpilled() / 2**20
            out["input_mb"] += s.inputBytes() / 2**20
            if s.submissionTime().isDefined() and s.completionTime().isDefined():
                spans.append(
                    (s.submissionTime().get().getTime(), s.completionTime().get().getTime())
                )
            for t in self._list(store.taskList(s.stageId(), s.attemptId(), 100_000)):
                if t.duration().isDefined():
                    task_ms.append(float(t.duration().get()))
        out["stage_wall_s"] = _union_ms(spans) / 1e3
        out["task_skew"] = (
            max(task_ms) / max(statistics.median(task_ms), 1.0) if task_ms else 0.0
        )
        out["_job_ids"] = job_ids
        return out

    def executed_plans(self, job_ids: set[int]) -> list[str]:
        """Physical plan text of every SQL execution that ran one of
        ``job_ids`` (eager barriers inside a query included)."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        plans = []
        for e in self._list(sql.executionsList()):
            jobs = {int(k) for k in self._list(e.jobs().keySet().toSeq())}
            if jobs & job_ids:
                plans.append(e.physicalPlanDescription())
        return plans


def _union_ms(spans: list[tuple[int, int]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis/optimization/planning time of ``df``'s query execution
    (forces ``executedPlan`` first)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0
