"""Spans around the benchmark's calls into the engine, and the counters
read for each span from Spark's own status stores and from ``/proc``.

A :class:`Tracer` built with ``enabled=False`` turns ``span`` into a
plain timer, so untraced and traced passes run the same engine calls in
the same order; only the reading of counters differs. That reading
happens after each span's own calls have returned, so it adds driver
time between engine calls but never changes a plan.
"""

from __future__ import annotations

import os
import re
import statistics
import time
from contextlib import contextmanager

MB = float(1 << 20)

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")

PYTHON_NODES = ("MapInArrow", "MapInPandas", "FlatMapGroupsInPandas",
                "ArrowEvalPython", "BatchEvalPython", "PythonMapInArrow",
                "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas")


def parse_metric(text: str | None) -> float:
    """A SQL metric as the SQL status store renders it ('12,345',
    '23.6 KiB', 'total (min, med, max ...)\\n9.0 s (...)') in base
    units: rows, bytes or seconds."""
    if not text:
        return 0.0
    m = _NUM.match(text.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


# ---------------------------------------------------------------------------
# /proc: CPU and peak memory of the JVM and every process under it
# ---------------------------------------------------------------------------

def _children() -> dict:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system seconds of ``root`` and its descendants, including
    children they have already reaped (the Python daemon reaps its
    workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

class SparkProbe:
    """Reads job, stage, task and SQL-node counters of finished work."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.jvm_pid = int(spark.sparkContext._gateway.jvm
                           .java.lang.ProcessHandle.current().pid())

    def next_job_id(self) -> int:
        return int(self.jsc.dagScheduler().numTotalJobs())

    def last_execution_id(self) -> int:
        lst = self.sql.executionsList()
        n = lst.size()
        return int(lst.apply(n - 1).executionId()) if n else -1

    def drain(self) -> None:
        """Wait until the listener bus has applied every event of the
        work that has returned, so the stores are complete."""
        self.jsc.listenerBus().waitUntilEmpty()

    def stage_counters(self, job_lo: int, job_hi: int) -> dict:
        c = dict(run_s=0.0, cpu_s=0.0, gc_s=0.0, tasks=0,
                 shuffle_write_mb=0.0, spill_mb=0.0, task_s=[])
        seen = set()
        tracker = self.spark.sparkContext.statusTracker()
        for job in range(job_lo, job_hi):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue        # skipped: its shuffle output was reused
                c["run_s"] += sd.executorRunTime() / 1e3
                c["cpu_s"] += sd.executorCpuTime() / 1e9
                c["gc_s"] += sd.jvmGcTime() / 1e3
                c["tasks"] += sd.numCompleteTasks()
                c["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                c["spill_mb"] += sd.diskBytesSpilled() / MB
                it = self.store.taskList(sid, sd.attemptId(),
                                         1 << 20).iterator()
                while it.hasNext():
                    d = it.next().duration()
                    if d.isDefined():
                        c["task_s"].append(d.get() / 1e3)
        return c

    def sql_counters(self, exec_after: int) -> dict:
        c = dict(python_s=0.0, arrow_sent_mb=0.0, arrow_recv_mb=0.0,
                 python_rows=0, exchanges=0, fallback_plans=0)
        lst = self.sql.executionsList()
        i = lst.size() - 1
        while i >= 0:
            ex = lst.apply(i)
            i -= 1
            eid = int(ex.executionId())
            if eid <= exec_after:
                break
            plan = ex.physicalPlanDescription() or ""
            if "_bucket" in plan:
                c["fallback_plans"] += 1
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                name = node.name()
                metrics = {}
                mit = node.metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    v = values.get(m.accumulatorId())
                    metrics[m.name()] = v.get() if v.isDefined() else None
                if name == "Exchange":
                    if parse_metric(metrics.get("shuffle records written")):
                        c["exchanges"] += 1
                elif name in PYTHON_NODES:
                    c["python_s"] += parse_metric(
                        metrics.get("time to run Python workers"))
                    c["arrow_sent_mb"] += parse_metric(
                        metrics.get("data sent to Python workers")) / MB
                    c["arrow_recv_mb"] += parse_metric(
                        metrics.get("data returned from Python workers")) / MB
                    c["python_rows"] += int(parse_metric(
                        metrics.get("number of output rows")))
        return c


class Tracer:
    """Records one pass's spans. ``span(name)`` always times its block;
    with ``enabled`` it also reads the Spark counters of the jobs and
    SQL executions the block started."""

    def __init__(self, probe: SparkProbe, enabled: bool):
        self.probe = probe
        self.enabled = enabled
        self.spans: dict[str, dict] = {}
        self.counts: dict[str, float] = {}
        self.untimed_s = 0.0
        self.untimed_cpu_s = 0.0
        self.progress: list[dict] = []

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            t0 = time.perf_counter()
            yield
            self._add(name, {"s": time.perf_counter() - t0})
            return
        p = self.probe
        job_lo, exec_lo = p.next_job_id(), p.last_execution_id()
        t0 = time.perf_counter()
        yield
        wall = time.perf_counter() - t0
        p.drain()
        rec = {"s": wall}
        rec.update(p.stage_counters(job_lo, p.next_job_id()))
        rec.update(p.sql_counters(exec_lo))
        self._add(name, rec)

    @contextmanager
    def untimed(self):
        """A capture for the checks: its time and CPU are not part of the
        pass."""
        t0 = time.perf_counter()
        c0 = tree_cpu_s(self.probe.jvm_pid)
        yield
        self.untimed_s += time.perf_counter() - t0
        self.untimed_cpu_s += tree_cpu_s(self.probe.jvm_pid) - c0

    def stream(self, progress: list[dict]) -> None:
        """Keep the micro-batch progress of one streaming query run."""
        self.progress.extend(progress)
        self.count("streaming.runs", 1)

    def _add(self, name: str, rec: dict) -> None:
        cur = self.spans.setdefault(name, {})
        for k, v in rec.items():
            if isinstance(v, list):
                cur.setdefault(k, []).extend(v)
            else:
                cur[k] = cur.get(k, 0) + v

    def total(self, key: str, prefix: str = "") -> float:
        return sum(r.get(key, 0) for n, r in self.spans.items()
                   if n.startswith(prefix))

    def tasks(self, prefix: str) -> list:
        return [t for n, r in self.spans.items() if n.startswith(prefix)
                for t in r.get("task_s", [])]


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
