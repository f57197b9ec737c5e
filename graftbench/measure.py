"""Measurement from outside the engine.

- :class:`ProcTree` reads ``/proc`` for the benchmark process and every
  descendant (the Spark JVM and its Python workers): memory and CPU
  seconds.
- :class:`MemSampler` keeps the peak of the tree's summed memory.
- :class:`SparkCounters` reads Spark's own status stores (jobs, stages,
  task metrics, SQL plan metrics) for the jobs run under one job group.
- :class:`Tracer` records spans (name, start, end, parent, job group)
  with the counters of each span's Spark work, in memory.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class ProcTree:
    """The process tree rooted at ``root`` (default: this process)."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", "rb") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    @staticmethod
    def _stat(pid: int) -> list[bytes] | None:
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            return None
        return stat[stat.rindex(b")") + 2 :].split()

    def pss_bytes(self) -> int:
        """Summed proportional set size: resident memory with each shared
        page split among the processes sharing it, so the copy-on-write
        pages of forked Python workers are counted once, not per fork."""
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                    for line in fh:
                        if line.startswith(b"Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def cpu_s(self) -> dict[str, float]:
        """utime + stime of every live process in the tree, plus the
        reaped children each one has waited for, split into the driver
        (this process), the JVM and the Python workers."""
        out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        for pid in self.pids():
            f = self._stat(pid)
            if f is None:
                continue
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
            except OSError:
                continue
            kind = "driver" if pid == self.root else "jvm" if comm == "java" else "workers"
            out[kind] += (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _CLK_TCK
        return out


class MemSampler:
    """Background sampler of the tree's summed PSS; ``peak_mb`` after
    :meth:`stop`. Sampling reads ``/proc`` only."""

    def __init__(self, tree: ProcTree, interval_s: float = 0.25):
        self.tree = tree
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="mem-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.pss_bytes())
            self._stop.wait(self.interval_s)

    def start(self) -> "MemSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def _jvm_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


class SparkCounters:
    """Counters of the Spark work run under one job group, read from the
    AppStatusStore and the SQL status store of ``spark``."""

    FIELDS = (
        "jobs",
        "stages",
        "tasks",
        "task_run_s",
        "task_cpu_s",
        "gc_s",
        "shuffle_read_bytes",
        "shuffle_write_bytes",
        "spill_bytes",
        "output_bytes",
    )

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._gw = self.sc._gateway

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the group's finished stages."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def read(self, group: str) -> dict[str, float]:
        self.drain()
        jobs = self.job_ids(group)
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = self._jsc.statusStore()
        out = dict.fromkeys(self.FIELDS, 0)
        out["jobs"] = len(jobs)
        for sid in stage_ids:
            try:
                attempts = _jvm_seq(
                    store.stageData(
                        sid, False, self._gw.jvm.java.util.ArrayList(), False,
                        self._gw.new_array(self._gw.jvm.double, 0),
                    )
                )
            except Exception:  # skipped stages have no data
                continue
            for s in attempts:
                if s.numCompleteTasks() == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks()
                out["task_run_s"] += s.executorRunTime() / 1e3
                out["task_cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["shuffle_read_bytes"] += s.shuffleReadBytes()
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                out["output_bytes"] += s.outputBytes()
        return out

    def python_rows(self, group: str, node: str = "MapInPandas") -> int:
        """Rows the ``node`` operators of the group's SQL executions
        returned from Python workers, from their SQL plan metrics."""
        self.drain()
        jobs = set(self.job_ids(group))
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = 0
        for ex in _jvm_seq(sql.executionsList()):
            ex_jobs = {int(k) for k in _jvm_seq(ex.jobs().keys().toSeq())}
            if not ex_jobs & jobs:
                continue
            values = sql.executionMetrics(ex.executionId())
            for n in _jvm_seq(sql.planGraph(ex.executionId()).allNodes()):
                if n.name() != node:
                    continue
                for m in _jvm_seq(n.metrics()):
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            total += int(str(v.get()).replace(",", "").split()[0])
        return total


class Tracer:
    """In-memory spans. ``span(name)`` runs its body under a fresh job
    group and, when it ends, attaches that group's Spark counters. Spark
    work runs only in leaf spans; a parent's counters are the sum of its
    children's (:meth:`totals`)."""

    def __init__(self, counters: SparkCounters | None):
        self.counters = counters
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans) + len(self._stack) + 1
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"span-{sid}-{name}",
            "start": time.perf_counter(),
        }
        self._stack.append(rec)
        if self.counters is not None:
            self.counters.set_group(rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if self.counters is not None:
                rec["spark"] = self.counters.read(rec["group"])
                self.counters.set_group(self._stack[-1]["group"] if self._stack else "untraced")

    def totals(self, names: set[str] | None = None) -> dict[str, float]:
        """Summed Spark counters over the spans named in ``names``
        (default: every span)."""
        out = dict.fromkeys(SparkCounters.FIELDS, 0)
        for s in self.spans:
            if "spark" in s and (names is None or s["name"] in names):
                for k, v in s["spark"].items():
                    out[k] += v
        return out
