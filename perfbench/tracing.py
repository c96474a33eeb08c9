"""Spans, Spark stage metrics and process-tree memory for the benchmark.

A span times one call into a layer of the package. With tracing on, the
span also tags the Spark jobs the call launches with a job group of its
own and, when the call returns, sums the metrics of those jobs' stages
from the driver's status store (this works with the Spark UI off and
launches no Spark job). With tracing off a span only reads the clock.
Spans stay in memory until the run writes them out as JSON.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

from py4j.protocol import Py4JError

MB = 1024.0 * 1024.0


class StageReader:
    """Sums completed-stage metrics of the jobs in one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_status = self.sc._jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has recorded every finished stage."""
        self._jsc.listenerBus().waitUntilEmpty()

    def totals(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        stages: set[int] = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stages.update(info.stageIds)
        out = {
            "jobs": len(jobs),
            "stages": 0,
            "task_s": 0.0,
            "jvm_cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_write_mb": 0.0,
        }
        for stage in sorted(stages):
            try:
                attempts = self._store.stageData(
                    stage, False, self._no_status, False, self._no_quantiles
                )
            except Py4JError:
                continue  # evicted from the store or never submitted
            for i in range(attempts.size()):
                data = attempts.apply(i)
                if data.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["task_s"] += data.executorRunTime() / 1e3
                out["jvm_cpu_s"] += data.executorCpuTime() / 1e9
                out["gc_s"] += data.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += data.shuffleWriteBytes() / MB
        # run time minus JVM CPU: mostly time spent in Python workers
        out["off_jvm_s"] = max(out["task_s"] - out["jvm_cpu_s"], 0.0)
        return out


class Tracer:
    """Records one span per layer call; see the module docstring."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._reader = StageReader(spark) if enabled else None
        self._lock = threading.Lock()
        self._seq = 0

    def _next_id(self) -> int:
        with self._lock:
            self._seq += 1
            return self._seq

    @contextlib.contextmanager
    def span(self, name: str, parent: dict | None = None, trace: bool = True):
        """Time the body; when tracing, tag its Spark jobs and read their
        stage metrics afterwards. Safe to use from several threads: the
        job group is a thread-local property."""
        rec = {
            "id": self._next_id(),
            "name": name,
            "parent": parent["id"] if parent else None,
            "traced": self.enabled and trace,
        }
        group = f"perfbench-{rec['id']}-{name}"
        if rec["traced"]:
            self._sc.setJobGroup(group, name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            if rec["traced"]:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(rec)
        if rec["traced"]:
            self._reader.drain()
            rec["spark"] = self._reader.totals(group)

    def spark_totals(self, group: str) -> dict:
        """Stage totals of a job group the program set itself (a streaming
        query tags each micro-batch's jobs with its run id)."""
        self._reader.drain()
        return self._reader.totals(group)


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        stat = fh.read()
    # the command name may hold spaces; fields resume after its ')'
    return stat[stat.rfind(")") + 2 :].split()


def descendants(pid_root: int) -> list[int]:
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            parent_of[int(entry)] = int(_stat_fields(int(entry))[1])
        except OSError:
            continue  # exited while listing
    tree = {pid_root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent_of.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return sorted(tree)


def tree_cpu_s(pid_root: int) -> float:
    """CPU seconds used by a process tree: each live process's own time
    plus that of the children it has reaped. Time the hypervisor stole
    is not charged to a process, so this grows far less than wall time
    when other guests take the host's CPUs."""
    ticks = 0
    for pid in descendants(pid_root):
        try:
            fields = _stat_fields(pid)
        except OSError:
            continue
        # utime stime cutime cstime are fields 14-17 of stat
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_pss_mb(pid_root: int) -> dict[int, float]:
    """Proportional resident memory of each process in a tree, in MiB.
    PSS splits each shared page between the processes that map it, so
    the Python workers forked from one daemon are not counted once per
    worker, as a sum of their RSS would."""
    out = {}
    for pid in descendants(pid_root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        out[pid] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue  # exited, or not ours to read
    return out


def retained_mb(spark) -> float:
    """Memory the session holds between ops, in MiB: the JVM's heap and
    non-heap use right after a full collection, plus the PSS of every
    Python process in the tree (driver, daemon, idle workers). Unlike a
    sampled peak, it does not depend on when the JVM last collected."""
    from pyspark import SparkContext

    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    java_mb = (bean.getHeapMemoryUsage().getUsed()
               + bean.getNonHeapMemoryUsage().getUsed()) / MB
    java_pid = SparkContext._gateway.proc.pid
    pss = tree_pss_mb(os.getpid())
    return java_mb + sum(mb for pid, mb in pss.items() if pid != java_pid)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


class MemorySampler:
    """Samples the process tree's PSS while the ``with`` block runs;
    keeps the peak."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self.interval_s):
            self.peak_mb = max(self.peak_mb, sum(tree_pss_mb(root).values()))
