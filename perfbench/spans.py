"""Process-tree sampling and Spark-side spans for the benchmark.

``ProcTree`` reads /proc for the benchmark process and every
descendant (the JVM, the Python worker daemon and its workers): summed
RSS, sampled on a background thread, and summed CPU seconds.

``Tracer`` records spans around calls into the library. A span sets a
Spark job group, so every job it submits can be found again in Spark's
own status store when the run ends: stage counters (tasks, failed
tasks, executor CPU, GC, shuffle write, spill, peak JVM heap) from the
app status store, and Python-UDF counters from the SQL status store's
execution metrics. Spans are kept in memory and resolved once, after the timed
work, so reading the store costs nothing inside a span.
"""

from __future__ import annotations

import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1 << 20)
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


class ProcTree:
    """RSS and CPU of a process and all its descendants."""

    def __init__(self, root: int, interval_s: float = 0.02):
        self.root = root
        self.interval_s = interval_s
        self.samples: list[tuple[float, float]] = []  # (time, rss_mb)
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = defaultdict(list)
        for name in os.listdir("/proc"):
            if name.isdigit():
                fields = _stat_fields(int(name))
                if fields:
                    children[int(fields[1])].append(int(name))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def rss_mb(self) -> float:
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                pass
        return total * _PAGE_MB

    def cpu_s(self) -> float:
        """User + system seconds of every live process in the tree,
        plus the reaped children each one has waited for."""
        ticks = 0
        for pid in self.pids():
            fields = _stat_fields(pid)
            if fields:
                ticks += sum(int(x) for x in fields[11:15])
        return ticks / _TICK

    def sample(self) -> float:
        rss = self.rss_mb()
        self.samples.append((time.perf_counter(), rss))
        return rss

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def peak_mb(self, t0: float = float("-inf"), t1: float = float("inf")) -> float:
        inside = [r for t, r in list(self.samples) if t0 <= t <= t1]
        return max(inside) if inside else 0.0


@dataclass
class Span:
    name: str
    group: str
    t0: float
    t1: float = 0.0
    parent: "Span | None" = None
    child_s: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def self_s(self) -> float:
        return (self.t1 - self.t0) - self.child_s


# SQL metrics that Spark's Python exec nodes report, by display name
_SQL_PY = {
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
    "data sent to Python workers": "py_sent_mb",
    "data returned from Python workers": "py_recv_mb",
}
_UNIT = {
    "B": 1 / (1 << 20), "KiB": 1 / (1 << 10), "MiB": 1.0, "GiB": float(1 << 10),
    "TiB": float(1 << 20), "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^([0-9.]+)\s*([A-Za-z]+)")
# the executor's peak memory, by Spark's executor-metric name
_MEMORY = {
    "JVMHeapMemory": "jvm_heap_peak_mb",
    "OnHeapExecutionMemory": "exec_mem_peak_mb",
    "OnHeapStorageMemory": "storage_mem_peak_mb",
}


def _parse_sql_metric(text: str) -> float:
    """Total from a formatted SQL metric: '1589.8 KiB' or
    'total (min, med, max ...)\\n7.6 s (1.8 s, ...)'. Sizes in MiB,
    times in seconds."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m or m.group(2) not in _UNIT:
        return 0.0
    return float(m.group(1)) * _UNIT[m.group(2)]


class Tracer:
    """Spans around library calls. Disabled, ``span`` only yields."""

    def __init__(self, spark, procs: ProcTree, enabled: bool):
        self.spark = spark
        self.procs = procs
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"perfbench-{len(self.spans)}-{name}", 0.0, parent=parent)
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(s.group, name)
        self.procs.sample()
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self.procs.sample()
            self._stack.pop()
            if parent is not None:
                parent.child_s += s.t1 - s.t0
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def resolve(self) -> dict[str, dict[str, float]]:
        """Per span name: summed counters over every instance, plus
        ``n`` (instances), ``wall_s`` (summed self time),
        ``rss_peak_mb`` and ``jvm_heap_peak_mb``. Waits for Spark's listener bus to drain first,
        so the status store has seen every finished job."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        job_span: dict[int, str] = {}
        seen_stages: set[int] = set()
        for s in self.spans:
            agg = out[s.name]
            agg["n"] += 1
            agg["wall_s"] += s.self_s
            agg["rss_peak_mb"] = max(agg["rss_peak_mb"], self.procs.peak_mb(s.t0, s.t1))
            for k, v in s.counts.items():
                agg[k] += v
            for jid in sorted(tracker.getJobIdsForGroup(s.group)):
                job_span[jid] = s.name
                agg["jobs"] += 1
                job = store.job(jid)
                it = job.stageIds().iterator()
                while it.hasNext():
                    sid = it.next()
                    # a stage counts once: in the first span that ran it
                    # (later jobs list it again as SKIPPED)
                    st = store.lastStageAttempt(sid)
                    if st.status().toString() == "SKIPPED" or sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    agg["tasks"] += st.numTasks()
                    agg["failed_tasks"] += st.numFailedTasks()
                    agg["exec_cpu_s"] += st.executorCpuTime() / 1e9
                    agg["gc_s"] += st.jvmGcTime() / 1e3
                    agg["shuffle_write_mb"] += st.shuffleWriteBytes() / (1 << 20)
                    agg["spill_mb"] += (
                        st.memoryBytesSpilled() + st.diskBytesSpilled()
                    ) / (1 << 20)
                    peak = st.peakExecutorMetrics()
                    if peak.isDefined():
                        heap = peak.get().getMetricValue("JVMHeapMemory") / (1 << 20)
                        agg["jvm_heap_peak_mb"] = max(agg["jvm_heap_peak_mb"], heap)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList().iterator()
        while execs.hasNext():
            e = execs.next()
            jobs = e.jobs().keys().iterator()
            name = None
            while jobs.hasNext() and name is None:
                name = job_span.get(int(jobs.next()))
            if name is None:
                continue
            wanted = {}
            ms = e.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                if m.name() in _SQL_PY:
                    wanted[m.accumulatorId()] = _SQL_PY[m.name()]
            if not wanted:
                continue
            vals = sql.executionMetrics(e.executionId()).iterator()
            while vals.hasNext():
                kv = vals.next()
                key = wanted.get(kv._1())
                if key:
                    out[name][key] += _parse_sql_metric(kv._2())
        return out

    def run_memory(self) -> dict[str, float]:
        """The run's peak JVM heap use and Spark's peak on-heap
        execution and storage memory, from the executor summary."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        out = {f"spark.{v}": 0.0 for v in _MEMORY.values()}
        execs = store.executorList(True).iterator()
        while execs.hasNext():
            peak = execs.next().peakMemoryMetrics()
            if peak.isDefined():
                for k, v in _MEMORY.items():
                    mb = peak.get().getMetricValue(k) / (1 << 20)
                    out[f"spark.{v}"] = max(out[f"spark.{v}"], mb)
        return out
