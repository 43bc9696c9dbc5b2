"""Per-layer counters read from Spark's status stores after each phase.

A traced query runs in two phases, each under its own job group:
``construct`` (the registered query function builds the DataFrame and
fires whatever eager jobs it needs) and ``execute`` (the final noop
write). After each phase the listener bus is drained, then

* new SQL executions are read from the SQL status store by execution id,
  with their call site and their Python-worker metrics (the only SQL
  metrics parsed from display strings);
* the phase's jobs come from the status tracker by job group, their
  stages from ``AppStatusStore.stageData``, whose counters are raw longs.

Nothing here runs inside the program: the spans and counters are taken
around the calls the benchmark makes.
"""

from __future__ import annotations

import re
import time
from collections import Counter
from dataclasses import dataclass, field

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_METRIC_VALUE = re.compile(r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")

#: SQL metric name -> counter it adds to (PythonSQLMetrics display names)
PY_METRICS = {
    "data sent to Python workers": "pyboundary.bytes_sent",
    "data returned from Python workers": "pyboundary.bytes_returned",
    "time to run Python workers": "pyboundary.run_s",
    "time to start Python workers": "pyboundary.worker_start_s",
}
FILES_READ = "number of files read"
_SEP = "\u0001"

#: StageData getter -> (counter, scale)
STAGE_FIELDS = {
    "executorRunTime": ("tasks.run_s", 1e-3),
    "executorCpuTime": ("tasks.cpu_s", 1e-9),
    "numCompleteTasks": ("tasks.count", 1),
    "shuffleWriteBytes": ("shuffle.write_bytes", 1),
    "shuffleReadBytes": ("shuffle.read_bytes", 1),
    "memoryBytesSpilled": ("spill.bytes", 1),
    "diskBytesSpilled": ("spill.bytes", 1),
    "inputBytes": ("sources.scan_bytes", 1),
}


def parse_metric_total(text: str) -> float:
    """Total of a size or timing SQL metric display string, in bytes or
    seconds. The string is either a bare value (``"2.6 MiB"``) or a
    ``total (min, med, max ...)`` header line followed by the values,
    the total first. Display strings keep 2-4 significant digits."""
    body = text.split("\n", 1)[-1]
    m = _METRIC_VALUE.search(body)
    if m is None:
        raise ValueError(f"unparsable SQL metric value {text!r}")
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * (_SIZE_UNITS.get(unit) or _TIME_UNITS[unit])


def _split(joined: str) -> list[str]:
    return joined.split(_SEP) if joined else []


def parse_metric_count(text: str) -> int:
    return int(text.strip().replace(",", ""))


@dataclass
class Execution:
    execution_id: int
    call_site: str
    duration_s: float


@dataclass
class PhaseTrace:
    """One phase span: its start on the benchmark's perf_counter clock,
    its wall time, and the SQL executions and counters it caused."""

    phase: str
    start_s: float
    wall_s: float
    executions: list[Execution] = field(default_factory=list)
    counters: Counter = field(default_factory=Counter)


class SparkTracer:
    """Reads the status stores of one SparkSession, phase by phase."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        # stageData's task-status list and quantiles, as py4j needs them
        self._empty_tasks = self.sc._jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self._seq = 0
        # execution ids count up from 0; the store keeps the last 1000
        self._next_execution = 0
        self.skip_untraced()

    def drain(self) -> None:
        self._bus.waitUntilEmpty(60_000)

    def skip_untraced(self) -> None:
        """Step past SQL executions that ran outside any traced phase."""
        self.drain()
        while self._sql.execution(self._next_execution).isDefined():
            self._next_execution += 1

    def run_phase(self, phase: str, fn):
        """Run ``fn()`` as one traced phase; returns (result, PhaseTrace)."""
        self._seq += 1
        group = f"perfbench-{self._seq}-{phase}"
        self.sc.setJobGroup(group, None)
        t0 = time.perf_counter()
        try:
            result = fn()
        finally:
            wall = time.perf_counter() - t0
            self.sc.setJobGroup(None, None)
        self.drain()
        trace = PhaseTrace(phase, t0, wall)
        self._read_executions(trace)
        self._read_stages(group, trace)
        return result, trace

    def _read_executions(self, trace: PhaseTrace) -> None:
        while True:
            found = self._sql.execution(self._next_execution)
            if found.isEmpty():
                return
            ex = found.get()
            self._next_execution += 1
            end = ex.completionTime()
            dur = (end.get().getTime() - ex.submissionTime()) / 1e3 if end.isDefined() else 0.0
            trace.executions.append(
                Execution(ex.executionId(), ex.description(), dur)
            )
            # one py4j call per collection: boxed Long keys cannot be
            # looked up from Python, so both sides come back as strings.
            # executionMetrics falls back to the live listener while the
            # stored execution has no aggregated values yet.
            wanted = {}
            for item in _split(ex.metrics().mkString(_SEP)):
                # SQLPlanMetric(name,accumulatorId,metricType)
                name, acc, _ = item[len("SQLPlanMetric(") : -1].rsplit(",", 2)
                if name in PY_METRICS or name == FILES_READ:
                    wanted[acc] = name
            if not wanted:
                continue
            shown_all = self._sql.executionMetrics(ex.executionId())
            for item in _split(shown_all.mkString(_SEP)):
                acc, shown = item.split(" -> ", 1)
                name = wanted.get(acc)
                if name == FILES_READ:
                    trace.counters["sources.files_read"] += parse_metric_count(shown)
                elif name is not None:
                    trace.counters[PY_METRICS[name]] += parse_metric_total(shown)

    def _read_stages(self, group: str, trace: PhaseTrace) -> None:
        stage_ids = set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            stage_ids.update(
                int(i) for i in _split(self._app.job(job_id).stageIds().mkString(_SEP))
            )
        for sid in sorted(stage_ids):
            attempts = self._app.stageData(
                sid, False, self._empty_tasks, False, self._no_quantiles
            )
            for i in range(attempts.size()):
                st = attempts.apply(i)
                for getter, (counter, scale) in STAGE_FIELDS.items():
                    trace.counters[counter] += getattr(st, getter)() * scale


def jvm_gc_s(spark) -> float:
    """Cumulative JVM garbage-collection time, all collectors."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


def heap_pools(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [
        p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"
    ]


def reset_heap_peaks(pools) -> None:
    for p in pools:
        p.resetPeakUsage()


def heap_peak_mb(pools) -> float:
    return sum(p.getPeakUsage().getUsed() for p in pools) / 2**20
