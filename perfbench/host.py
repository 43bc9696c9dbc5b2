"""Host side of a run: pinned environment, process tree, RSS, shutdown.

Every run pins the same environment before pyspark is imported, so the
two sides of a comparison differ only in the code under test:

* ``PYTHONPATH`` carries the repository root, or every ``mapInPandas``
  worker fails to import ``protarrow_spark``;
* ``SPARK_GRAFT_CPUS`` is the number of usable cores;
* ``SPARK_GRAFT_DRIVER_MEM`` is an eighth of physical memory, between 1
  and 6 GiB (the engine's 16g default cannot start on a 15 GB host);
* ``TZ`` is UTC; Spark's local dirs, the temp dir and the JVM's
  ``java.io.tmpdir`` live under the run's work directory.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time

HEAP_SHARE = 0.125
HEAP_MIN_MB, HEAP_MAX_MB = 1024, 6144


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap() -> str:
    mb = int(mem_total_mb() * HEAP_SHARE)
    return f"{min(HEAP_MAX_MB, max(HEAP_MIN_MB, mb))}m"


def pin_env(repo_root: str, work_dir: str) -> dict[str, str]:
    """Set the run's environment in ``os.environ``; returns what was set."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    pinned = {
        "PYTHONPATH": repo_root + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(usable_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": driver_heap(),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "TZ": "UTC",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(pinned)
    time.tzset()
    return pinned


def cpu_ticks() -> list[int]:
    """Host-wide CPU ticks from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time the hypervisor gave to other machines."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / (sum(d) or 1)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this process)."""
    kids = _children()
    out, todo = [], [os.getpid() if pid is None else pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of this process and its descendants."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        pids = [os.getpid(), *descendants()]
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; returns the survivors."""
    deadline = time.monotonic() + timeout_s
    alive = [p for p in pids if _alive(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if _alive(p)]
    return alive


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM, and wait until it and every Python worker
    daemon it started have exited, so back-to-back runs never overlap."""
    from pyspark import SparkContext

    tree = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM's gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    for pid in wait_gone(tree, 30):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    survivors = wait_gone(tree, 10)
    if survivors:
        raise RuntimeError(f"processes still alive after shutdown: {survivors}")
