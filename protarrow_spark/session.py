"""SparkSession builder tuned for this engine.

Local testing runs ``local[N]``; the configuration is written for a
multi-executor cluster (AQE on, skew-join handling, Arrow transfers)
so the same code paths exercise the scale story described in
SURVEY.md §4.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: Default driver heap: this share of physical memory, capped (in MiB).
HEAP_SHARE = 0.45
HEAP_CAP_MB = 16 * 1024


def _default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """HEAP_SHARE of MemTotal, capped at HEAP_CAP_MB; the cap when
    physical memory cannot be read."""
    try:
        with open(meminfo) as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return f"{HEAP_CAP_MB}m"
    return f"{min(HEAP_CAP_MB, int(kb / 1024 * HEAP_SHARE))}m"


def _driver_mem() -> str:
    """Driver heap size; one env knob drives both -Xmx and the -Xms pin."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()


def get_spark(app_name: str = "protarrow-spark", cpus: int | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-aware defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Shuffle parallelism sized to cores locally; AQE coalesces at runtime,
        # so on a real cluster this is a ceiling, not a hand-tuned constant.
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every Python<->JVM hop (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet uses TIMESTAMP(NANOS); Spark reads it
        # as LongType nanos with this flag (converted in sources.tables).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[N] runs everything in the driver JVM: N executor threads
        # x Arrow batch buffers + broadcast + cache all share this heap.
        # 8g showed GC-pressure variance (2-3x query-time swings late in
        # multi-query sessions); 16g removes it where the host has the
        # memory, and a smaller host gets HEAP_SHARE of its memory so
        # the JVM can reserve the heap at all.
        # -Xms pins the heap at the same size as -Xmx: G1 otherwise
        # uncommits after full GCs and every heavy query re-pays
        # multi-second heap re-expansion. Deriving Xms from the same env
        # var keeps Xms <= Xmx whatever the user sets.
        .config("spark.driver.memory", _driver_mem())
        .config("spark.driver.extraJavaOptions", f"-Xms{_driver_mem()}")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
