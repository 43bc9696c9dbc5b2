"""Names, units and expected effects of every metric the benchmark reports.

``END_TO_END`` is what a user of the engine sees; the benchmark prints
these from an untraced run (``--trace 0``). ``PER_LAYER`` comes from a
traced run (``--trace 1``); each entry also records which end-to-end
metric it should move and on which workload, so a change that claims a
layer win knows where the total must move too. ``BENCHMARK.json`` at the
repository root lists the same names, units and directions.
"""

from __future__ import annotations

from dataclasses import dataclass

#: message shape -> the registered round-trip query whose
#: ``proto_roundtrip`` call carries it (protarrow_spark/queries/conversion.py)
CODEC_SHAPES = {
    "events": "conv_roundtrip_events",
    "oneof": "conv_oneof_roundtrip",
    "wkt": "conv_roundtrip_wkt",
    "repeated": "conv_roundtrip_repeated",
    "nested_repeated": "conv_roundtrip_nested_repeated",
    "map": "conv_roundtrip_map",
}


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str  # "lower" | "higher"
    meaning: str
    bound: float | None = None  # end-to-end only: allowed relative worsening
    moves: str = ""  # per-layer only: the end-to-end metric it should move
    on: str = ""  # per-layer only: the workloads where it should move


END_TO_END = (
    Metric("setup_s", "s", "lower",
           "imports, Spark session start and two untimed warm-up passes; "
           "excludes the oracle comparison", bound=0.25),
    Metric("pass_s", "s", "lower",
           "median wall time of one pass over every query of the workload",
           bound=0.25),
    Metric("query_p50_s", "s", "lower",
           "median latency of one query, construction through noop write",
           bound=0.25),
    Metric("query_tail_s", "s", "lower",
           "latency at the highest percentile with ten samples beyond it; "
           "a run yields fewer than twenty latencies, so this is the median "
           "again, not a tail", bound=0.25),
    Metric("peak_rss_mb", "MB", "lower",
           "peak summed RSS of the driver Python, the JVM and Python workers",
           bound=0.2),
    Metric("ok_frac", "ratio", "higher",
           "1 - failed_frac: share of attempted queries that ran and "
           "matched the oracle", bound=0.01),
)

_PER_LAYER = [
    ("queries.construct_s", "s", "lower", "DataFrame construction wall time, eager jobs included",
     "pass_s", "jvm"),
    ("queries.construct_sql_execs", "count", "lower", "SQL executions launched while constructing",
     "pass_s", "jvm"),
    ("queries.construct_share", "ratio", "lower", "construct_s / (construct_s + execute_s)",
     "pass_s", "jvm"),
    ("spark.execute_s", "s", "lower", "wall time of the final noop write",
     "pass_s,query_p50_s", "jvm"),
    ("spark.execute_sql_execs", "count", "lower", "SQL executions of the final write",
     "pass_s,query_p50_s", "jvm"),
    ("tasks.run_s", "s", "lower", "summed task run time (stage executorRunTime)",
     "pass_s", "jvm"),
    ("tasks.cpu_s", "s", "lower", "summed task JVM CPU time (stage executorCpuTime)",
     "pass_s", "jvm"),
    ("tasks.cpu_util", "ratio", "higher", "tasks.cpu_s / tasks.run_s",
     "pass_s", "jvm"),
    ("tasks.count", "count", "lower", "completed tasks",
     "pass_s", "jvm"),
    ("shuffle.write_bytes", "B", "lower", "shuffle bytes written",
     "pass_s,peak_rss_mb", "jvm"),
    ("shuffle.read_bytes", "B", "lower", "shuffle bytes read, local and remote",
     "pass_s,peak_rss_mb", "jvm"),
    ("spill.bytes", "B", "lower", "memory plus disk bytes spilled",
     "pass_s,peak_rss_mb", "jvm"),
    ("sources.scan_bytes", "B", "lower", "stage input bytes",
     "pass_s", "jvm"),
    ("sources.files_read", "count", "lower", "scan-node files read",
     "pass_s", "jvm"),
    ("pyboundary.bytes_sent", "B", "lower", "data sent to Python workers (3-4 digit SQL metric)",
     "pass_s", "codec"),
    ("pyboundary.bytes_returned", "B", "lower", "data returned from Python workers",
     "pass_s", "codec"),
    ("pyboundary.run_s", "s", "lower", "time to run Python workers, summed over tasks",
     "pass_s", "codec"),
    ("pyboundary.worker_start_s", "s", "lower", "time to start Python workers, summed over tasks",
     "pass_s", "codec"),
]
for _d in ("decode", "encode"):
    for _s in CODEC_SHAPES:
        _PER_LAYER.append(
            (f"codec.{_d}_rows_per_s.{_s}", "1/s", "higher",
             f"vectorized {_d} kernel throughput on the {_s} shape, no JVM",
             "pass_s", "codec")
        )
_PER_LAYER += [
    ("codec.row_path_shapes", "count", "lower",
     "codec shapes whose batch kernel compiler returns None (row path)",
     "pass_s", "codec"),
    ("session.start_s", "s", "lower", "get_spark until the first job finishes",
     "setup_s", "jvm,codec"),
    ("jvm.gc_s", "s", "lower", "JVM garbage-collection time",
     "peak_rss_mb", "jvm"),
    ("jvm.heap_used_peak_mb", "MB", "lower", "summed peak usage of the heap pools",
     "peak_rss_mb", "jvm"),
    ("trace.overhead_s", "s", "lower", "traced pass_s minus untraced pass_s",
     "none", "jvm,codec"),
]

PER_LAYER = tuple(
    Metric(n, u, b, m, moves=mv, on=on) for n, u, b, m, mv, on in _PER_LAYER
)
