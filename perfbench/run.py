"""Closed-loop benchmark of the protarrow_spark engine.

One process is one client on ``local[<usable cores>]``. A single driver
thread submits a registered query, waits until it has finished writing
to the ``noop`` sink, and only then submits the next. A pass runs every
query of the workload once, in an order shuffled from ``--seed``; passes
repeat until ``--seconds`` have been measured.

The inputs are the engine's test tables at scale factor 0.01, kept in
``perfbench/data/sf0.01`` and only read; ``--seed`` fixes the order of
the queries in every pass. Spark's scratch files go under ``.perfbench/``
in the repository root, which the run deletes when it ends. Before the
timed passes, a cold pass collects every query's rows, which are compared
with the query's DuckDB oracle outside any timed region, and one more
untimed pass finishes the warm-up.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, reads Spark's status stores after every
traced query phase, times the codec kernels with no JVM, and prints the
per-layer metrics. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

    python3 perfbench/run.py --workload jvm --seed 1 --seconds 16 --trace 0
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402
from metrics import CODEC_SHAPES, END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: the input tables (lineitem = 60,000 rows)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
#: a tail percentile needs this many samples beyond it
TAIL_BEYOND = 10
#: untraced passes measured at least, whatever --seconds says
MIN_PASSES = 2
#: a pass is clean when at most this share of host CPU time was stolen by
#: other virtual machines; on a shared host a pass slows by two to five
#: times the stolen share, so the metrics use the clean passes, or the
#: MIN_PASSES least contended ones when fewer are clean
STEAL_CLEAN = 0.01
#: timed passes continue past --seconds, up to this multiple of it, to
#: collect MIN_PASSES clean passes
MAX_STRETCH = 1.25


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that still has
    ``TAIL_BEYOND`` samples beyond it. With fewer than ``2 * TAIL_BEYOND``
    samples that percentile lies below the median, and the median is
    returned instead (percentile 50)."""
    xs = sorted(samples)
    n = len(xs)
    k = n - TAIL_BEYOND  # 1-based rank of the tail sample
    if 100.0 * k / n < 50.0:
        return statistics.median(xs), 50.0, n
    return xs[k - 1], 100.0 * k / n, n


class Run:
    """State of one benchmark run: session, inputs, samples, verdicts."""

    def __init__(self, args, work_dir: str):
        self.work_dir = work_dir
        self.data_dir = DATA_DIR
        self.names = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.verdicts: dict[str, str] = {}
        self.spark = None
        self.spans: list[dict] = []

    def order(self) -> list[str]:
        names = list(self.names)
        self.rng.shuffle(names)
        return names

    # -- set-up and output check ------------------------------------------
    def start(self) -> float:
        """Start the session and run its first job; returns the seconds."""
        from protarrow_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=host.usable_cpus())
        self.spark.range(1).collect()
        return time.perf_counter() - t0

    def warm_up_and_collect(self) -> tuple[float, dict]:
        """One untimed pass that collects every query's rows; returns its
        Spark wall time and the rows (or the error) per query."""
        from protarrow_spark.queries import QUERIES

        out, spent = {}, 0.0
        for name in self.order():
            t0 = time.perf_counter()
            try:
                out[name] = QUERIES[name](self.spark, self.data_dir).toPandas()
            except Exception:
                out[name] = traceback.format_exc(limit=3)
            spent += time.perf_counter() - t0
        return spent, out

    def check(self, results: dict) -> None:
        import oracle
        from protarrow_spark.queries import ORACLES

        con = oracle.connect(self.data_dir, os.path.join(self.work_dir, "tmp"))
        try:
            for name in self.names:
                got = results[name]
                self.attempted += 1
                if isinstance(got, str):
                    verdict = "error: " + got.strip().splitlines()[-1]
                elif name not in ORACLES:
                    verdict = "error: no oracle registered"
                else:
                    diff = oracle.compare(got, con.execute(ORACLES[name]).fetch_df())
                    verdict = "ok" if diff is None else "mismatch: " + diff
                if verdict != "ok":
                    self.failed += 1
                self.verdicts[name] = verdict
        finally:
            con.close()

    # -- timed passes -----------------------------------------------------
    def run_query(self, name: str, tracer=None):
        """Construct and execute one query; returns (construct_s,
        execute_s, traces) or None when it raised."""
        from protarrow_spark.queries import QUERIES

        fn = QUERIES[name]
        self.attempted += 1
        try:
            if tracer is None:
                t0 = time.perf_counter()
                df = fn(self.spark, self.data_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                return t1 - t0, time.perf_counter() - t1, ()
            df, ct = tracer.run_phase("construct", lambda: fn(self.spark, self.data_dir))
            _, et = tracer.run_phase(
                "execute", lambda: df.write.format("noop").mode("overwrite").save()
            )
            return ct.wall_s, et.wall_s, (ct, et)
        except Exception:
            self.failed += 1
            print(f"query {name} failed:\n{traceback.format_exc(limit=3)}", file=sys.stderr)
            return None

    def one_pass(self, tracer=None) -> dict:
        import tracing

        pools = tracing.heap_pools(self.spark) if tracer else None
        if tracer:
            tracer.skip_untraced()
            tracing.reset_heap_peaks(pools)
            gc0 = tracing.jvm_gc_s(self.spark)
        latencies, counters = [], Counter()
        t0, ticks = time.perf_counter(), host.cpu_ticks()
        for name in self.order():
            res = self.run_query(name, tracer)
            if res is None:
                continue
            c, e, traces = res
            print(f"{name:34s} construct {c:8.3f} s  execute {e:8.3f} s", file=sys.stderr)
            latencies.append(c + e)
            counters["queries.construct_s"] += c
            counters["spark.execute_s"] += e
            if traces:
                ct, et = traces
                request = len(self.spans) // 2
                self.spans += [span(name, request, tr) for tr in traces]
                counters.update(ct.counters)
                counters.update(et.counters)
                counters["queries.construct_sql_execs"] += len(ct.executions)
                counters["spark.execute_sql_execs"] += len(et.executions)
        wall = time.perf_counter() - t0
        steal = host.steal_share(ticks, host.cpu_ticks())
        print(
            f"{'traced ' if tracer else ''}pass {wall:.3f} s, host steal {100 * steal:.1f} %",
            file=sys.stderr,
        )
        if tracer:
            counters["jvm.gc_s"] = tracing.jvm_gc_s(self.spark) - gc0
            counters["jvm.heap_used_peak_mb"] = tracing.heap_peak_mb(pools)
        return {"wall_s": wall, "steal": steal, "latencies": latencies, "counters": counters}


def span(query: str, request: int, tr) -> dict:
    """A traced phase as one JSON-able span. Both phases of one query run
    share ``request``; the SQL executions are the phase's children, each
    with the call site Spark recorded for it."""
    return {
        "request": request,
        "query": query,
        "phase": tr.phase,
        "start_s": round(tr.start_s, 6),
        "wall_s": round(tr.wall_s, 6),
        "sql_executions": [
            {"id": e.execution_id, "call_site": e.call_site, "duration_s": e.duration_s}
            for e in tr.executions
        ],
    }


def clean_passes(passes: list[dict]) -> list[dict]:
    return [p for p in passes if p["steal"] <= STEAL_CLEAN]


def used_passes(passes: list[dict]) -> list[dict]:
    """The clean passes, or the MIN_PASSES least contended ones."""
    clean = clean_passes(passes)
    print(f"{len(clean)} of {len(passes)} timed passes had at most {STEAL_CLEAN:.0%} host steal")
    if len(clean) >= MIN_PASSES:
        return clean
    return sorted(passes, key=lambda p: p["steal"])[:MIN_PASSES]


def end_to_end(run: Run, setup_s: float, passes: list[dict], peak_mb: float) -> dict:
    passes = used_passes(passes)
    lat = [x for p in passes for x in p["latencies"]]
    tail_s, pct, n = tail(lat)
    print(f"query_tail_s is p{pct:.1f} of {n} query latencies")
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": tail_s,
        "peak_rss_mb": peak_mb,
        "ok_frac": 1.0 - run.failed / run.attempted,
    }


def per_layer(plain: list[dict], traced: list[dict], session_s: float, kernels) -> dict:
    keys = {k for p in traced for k in p["counters"]}
    med = {k: statistics.median(p["counters"].get(k, 0) for p in traced) for k in keys}
    out = {m.name: float(med.get(m.name, 0.0)) for m in PER_LAYER}
    busy = out["queries.construct_s"] + out["spark.execute_s"]
    out["queries.construct_share"] = out["queries.construct_s"] / busy if busy else 0.0
    run_s = out["tasks.run_s"]
    out["tasks.cpu_util"] = out["tasks.cpu_s"] / run_s if run_s else 0.0
    out["session.start_s"] = session_s
    out["trace.overhead_s"] = statistics.median(p["wall_s"] for p in traced) - statistics.median(
        p["wall_s"] for p in plain
    )
    for k in kernels:
        out[f"codec.encode_rows_per_s.{k.shape}"] = k.encode_rows_per_s
        out[f"codec.decode_rows_per_s.{k.shape}"] = k.decode_rows_per_s
    out["codec.row_path_shapes"] = float(
        sum(k.encode_row_path or k.decode_row_path for k in kernels)
    )
    return out


def kernel_phase(run: Run) -> list:
    import kernels

    captured = {s: kernels.capture_batches(run.spark, run.data_dir, s) for s in CODEC_SHAPES}
    results = []
    for shape in CODEC_SHAPES:
        res = kernels.run_shape(shape, captured[shape])
        run.attempted += 1
        if res.mismatch:
            run.failed += 1
            run.verdicts[f"kernel:{shape}"] = "mismatch: " + res.mismatch
        else:
            run.verdicts[f"kernel:{shape}"] = "ok"
        results.append(res)
    return results


def main(argv=None) -> int:
    args = parse_args(argv)

    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    host.pin_env(ROOT, work_dir)
    sys.path.insert(1, ROOT)
    try:
        return _main(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:  # another run's directory is still there
            pass


def _main(args, work_dir: str) -> int:
    t0 = time.perf_counter()
    try:
        import pyspark  # noqa: F401
        import protarrow_spark.queries  # noqa: F401
        from protarrow_spark.session import get_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import_s = time.perf_counter() - t0
    missing = [n for n in WORKLOADS[args.workload] if n not in protarrow_spark.queries.QUERIES]
    if missing:
        print(f"queries not registered: {missing}", file=sys.stderr)
        return 2

    run = Run(args, work_dir)
    with host.RssSampler() as rss:
        try:
            session_s = run.start()
            warm_s, results = run.warm_up_and_collect()
            run.check(results)
            del results
            warm_s += run.one_pass()["wall_s"]
            setup_s = import_s + session_s + warm_s
            print(
                f"setup: import {import_s:.3f} s, session {session_s:.3f} s,"
                f" warm-up {warm_s:.3f} s",
                file=sys.stderr,
            )
            plain, traced, kernels = [], [], []
            tracer = None
            if args.trace:
                import tracing

                tracer = tracing.SparkTracer(run.spark)
            t_meas = time.perf_counter()
            # untraced: at least MIN_PASSES; traced: blocks of untraced,
            # traced, traced, untraced passes, so a warming trend cancels
            # out of trace.overhead_s
            block = (False,) * MIN_PASSES if tracer is None else (False, True, True, False)
            while True:
                for traced_turn in block:
                    p = run.one_pass(tracer if traced_turn else None)
                    (traced if traced_turn else plain).append(p)
                spent = time.perf_counter() - t_meas
                enough_clean = tracer is not None or len(clean_passes(plain)) >= MIN_PASSES
                if spent >= args.seconds and (enough_clean or spent >= args.seconds * MAX_STRETCH):
                    break
                block = block[:1] if tracer is None else block
            if tracer is not None:
                t_k = time.perf_counter()
                kernels = kernel_phase(run)
                print(f"kernel phase {time.perf_counter() - t_k:.3f} s", file=sys.stderr)
        finally:
            if run.spark is not None:
                host.stop_spark(run.spark)

    for sp in run.spans:
        print("span " + json.dumps(sp), file=sys.stderr)
    correct = run.failed == 0 and all(v == "ok" for v in run.verdicts.values())
    for name, verdict in run.verdicts.items():
        print(f"check {name}: {verdict}")
    print(f"check overall: {'ok' if correct else 'FAILED'}")
    if args.trace:
        metrics = per_layer(plain, traced, session_s, kernels)
        specs = PER_LAYER
    else:
        metrics = end_to_end(run, setup_s, plain, rss.peak_mb)
        specs = END_TO_END
    print(f"failed_frac {run.failed / run.attempted:.6f} ({run.failed}/{run.attempted})")
    for m in specs:
        moves = f"   moves {m.moves} on {m.on}" if m.moves else ""
        print(f"{m.name:40s} {metrics[m.name]:>16.6f} {m.unit}{moves}")
    result = {
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m.name: {"value": metrics[m.name], "unit": m.unit} for m in specs},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
