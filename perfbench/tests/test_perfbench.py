"""Tests of the benchmark itself.

The fast tests need no JVM. ``test_short_run`` runs the benchmark end to
end once per workload (about 40 s each) and is the slow one:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from argparse import Namespace

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import oracle  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def test_benchmark_json_matches_the_metric_specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert spec["end_to_end"] == [
        {"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound}
        for m in END_TO_END
    ]
    assert spec["per_layer"] == [
        {"name": m.name, "unit": m.unit, "better": m.better} for m in PER_LAYER
    ]


def test_query_order_is_a_function_of_the_seed():
    def orders(seed):
        r = run.Run(Namespace(workload="jvm", seed=seed), "unused")
        return [r.order() for _ in range(3)]

    assert orders(7) == orders(7)
    assert orders(7) != orders(8)


@pytest.fixture(scope="module")
def checked_run(tmp_path_factory):
    """A Run and the oracle rows of its queries."""
    work = str(tmp_path_factory.mktemp("work"))
    os.makedirs(os.path.join(work, "tmp"))
    r = run.Run(Namespace(workload="jvm", seed=5), work)
    from protarrow_spark.queries import ORACLES

    con = oracle.connect(r.data_dir, os.path.join(work, "tmp"))
    try:
        rows = {n: con.execute(ORACLES[n]).fetch_df() for n in r.names}
    finally:
        con.close()
    return r, rows


def test_check_passes_the_oracle_rows(checked_run):
    r, rows = checked_run
    r.attempted = r.failed = 0
    r.check(dict(rows))
    assert r.failed == 0
    assert set(r.verdicts.values()) == {"ok"}


def test_check_fails_a_wrong_result(checked_run):
    r, rows = checked_run
    r.attempted = r.failed = 0
    bad = dict(rows)
    name = "q1_pricing_summary"
    wrong = bad[name].copy()
    col = next(c for c in wrong.columns if wrong[c].dtype.kind in "if")
    wrong.loc[0, col] = wrong.loc[0, col] + 1
    bad[name] = wrong
    r.check(bad)
    assert r.failed == 1
    assert r.verdicts[name].startswith("mismatch")


@pytest.mark.parametrize(
    "got",
    [
        pd.DataFrame({"a": [1, 2], "b": ["x", "z"]}),  # value
        pd.DataFrame({"a": [1], "b": ["x"]}),  # row count
        pd.DataFrame({"a": [1, 2], "c": ["x", "y"]}),  # column name
        pd.DataFrame({"a": [1.0, 2.0], "b": ["x", "y"]}),  # int-vs-float skew
    ],
)
def test_compare_reports_each_kind_of_difference(got):
    exp = pd.DataFrame({"a": [2, 1], "b": ["y", "x"]})
    assert oracle.compare(exp.iloc[::-1], exp) is None
    assert oracle.compare(got, exp) is not None


def test_sql_metric_strings_parse():
    shown = "total (min, med, max (stageId: taskId))\n2.6 MiB (0.0 B, 1.3 MiB, 1.3 MiB (stage 3.0: task 7))"
    assert tracing.parse_metric_total(shown) == pytest.approx(2.6 * 2**20)
    assert tracing.parse_metric_total("1.5 s (0 ms, 0.7 s, 0.8 s (stage 1.0: task 2))") == 1.5
    assert tracing.parse_metric_total("345 ms") == pytest.approx(0.345)
    assert tracing.parse_metric_count("1,234") == 1234


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 41)]
    value, pct, n = run.tail(xs)
    assert (value, n) == (30.0, 40) and pct == 75.0
    assert sum(x > value for x in xs) == run.TAIL_BEYOND
    assert run.tail(xs[:12])[1] == 50.0  # too few samples: the median


def _bench(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    printed = {p[0]: p[2] for p in (line.split() for line in lines) if len(p) >= 3}
    for m in END_TO_END if trace == 0 else PER_LAYER:
        assert printed.get(m.name) == m.unit, m.name
    return json.loads(lines[-1])


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_short_run(workload):
    result = _bench(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] > 0
    assert [k for k in result["metrics"]] == [m.name for m in END_TO_END]
    assert result["metrics"]["ok_frac"]["value"] == 1.0
    for m in END_TO_END:
        assert result["metrics"][m.name]["unit"] == m.unit
        assert result["metrics"][m.name]["value"] > 0


def test_short_traced_run():
    result = _bench("codec", 1)
    assert result["correct"] is True and result["failed"] == 0
    assert [k for k in result["metrics"]] == [m.name for m in PER_LAYER]
    assert result["metrics"]["pyboundary.bytes_sent"]["value"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "jvm", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_contended_passes_are_left_out():
    r = run.Run(Namespace(workload="codec", seed=1), "unused")
    r.attempted = 10
    clean = {"wall_s": 1.0, "steal": 0.0, "latencies": [0.5, 0.5]}
    stolen = {"wall_s": 9.0, "steal": 0.2, "latencies": [4.5, 4.5]}
    assert run.end_to_end(r, 1.0, [clean, stolen, clean], 1.0)["pass_s"] == 1.0
    # fewer than MIN_PASSES clean passes: the MIN_PASSES least contended
    worse = {"wall_s": 19.0, "steal": 0.4, "latencies": [9.5, 9.5]}
    assert run.end_to_end(r, 1.0, [worse, clean, stolen], 1.0)["pass_s"] == 5.0


def test_kernel_check_compares_cells_by_value():
    import numpy as np

    import kernels

    rows = [(1, None), (2, "x")]
    same = [[np.array([1, 2]), pd.Series([pd.NaT, "x"])]]
    assert kernels._decode_diff("s", ["a", "b"], same, [rows]) is None
    off = [[np.array([1, 3]), pd.Series([pd.NaT, "x"])]]
    assert kernels._decode_diff("s", ["a", "b"], off, [rows]) == "s.a: batch decode differs from the row decode"
