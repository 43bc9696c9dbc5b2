"""BASELINE.md headline-row integrity gate.

The 'query-layer headline wall' row in BASELINE.md is AUTO-GENERATED
by bench.py from the committed BENCH_LOCAL.json; it is the one number
every cross-round comparison anchors on. In r12 a clean-but-partial
4-query merge-repair artifact rewrote it to '10.7 s for 4 queries'
while the committed artifact held 218.7 s / 173 (commit 0f650af) —
these tests make that drift class impossible to ship:

* the row's total / count / median / slowest must match the committed
  artifact exactly (same derivation bench.py uses), and
* ``_refresh_baseline_row`` must REFUSE any payload that does not
  cover the full headline set.
"""

from __future__ import annotations

import json
import pathlib
import re

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def artifact() -> dict:
    path = REPO / "BENCH_LOCAL.json"
    assert path.exists(), "BENCH_LOCAL.json missing — run bench.py"
    return json.loads(path.read_text())


@pytest.fixture(scope="module")
def row() -> str:
    lines = (REPO / "BASELINE.md").read_text().splitlines()
    rows = [l for l in lines if l.startswith("| query-layer headline wall |")]
    assert len(rows) == 1, "expected exactly one headline-wall row"
    return rows[0]


def test_row_matches_committed_artifact(artifact, row):
    t = artifact["queries"]
    m = re.search(
        r"(\d+\.\d) s total for (\d+) queries \(`BENCH_LOCAL\.json`\), "
        r"(\d+) errors, median (\d+\.\d+) s, slowest (\d+\.\d+) s "
        r"\(`([a-z0-9_]+)`\)",
        row,
    )
    assert m, f"headline row not in bench.py's auto-generated format: {row}"
    total, n, n_err, median, slow_sec, slow_name = m.groups()
    assert float(total) == round(float(f"{artifact['value']:.1f}"), 1)
    assert int(n) == len(t)
    assert int(n_err) == len(artifact.get("errors", {}))
    vals = sorted(t.values())
    assert float(median) == round(vals[len(vals) // 2], 2)
    assert slow_name == max(t, key=t.get)
    assert float(slow_sec) == round(t[slow_name], 2)


def test_committed_artifact_is_clean_full_headline(artifact):
    """The official artifact must be a clean-probed FULL headline run:
    poisoned or partial artifacts live under benchmarks/, never here."""
    import bench
    from protarrow_spark.queries import all_queries

    sp = artifact.get("steal_probe", {})
    assert not sp.get("poisoned"), (
        "committed BENCH_LOCAL.json is steal-poisoned "
        f"(unresolved={sp.get('unresolved')}) — repair it with the "
        "merge mode or re-run in a quiet window before committing"
    )
    expected = {n for n in bench.HEADLINE if n in all_queries()}
    got = set(artifact["queries"]) | set(artifact.get("errors", {}))
    # Queries born after the artifact was measured are allowed to be
    # absent (the next full sweep picks them up); anything MEASURED
    # that is no longer headline, or a subset artifact, is not.
    assert got <= expected, f"non-headline queries in artifact: {sorted(got - expected)[:5]}"
    assert len(got) >= 0.9 * len(expected), (
        f"artifact covers only {len(got)}/{len(expected)} headline "
        "queries — this is a subset sweep, not the official artifact"
    )


def test_out_path_guard_diverts_incomparable_runs(tmp_path, monkeypatch):
    """r14 guard (VERDICT item 1): a poisoned, non-sf0.1, or
    different-core-count run must never take the default
    BENCH_LOCAL.json path — both r13 clobbers (poisoned sweep-B and
    the driver's cpus=8 sweep) would have been diverted by this."""
    import bench

    official = tmp_path / "BENCH_LOCAL.json"
    official.write_text(json.dumps({"value": 201.0, "cpus": 32}))
    monkeypatch.chdir(tmp_path)
    p = str(official)
    # comparable clean run keeps the official path
    assert bench._guarded_out_path(p, False, 0.1, 32) == p
    # poisoned run diverts (the sweep-B clobber)
    assert bench._guarded_out_path(p, True, 0.1, 32) == "BENCH_RUN.json"
    # non-sf0.1 run diverts
    assert bench._guarded_out_path(p, False, 1.0, 32) == "BENCH_RUN.json"
    # core-count mismatch vs the committed artifact diverts (the c8 clobber)
    assert bench._guarded_out_path(p, False, 0.1, 8) == "BENCH_RUN.json"
    # no committed artifact yet: nothing to protect, keep the path
    official.unlink()
    assert bench._guarded_out_path(p, False, 0.1, 8) == p


def test_refresh_guard_refuses_partial_payload(tmp_path, monkeypatch):
    import bench

    full_names = {f"q{i}" for i in range(10)}
    partial = {
        "value": 1.0,
        "sf": 0.1,
        "cpus": 32,
        "queries": {"q1": 0.5, "q2": 0.5},
        "errors": {},
    }
    # Point the function at a scratch BASELINE.md so a bug can't
    # touch the real one from inside the test.
    scratch = tmp_path / "BASELINE.md"
    marker = "| query-layer headline wall | SENTINEL |\n"
    scratch.write_text(marker)
    monkeypatch.setattr(
        bench.os.path, "dirname", lambda _p, _d=str(tmp_path): _d
    )
    bench._refresh_baseline_row(partial, full_names)
    assert scratch.read_text() == marker, "partial payload rewrote the row"
    full = {
        "value": 5.0,
        "sf": 0.1,
        "cpus": 32,
        "queries": {n: 0.5 for n in full_names},
        "errors": {},
    }
    bench._refresh_baseline_row(full, full_names)
    assert "5.0 s total for 10 queries" in scratch.read_text()


def _scratch_row(tmp_path, monkeypatch):
    """Scratch BASELINE.md (as in the partial-payload test) and cwd, so
    the published artifact and the row both live under tmp_path."""
    import bench

    scratch = tmp_path / "BASELINE.md"
    marker = "| query-layer headline wall | SENTINEL |\n"
    scratch.write_text(marker)
    monkeypatch.setattr(
        bench.os.path, "dirname", lambda _p, _d=str(tmp_path): _d
    )
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_OUT", raising=False)
    return scratch, marker


def _payload(names, cpus, unresolved=()):
    return {
        "value": 5.0,
        "sf": 0.1,
        "cpus": cpus,
        "queries": {n: 0.5 for n in names},
        "steal_probe": {
            "unresolved": sorted(unresolved),
            "poisoned": bool(unresolved),
        },
    }


def test_diverted_run_leaves_row_untouched(tmp_path, monkeypatch):
    """The r14 hole: a run diverted away from BENCH_LOCAL.json must not
    regenerate the row, whether it was diverted for its core count or
    for being steal-poisoned."""
    import bench

    scratch, marker = _scratch_row(tmp_path, monkeypatch)
    names = {f"q{i}" for i in range(10)}
    official = tmp_path / "BENCH_LOCAL.json"
    official.write_text(json.dumps({"value": 201.0, "cpus": 32}))

    # clean, full coverage, but measured at a different core count
    assert bench._publish(_payload(names, 4), names, False) == "BENCH_RUN.json"
    assert scratch.read_text() == marker, "cpus-diverted run rewrote the row"
    assert json.loads(official.read_text())["cpus"] == 32

    # full coverage at the committed core count, but poisoned
    poisoned = _payload(names, 32, unresolved=["q3"])
    assert bench._publish(poisoned, names, False) == "BENCH_RUN.json"
    assert scratch.read_text() == marker, "poisoned run rewrote the row"

    # control: the comparable clean run takes the official path and does
    # rewrite the row, so the two checks above are not vacuous
    assert bench._publish(_payload(names, 32), names, False) == "BENCH_LOCAL.json"
    assert "5.0 s total for 10 queries" in scratch.read_text()


def test_query_without_clean_rep_is_unresolved():
    import bench

    hot = bench.STEAL_CLEAN * 2
    reps = {
        # fastest rep is stolen: the time is the fastest CLEAN rep
        "mixed": [[1.0, 0.0], [0.4, hot], [0.8, bench.STEAL_CLEAN]],
        # every rep over the bound, extra reps included
        "stolen": [[2.0, hot]] * (bench.REPS + bench.EXTRA_REPS),
    }
    timings, unresolved = bench._classify(reps)
    assert timings == {"mixed": 0.8, "stolen": 2.0}
    assert unresolved == ["stolen"]
    assert bool(unresolved)  # poisoned = bool(unresolved)
    assert bench._classify({"mixed": reps["mixed"]})[1] == []


def test_extra_reps_only_until_one_is_clean(monkeypatch):
    import bench

    steal = iter([0.5, 0.5, 0.5, 0.5, 0.0, 0.5])
    monkeypatch.setattr(bench, "steal_share", lambda _a, _b: next(steal))
    reps = bench._time_query(lambda: None)
    # three stolen reps, then extra reps stop at the first clean one
    assert [s for _, s in reps] == [0.5, 0.5, 0.5, 0.5, 0.0]

    monkeypatch.setattr(bench, "steal_share", lambda _a, _b: 0.0)
    assert len(bench._time_query(lambda: None)) == bench.REPS
