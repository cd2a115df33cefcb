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
    # the baseline row refreshes only from the path the run wrote: a
    # diverted run lands in BENCH_RUN.json and leaves BASELINE.md alone
    diverted = bench._guarded_out_path(p, False, 0.1, 8)
    assert not bench._refreshes_row(diverted, False, 0.1)
    assert bench._refreshes_row(bench._guarded_out_path(p, False, 0.1, 32), False, 0.1)
    assert not bench._refreshes_row(p, True, 0.1)
    assert not bench._refreshes_row(p, False, 1.0)
    assert not bench._refreshes_row(None, False, 0.1)
    # an explicit SPARK_GRAFT_BENCH_OUT=BENCH_LOCAL.json skips the guard
    # and re-baselines at a new core count: artifact and row move together
    assert bench._refreshes_row(p, False, 0.1)
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
