"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke tests run ``perfbench/run.py`` in a subprocess at a tiny
scale (1x fixtures; two queries on tables the size of scale factor
0.001) through ``perfbench/tests/smoke.py``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench.run import END_TO_END, per_layer_units  # noqa: E402
from perfbench.tracer import Span, Tracer, percentile_with_tail, self_time  # noqa: E402


def _span(i, start, end, parent=None):
    s = Span(i, f"s{i}", start, parent, 1)
    s.end = end
    return s


def test_self_time_subtracts_the_union_of_children():
    root = _span(0, 0.0, 10.0)
    kids = [
        _span(1, 1.0, 3.0, 0),
        _span(2, 2.0, 5.0, 0),  # overlaps the first: counted once
        _span(3, 6.0, 7.0, 0),
        _span(4, 9.5, 12.0, 0),  # runs past the parent: clipped
    ]
    assert self_time(root, kids) == pytest.approx(10.0 - 4.0 - 1.0 - 0.5)
    assert self_time(root, []) == pytest.approx(10.0)


def test_tracer_self_time_ignores_grandchildren():
    tr = Tracer()
    tr.spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 9.0, 0),
        _span(2, 2.0, 4.0, 1),
    ]
    root, child, grandchild = tr.spans
    assert tr.self_time(root) == pytest.approx(2.0)
    assert tr.self_time(child) == pytest.approx(6.0)
    assert tr.self_time(grandchild) == pytest.approx(2.0)
    assert sorted(s.id for s in tr.subtree(root)) == [0, 1, 2]
    # self times of a tree add up to the root's wall time
    assert sum(tr.self_time(s) for s in tr.subtree(root)) == pytest.approx(10.0)


def test_nested_spans_record_parents():
    tr = Tracer()
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(100)]
    value, pct = percentile_with_tail(xs)
    assert value == 89.0 and pct == 90.0
    assert sum(x > value for x in xs) == 10
    assert percentile_with_tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def _smoke(workload, trace, corrupt=False):
    env = dict(os.environ)
    if corrupt:
        env["PERFBENCH_SMOKE_CORRUPT"] = "1"
    proc = subprocess.run(
        [
            sys.executable,
            str(ROOT / "perfbench" / "tests" / "smoke.py"),
            "--workload", workload,
            "--seed", "5",
            "--seconds", "1",
            "--trace", str(trace),
        ],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(result, units):
    assert set(result["metrics"]) == set(units)
    for name, unit in units.items():
        m = result["metrics"][name]
        assert m["unit"] == unit, name
        assert isinstance(m["value"], (int, float)), name


def test_smoke_catalog_end_to_end_metrics_and_corrupt_golden():
    result = _smoke("catalog_headline", 0, corrupt=True)
    _assert_metrics(result, END_TO_END)
    assert all(result["metrics"][k]["value"] > 0 for k in END_TO_END)
    # one of the two goldens is wrong: exactly that check fails
    assert result["correct"] is False
    assert result["failed"] == 1
    assert result["attempted"] > result["failed"]


def test_smoke_catalog_traced_metrics():
    from perfbench.tests.smoke import QUERIES

    result = _smoke("catalog_headline", 1)
    assert result["correct"] is True and result["failed"] == 0
    _assert_metrics(result, per_layer_units(QUERIES))
    m = result["metrics"]
    for q in QUERIES:
        assert m[f"query.{q}.jobs"]["value"] >= 1
    assert m["spark.jobs"]["value"] >= 2
    assert m["trace.unattributed_share"]["value"] <= 0.10


def test_smoke_migration_traced_metrics():
    from perfbench.tests.smoke import QUERIES

    result = _smoke("migration", 1)
    assert result["correct"] is True and result["failed"] == 0
    _assert_metrics(result, per_layer_units(QUERIES))
    m = result["metrics"]
    assert m["sink.rows"]["value"] > 0 and m["sink.bytes"]["value"] > 0
    assert m["pipeline.build_jobs"]["value"] >= 1
    assert m["sources.read_s"]["value"] > 0
