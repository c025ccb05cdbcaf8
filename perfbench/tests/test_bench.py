"""Tests of the benchmark's own arithmetic, plus a smoke run of the
whole harness on a tiny (sf0.001) generated dataset.

    python3 -m pytest perfbench/tests -q            # all
    python3 -m pytest perfbench/tests -q -k "not smoke"   # arithmetic only
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import stats  # noqa: E402
from oracle import digest  # noqa: E402


# ------------------------------------------------------------ percentiles

@pytest.mark.parametrize("n,want", [(1000, 95.0), (200, 95.0), (100, 90.0),
                                    (40, 75.0), (20, 50.0), (12, 50.0),
                                    (1, 50.0)])
def test_tail_pct(n, want):
    assert stats.tail_pct(n) == pytest.approx(want)


@pytest.mark.parametrize("n", range(20, 400, 7))
def test_tail_keeps_ten_samples_beyond(n):
    values = list(range(n))
    v, p = stats.tail(values)
    assert sum(1 for x in values if x > v) >= stats.TAIL_BEYOND
    # and it is the highest such percentile (up to p95)
    if p < 95.0:
        assert sum(1 for x in values if x > v) == stats.TAIL_BEYOND


def test_percentile_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert stats.percentile(xs, 50) == 3
    assert stats.percentile(xs, 100) == 5
    assert stats.percentile(xs, 1) == 1
    assert stats.percentile([7], 95) == 7
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_never_below_median():
    xs = [1.0, 2.0, 3.0, 10.0]
    v, p = stats.tail(xs)
    assert p == 50.0 and v == stats.percentile(xs, 50)


# ------------------------------------------------------------ rates

def test_median_rate_ignores_a_stalled_chunk():
    # 12 completions, 4 chunks of 3: three chunks at 3/s, one stalled
    # for 8 s; the plain rate (12 / 11 s) is pulled down by the stall
    done = [t / 3 for t in (1, 2, 3, 4, 5, 6, 7, 8, 30, 31, 32, 33)]
    assert stats.median_rate(0.0, done, 4) == pytest.approx(3.0)


def test_median_rate_chunks_and_order():
    assert stats.median_rate(0.0, [2.0, 1.0], 1) == pytest.approx(1.0)
    # more chunks than completions: one chunk per completion
    assert stats.median_rate(0.0, [1.0, 2.0, 4.0], 10) == pytest.approx(1.0)
    with pytest.raises(ValueError):
        stats.median_rate(0.0, [], 4)


# ------------------------------------------------------------ self time

def _span(i, parent, t0, t1):
    return {"id": i, "parent": parent, "t0": t0, "t1": t1, "name": str(i)}


def test_self_time_overlapping_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),    # overlaps span 2: [1, 6] counted once
        _span(4, 1, 8.0, 12.0),   # runs past its parent: clipped to [8, 10]
        _span(5, 2, 1.5, 2.5),    # grandchild: only span 2 loses it
    ]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(4.0)
    assert st[5] == pytest.approx(1.0)


def test_self_time_child_outside_parent_ignored():
    spans = [_span(1, None, 0.0, 1.0), _span(2, 1, 2.0, 3.0)]
    assert stats.self_times(spans)[1] == pytest.approx(1.0)


def test_union_length():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 1), (2, 3)]) == 2.0
    assert stats.union_length([(0, 2), (1, 3), (3, 4)]) == 4.0
    assert stats.union_length([(0, 5), (1, 2)]) == 5.0


# ------------------------------------------------------------ failures

def test_error_rate_counts_each_failed_operation_once():
    o = stats.Outcomes()
    ops = [o.attempt() for _ in range(8)]
    o.fail(ops[0], "http_status")
    o.fail(ops[0], "lost_write")        # same op: still one failure
    o.fail(ops[3], "wrong_answer")
    o.fail(ops[5], "ryw_miss")
    assert o.attempted == 8
    assert o.failed == 3
    assert o.error_rate == pytest.approx(3 / 8)
    assert o.kinds["http_status"] == 1 and o.kinds["lost_write"] == 1


def test_lost_writes_count_as_failures():
    o = stats.Outcomes()
    w_create, w_set, w_delete, w_keep = (o.attempt() for _ in range(4))
    # as the read-backs last saw each node: value, or None if deleted
    expected = {"a": ("1", w_set), "b": (None, w_delete), "c": ("0", w_keep),
                "d": ("0", w_create)}
    actual = {"a": "0",   # the SET was overwritten by a concurrent write
              "b": "1",   # the DELETE was undone
              "c": "0"}   # kept as written; "d" vanished
    lost = stats.reconcile(expected, actual)
    assert sorted(lost) == sorted([w_set, w_delete, w_create])
    for op in lost:
        o.fail(op, "lost_write")
    assert o.failed == 3 and o.error_rate == pytest.approx(3 / 4)


def test_outcomes_reject_unknown():
    o = stats.Outcomes()
    op = o.attempt()
    with pytest.raises(ValueError):
        o.fail(op, "nope")
    with pytest.raises(ValueError):
        o.fail(op + 1, "timeout")
    assert stats.Outcomes().error_rate == 0.0


# ------------------------------------------------------------ digests

def test_digest_ignores_row_and_column_order():
    a = digest(["x", "y"], [(1, "a"), (2.5, None)])
    b = digest(["y", "x"], [(None, 2.5), ("a", 1)])
    assert a == b and a[1] == 2
    assert digest(["x", "y"], [(1, "a")]) != digest(["x", "z"], [(1, "a")])
    assert digest(["x"], [(0.0,)]) == digest(["x"], [(-0.0,)])


# ------------------------------------------------------------ smoke

def _run(workload, trace, seconds="2"):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", seconds, "--trace", str(trace),
         "--scale", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _check(result, names):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["correct"] == (result["failed"] == 0)
    assert set(result["metrics"]) == set(names)
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float)) and m["unit"]


def test_smoke_serve_lookup_end_to_end():
    r = _run("serve_lookup", 0)
    _check(r, [m["name"] for m in _spec()["end_to_end"]])
    assert r["correct"]
    assert all(m["value"] > 0 for m in r["metrics"].values())


def test_smoke_mixed_rw_traced():
    r = _run("mixed_rw", 1, seconds="4")
    _check(r, [m["name"] for m in _spec()["per_layer"]])
    assert r["metrics"]["session.set_state_calls_per_write"]["value"] > 0
