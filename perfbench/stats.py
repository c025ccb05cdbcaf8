"""The benchmark's arithmetic: percentiles, self time and failure
accounting. Pure functions, no I/O, so the tests can pin them down."""

from __future__ import annotations

import math
import statistics

#: a reported tail percentile keeps at least this many samples above it
TAIL_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs) - 1e-9))
    return xs[rank - 1]


def tail_pct(n: int, want: float = 95.0, beyond: int = TAIL_BEYOND) -> float:
    """The highest percentile, at most ``want``, that leaves at least
    ``beyond`` of ``n`` samples above it. Never below the median: with
    fewer than ``2 * beyond`` samples the tail is the median."""
    if n <= 0:
        raise ValueError("tail of no samples")
    return max(50.0, min(want, 100.0 * (n - beyond) / n))


def tail(values, want: float = 95.0) -> tuple[float, float]:
    """(value, percentile used) of the tail percentile of ``values``."""
    p = tail_pct(len(values), want)
    return percentile(values, p), p


def median(values) -> float:
    return statistics.median(values)


def median_rate(t_start: float, t_done, chunks: int) -> float:
    """Median rate of a run of completions: the completions (times
    ``t_done`` after ``t_start``) are cut, in time order, into
    ``chunks`` runs of equal count (at most one per completion), each
    run's rate is its count over the time since the previous run ended,
    and the median of those rates is returned. A stall that slows a few
    runs leaves it where it was."""
    ts = sorted(t_done)
    if not ts:
        raise ValueError("rate of no completions")
    k = max(1, min(chunks, len(ts)))
    ends = [round(len(ts) * (i + 1) / k) for i in range(k)]
    rates, n0, t0 = [], 0, t_start
    for n1 in ends:
        t1 = ts[n1 - 1]
        rates.append((n1 - n0) / (t1 - t0) if t1 > t0 else math.inf)
        n0, t0 = n1, t1
    return median(rates)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """Self time of each span: its duration minus the part of its
    interval that its children cover (children clipped to the parent,
    overlapping children counted once).

    ``spans`` are dicts with ``id``, ``parent``, ``t0`` and ``t1``;
    returns ``{span id: self seconds}``."""
    by_id = {s["id"]: s for s in spans}
    kids: dict = {}
    for s in spans:
        if s["parent"] in by_id:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        t0, t1 = s["t0"], s["t1"]
        covered = union_length(
            (max(c["t0"], t0), min(c["t1"], t1))
            for c in kids.get(s["id"], ())
            if c["t1"] > t0 and c["t0"] < t1
        )
        out[s["id"]] = max(0.0, (t1 - t0) - covered)
    return out


class Outcomes:
    """Per-operation failure accounting.

    An operation fails when any check on it fails; each failed
    operation counts once in ``error_rate`` however many checks it
    failed. Failure kinds are tallied separately so a report can tell
    an HTTP error from a wrong answer or a lost write."""

    KINDS = ("transport", "timeout", "http_status", "wrong_answer",
             "ryw_miss", "lost_write")

    def __init__(self):
        self.attempted = 0
        self._failed: set = set()
        self.kinds = {k: 0 for k in self.KINDS}

    def attempt(self) -> int:
        """Register one operation; returns its id."""
        self.attempted += 1
        return self.attempted

    def fail(self, op_id: int, kind: str):
        if kind not in self.kinds:
            raise ValueError(f"unknown failure kind {kind!r}")
        if not 1 <= op_id <= self.attempted:
            raise ValueError(f"unknown operation {op_id}")
        self.kinds[kind] += 1
        self._failed.add(op_id)

    @property
    def failed(self) -> int:
        return len(self._failed)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def reconcile(expected: dict, actual: dict) -> list:
    """Writes lost by the final state. ``expected`` maps each node id
    to ``(value, write op id)`` as a successful read-back last showed
    it (value ``None``: the node was deleted); ``actual`` maps the node
    ids found at the end to their values. Returns the op ids of the
    writes whose effect did not last."""
    return [op_id for node, (value, op_id) in expected.items()
            if actual.get(node) != value]
