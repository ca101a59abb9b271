"""Metric math for perfbench: percentiles, span self time, Spark job
attribution. Pure functions over the raw figures the benchmark JVM writes;
`selfcheck()` pins the rules on tiny hand-made inputs."""

import math


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a share
    `q` of the samples at or below it (p50 of 1..10 is 5, p90 is 9)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(1, math.ceil(q * len(s)))
    return s[k - 1]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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


def clip(intervals, start, end):
    """The parts of `intervals` that fall inside [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_times(spans):
    """Self time of every span: its duration minus the time its child
    spans cover (children clipped to the parent, overlaps counted once).
    `spans` are dicts with id, parent, start, end; returns {id: self time}
    in the spans' own time unit."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(clip(children.get(s["id"], []), s["start"], s["end"]))
        for s in spans
    }


def innermost_span(spans, t):
    """The deepest span containing instant `t` (None when outside all)."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def gap_time(span, job_intervals):
    """Spark-driver time of a span: its duration minus the union of the job
    intervals inside it."""
    return (span["end"] - span["start"]) - union_length(
        clip(job_intervals, span["start"], span["end"]))


def selfcheck():
    assert percentile([3, 1, 2], 0.5) == 2
    assert percentile(list(range(1, 11)), 0.5) == 5
    assert percentile(list(range(1, 11)), 0.9) == 9
    assert percentile(list(range(1, 101)), 0.9) == 90
    assert percentile([7.0], 0.9) == 7.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert clip([(0, 4), (6, 9), (10, 12)], 2, 8) == [(2, 4), (6, 8)]
    spans = [
        {"id": 1, "parent": 0, "start": 0, "end": 10},
        {"id": 2, "parent": 1, "start": 1, "end": 4},
        {"id": 3, "parent": 1, "start": 3, "end": 6},
        {"id": 4, "parent": 2, "start": 2, "end": 3},
        {"id": 5, "parent": 1, "start": 9, "end": 12},
    ]
    st = self_times(spans)
    # span 1 loses [1,6] and [9,10] to its children; span 2 loses [2,3]
    assert st == {1: 4, 2: 2, 3: 3, 4: 1, 5: 3}, st
    assert innermost_span(spans, 2.5)["id"] == 4
    assert innermost_span(spans, 13) is None
    assert gap_time(spans[0], [(2, 5), (4, 7), (11, 20)]) == 5
    return True
