"""Statistics and trace arithmetic of the benchmark, kept free of I/O so
that perfbench/tests can check them directly."""

import math
import statistics


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least a share
    `q` of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q * len(ordered)))
    return ordered[rank - 1]


def samples_beyond(n, q):
    """How many of `n` samples lie above the nearest-rank `q` percentile."""
    return n - max(1, math.ceil(q * n))


def geomean(values):
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def row_geomean(latencies_by_row):
    """Geometric mean over rows of each row's mean latency, so a light row
    weighs as much as a heavy one. The mean, not the median: on a host that
    alternates between fast and slow phases a row's latencies are bimodal,
    and its median flips between the modes from run to run."""
    return geomean([statistics.fmean(v) for v in latencies_by_row.values() if v])


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, reach = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= reach:
            continue
        total += e - max(s, reach)
        reach = e
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval its children cover.
    Spans are (start, end) pairs."""
    start, end = span
    return (end - start) - covered(children, start, end)


def split_jobs(owners, jobs, requests, slack=0):
    """Attribute Spark jobs to the request phase that started them.

    `owners` maps a span id (as the job's local property carries it) to
    'construct' or 'execute'; `jobs` is a list of (owner, start) pairs as
    the listener saw them; `requests` the (start, end) intervals of the
    traced requests. Returns (construct, execute, seen): the jobs owned by
    construct and by execute spans, and every job the listener saw start
    inside a traced request, widened by `slack` on both sides because
    Spark stamps jobs in whole milliseconds. construct + execute == seen
    holds when no job escaped attribution."""
    construct = execute = seen = 0
    for owner, start in jobs:
        phase = owners.get(owner)
        if phase == "construct":
            construct += 1
        elif phase == "execute":
            execute += 1
        if any(s - slack <= start <= e + slack for s, e in requests):
            seen += 1
    return construct, execute, seen
