"""Statistics the benchmark reports. Pure functions, tested by test_stats.py."""
import math
import statistics


def percentile(values, q):
    """The q-th percentile (0 < q < 100) by the nearest-rank rule, and the
    number of samples strictly beyond that rank. Reported tails must have
    at least 10 samples beyond them (see `tail_ok`)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1], len(xs) - rank


def tail_ok(values, q, beyond=10):
    """True when the q-th percentile of `values` has at least `beyond`
    samples above its rank."""
    return bool(values) and percentile(values, q)[1] >= beyond


def median(values):
    return statistics.median(values)


def quartile_spread(values):
    """(q1, median, q3, (q3 - q1) / median), quartiles as
    statistics.quantiles(values, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def backlog_holds(start_backlog, end_backlog, rate, tolerance_s):
    """No-growing-backlog rule for one ladder step: the unconsumed input at
    the end of the step may exceed that at its start by at most
    `tolerance_s` seconds of input at the step's rate."""
    return end_backlog - start_backlog <= tolerance_s * rate


def sustained_rate(steps, tolerance_s):
    """Highest rate of an ascending ladder whose step, and every step below
    it, held its backlog. `steps` is [(rate, start_backlog, end_backlog)]
    in ladder order. Returns 0 when even the first step fell behind."""
    best = 0
    for rate, start, end in steps:
        if not backlog_holds(start, end, rate, tolerance_s):
            break
        best = rate
    return best


def self_times(spans):
    """Per-layer self time in seconds: each span's duration minus the part of
    its interval covered by its children (overlapping children counted once).

    `spans` is a list of dicts with id, parent, layer, start_ns, end_ns."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0
        cur_start = cur_end = None
        kids = sorted(((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                       for c in children.get(s["id"], [])), key=lambda iv: iv[0])
        for a, b in kids:
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        own = (s["end_ns"] - s["start_ns"]) - covered
        out[s["layer"]] = out.get(s["layer"], 0.0) + own / 1e9
    return out
