"""Pure arithmetic behind the benchmark's metrics (unit-tested in
test_perfbench.py): the tail-percentile rule, interval unions, span self
time and the driver gap."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples, min_beyond=10):
    """The highest integer percentile p (50 <= p <= 99) whose nearest-rank
    value still has at least `min_beyond` samples above its rank.

    Returns (value, p, n). With fewer than 2 * min_beyond samples no such
    p exists and the median is returned with p = 50.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 50, 0
    best = 50
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)  # 1-based nearest rank
        if n - rank >= min_beyond:
            best = p
            break
    if best == 50:
        return median(xs), 50, n
    return xs[math.ceil(best * n / 100) - 1], best, n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by [a, b] intervals, optionally clipped to
    [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time per span: its duration minus the part of it its children
    cover. `spans` maps id -> (layer, start, end, parent_id or None).
    Returns {layer: total self time}."""
    children = {}
    for sid, (_, a, b, parent) in spans.items():
        if parent is not None:
            children.setdefault(parent, []).append((a, b))
    out = {}
    for sid, (layer, a, b, _) in spans.items():
        covered = union_length(children.get(sid, []), a, b)
        out[layer] = out.get(layer, 0.0) + (b - a) - covered
    return out


def driver_gap(action, jobs):
    """The action's wall time minus the union of its job spans."""
    a, b = action
    return (b - a) - union_length(jobs, a, b)

