"""Pure metric arithmetic: percentiles, task-interval unions, span self time.

Intervals are (start, end) pairs in one time unit; empty or inverted
intervals count as zero length.
"""
import math
import statistics


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def geomean(values):
    """Geometric mean of positive values."""
    if not values:
        raise ValueError("geomean of no values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_rank(n, target=90, beyond=10):
    """The highest whole percentile <= `target` that leaves at least `beyond`
    samples above its nearest-rank position, floored at the median (50) when
    there are too few samples for any tail."""
    if n <= 0:
        raise ValueError("no samples")
    best = 50
    for p in range(int(target), 49, -1):
        if n - max(1, math.ceil(p / 100.0 * n)) >= beyond:
            best = p
            break
    return best


def tail(values, target=90, beyond=10):
    """(percentile used, its value, sample count) under the tail rule."""
    p = tail_rank(len(values), target, beyond)
    return p, percentile(values, p), len(values)


def clip(intervals, lo, hi):
    """Intervals cut to [lo, hi], dropping the ones left empty."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out


def union_length(intervals):
    """Total length covered by the union of the intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def slot_util(task_intervals, slots, lo, hi):
    """Share of the slot-time in [lo, hi] that tasks kept busy."""
    if hi <= lo or slots <= 0:
        return 0.0
    busy = sum(e - s for s, e in clip(task_intervals, lo, hi))
    return busy / (slots * (hi - lo))


def driver_only(task_intervals, lo, hi):
    """Time in [lo, hi] during which no task was running."""
    if hi <= lo:
        return 0
    return (hi - lo) - union_length(clip(task_intervals, lo, hi))


def slot_util_windows(task_intervals, slots, windows):
    """slot_util over several disjoint windows taken together."""
    total = sum(hi - lo for lo, hi in windows if hi > lo)
    if total <= 0 or slots <= 0:
        return 0.0
    busy = sum(e - s for lo, hi in windows for s, e in clip(task_intervals, lo, hi))
    return busy / (slots * total)


def driver_only_windows(task_intervals, windows):
    """driver_only summed over several disjoint windows."""
    return sum(driver_only(task_intervals, lo, hi) for lo, hi in windows)


def self_time(span, children):
    """A span's duration minus the part covered by its children (each cut to
    the span, overlaps counted once)."""
    s, e = span
    if e <= s:
        return 0
    return (e - s) - union_length(clip(children, s, e))


def assign_parents(spans, parent_layers):
    """Fill in `parent` for spans that lack one: the innermost span of a
    layer in `parent_layers[layer]` that contains it in time, preferring the
    same op. Spans are dicts with id, parent, op, layer, start_us, end_us;
    returns {id: parent_id}."""
    by_layer = {}
    for sp in spans:
        by_layer.setdefault(sp["layer"], []).append(sp)
    parents = {}
    for sp in spans:
        if sp["parent"] != -1:
            parents[sp["id"]] = sp["parent"]
            continue
        best = None
        for layer in parent_layers.get(sp["layer"], ()):
            for c in by_layer.get(layer, ()):
                if c["id"] == sp["id"]:
                    continue
                if c["start_us"] <= sp["start_us"] and sp["end_us"] <= c["end_us"]:
                    same_op = sp["op"] in (-1, c["op"])
                    key = (not same_op, c["end_us"] - c["start_us"])
                    if best is None or key < best[0]:
                        best = (key, c["id"])
        parents[sp["id"]] = best[1] if best else -1
    return parents


def layer_self_times(spans, parents):
    """Sum of self time per layer, a span's children being the spans whose
    parent it is."""
    kids = {}
    for sp in spans:
        p = parents.get(sp["id"], -1)
        if p != -1:
            kids.setdefault(p, []).append((sp["start_us"], sp["end_us"]))
    out = {}
    for sp in spans:
        t = self_time((sp["start_us"], sp["end_us"]), kids.get(sp["id"], []))
        out[sp["layer"]] = out.get(sp["layer"], 0) + t
    return out


def iqr_share(values):
    """Inter-quartile distance as a share of the median (statistics.quantiles
    with n=4, the default exclusive method)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
