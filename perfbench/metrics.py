"""Pure arithmetic of the benchmark: percentiles, intervals, span trees."""
import math
import statistics


def percentile(values, q):
    """Linear-interpolated q-quantile (0 <= q <= 1) of a non-empty list."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    pos = q * (len(v) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail_quantile(n, want, beyond=10):
    """The highest quantile <= `want` with at least `beyond` of `n` samples
    above it, in whole percent; the median when no higher one has."""
    q = math.floor(100 * (1 - beyond / n)) / 100 if n else 0.5
    return max(0.5, min(want, q))


def timing(values, want):
    """Median and tail of a sample: {"p50", "tail", "tail_q", "n"}."""
    q = tail_quantile(len(values), want)
    return {"p50": percentile(values, 0.5), "tail": percentile(values, q),
            "tail_q": q, "n": len(values)}


def union_length(intervals):
    """Total length covered by (start, end) intervals."""
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


def clip(interval, within):
    return (max(interval[0], within[0]), min(interval[1], within[1]))


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover. `spans` are dicts with id, parent, start_us, end_us;
    returns {id: self_us}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        me = (s["start_us"], s["end_us"])
        covered = union_length(clip((c["start_us"], c["end_us"]), me)
                               for c in kids.get(s["id"], []))
        out[s["id"]] = (me[1] - me[0]) - covered
    return out


def layer_self_times(spans):
    """Sum of span self times per layer, in seconds."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0) + st[s["id"]] / 1e6
    return out


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median (statistics.quantiles, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
