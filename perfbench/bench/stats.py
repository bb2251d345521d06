"""Statistics shared by the workloads: the percentile rule, span self time
and the open-loop accounting. Pure functions, unit-tested in tests/."""
import math


def quantile(values, q):
    """Linear-interpolated quantile of `values` (q in [0, 1])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(n, want=0.9, beyond=10):
    """The highest percentile level, at most `want`, that leaves at least
    `beyond` samples above it out of `n`; never below the median."""
    if n <= 0:
        raise ValueError("no samples")
    return max(0.5, min(want, 1.0 - beyond / n))


def summary(values, want=0.9, beyond=10):
    """Median and tail of `values`, with the level actually used and the
    sample count: the tail is the `want` percentile when at least `beyond`
    samples lie beyond it, else the highest level that has them."""
    level = tail_level(len(values), want, beyond)
    return {"n": len(values), "p50": quantile(values, 0.5),
            "tail": quantile(values, level), "tail_level": level}


def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) pairs."""
    total = 0
    cur_s = cur_e = None
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


def self_times(spans):
    """Self time per span id: its duration minus the part of it covered by
    its children (clipped to the parent, overlaps counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        covered = union_length(
            (max(a, c["start_ns"]), min(b, c["end_ns"]))
            for c in kids.get(s["id"], []))
        out[s["id"]] = max(0, (b - a) - covered)
    return out


def self_time_by_layer(spans):
    """Sum of span self time per layer, in seconds."""
    st = self_times(spans)
    layers = {}
    for s in spans:
        layers[s["layer"]] = layers.get(s["layer"], 0.0) + st[s["id"]] / 1e9
    return layers


def open_loop_latency(due_ns, done_ns):
    """Latency of one open-loop operation, measured from when it was due,
    not from when it was sent: a generator that falls behind cannot hide
    the wait it was made to take (coordinated omission)."""
    return done_ns - due_ns


def lateness(due_ns, sent_ns):
    """How late the generator sent an operation (0 when on time)."""
    return max(0, sent_ns - due_ns)
