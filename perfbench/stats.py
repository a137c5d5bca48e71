"""Arithmetic the benchmark reports with: percentiles and span self time."""


def percentile(values, q):
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty sample,
    the same definition as numpy's default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def self_times(spans):
    """Self time of every span: its duration minus the part of that interval
    its direct children cover (overlapping children count once).

    `spans` are dicts with id, parent, start_ns, end_ns; returns {id: ns}.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ns"], s["end_ns"]
        covered = 0
        cursor = start
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], cursor), min(c["end_ns"], end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = (end - start) - covered
    return out


def self_time_by_name(spans):
    """Total self time per span name, in nanoseconds."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0) + st[s["id"]]
    return out
