"""Statistics the benchmark reports: medians, the tail percentile rule and
per-layer self time from spans."""


def median(values):
    s = sorted(values)
    if not s:
        raise ValueError("median of no values")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def tail(values, beyond=10):
    """The highest percentile that still has at least `beyond` samples above
    it: with n sorted samples that is the value at rank n - beyond - 1, the
    (n - beyond) / n percentile. Returns (value, percentile, n). With fewer
    than beyond + 1 samples no percentile qualifies; the maximum is returned
    with percentile 100 so the caller can see the sample was too small."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no values")
    if n <= beyond:
        return s[-1], 100.0, n
    return s[n - beyond - 1], 100.0 * (n - beyond) / n, n


def union_length(intervals):
    """Total length covered by (start, end) intervals."""
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


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover (children clipped to the parent, overlaps
    counted once). `spans` are dicts with id, parent, start and end; a
    child names its parent by id. Returns {id: self time}."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        covered = union_length(
            (max(s, c["start"]), min(e, c["end"]))
            for c in children.get(sp["id"], []) if c["start"] < e and c["end"] > s)
        out[sp["id"]] = (e - s) - covered
    return out


def layer_self_times(spans):
    """Sum of span self times per layer."""
    st = self_times(spans)
    out = {}
    for sp in spans:
        out[sp["layer"]] = out.get(sp["layer"], 0) + st[sp["id"]]
    return out
