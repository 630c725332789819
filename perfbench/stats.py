"""Pure statistics for the ETL-run benchmark: percentiles, the tail-sample
rule and span self time. No third-party imports."""

import math

# Samples that must lie beyond a reported tail percentile.
TAIL_SAMPLES = 10


def percentile(values, q):
    """The q-th percentile (0..100) of values, interpolating linearly between
    the two nearest ranks (the 'inclusive' definition)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n, beyond=TAIL_SAMPLES, step=5):
    """The highest percentile, on a grid of `step`, that leaves at least
    `beyond` of `n` samples above it: n * (1 - q/100) >= beyond. Below
    2 * beyond samples no percentile from the median up qualifies; the median
    is returned then, and callers report how many samples lie beyond it."""
    best = 50
    q = 50
    while q < 100:
        if n * (100 - q) >= beyond * 100:
            best = q
        q += step
    return best


def samples_beyond(n, q):
    """How many of n samples lie above the q-th percentile by rank."""
    return int(math.floor(n * (100 - q) / 100.0 + 1e-9))


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its direct children cover (overlapping children count once).
    `spans` are dicts with id, parent, start_ns and end_ns. Returns
    {id: seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = 0
        cur_lo = cur_hi = None
        kids = sorted(((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                       for c in children.get(s["id"], [])))
        for a, b in kids:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out


def layer_of(span_name):
    """The layer a span belongs to: the part of its name before the first
    dot ('pass', 'orchestrator', 'job', 'commitlog')."""
    return span_name.split(".", 1)[0]


def layer_self_times(spans):
    """Total self time per layer, per pass: {pass: {layer: seconds}}."""
    st = self_times(spans)
    out = {}
    for s in spans:
        per = out.setdefault(s["pass"], {})
        layer = layer_of(s["name"])
        per[layer] = per.get(layer, 0.0) + st[s["id"]]
    return out
