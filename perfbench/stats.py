"""Metric arithmetic shared by run.py and the tests: the percentile rule and
the assembly of end-to-end and per-layer metrics from the JVM's result."""
import math
import statistics

MIN_BEYOND = 10   # a reported percentile needs at least this many samples above it


def tail_percentile(n, wanted=90.0):
    """The highest percentile <= `wanted` that has at least MIN_BEYOND samples
    beyond it, or None when the sample is too small for any (n < 2*MIN_BEYOND
    gives no percentile at or above the median)."""
    if n <= 0:
        return None
    best = 100.0 * (1.0 - MIN_BEYOND / n)
    if best < 50.0:
        return None
    return min(wanted, best)


def percentile(values, pct):
    """Linear-interpolated percentile of `values` (pct in [0, 100])."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * pct / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values, wanted=90.0):
    """(value, percentile used, sample count). Too few samples for the rule:
    the median stands in, reported with percentile 50."""
    n = len(values)
    p = tail_percentile(n, wanted)
    if p is None:
        p = 50.0
    return percentile(values, p), p, n


def window_metrics(win, primary, latency_of="op"):
    """Latency/throughput metrics of one window: only ops (or complete
    rounds, when latency_of is "round") that succeeded and passed their
    checks are samples; throughput counts the items of successful primary
    ops over the window's wall time."""
    ops = win["ops"]
    prim = [o for o in ops if o["kind"] == primary]
    rounds = [r["s"] for r in win["rounds"] if r["ok"]]
    ok = rounds if latency_of == "round" else [o["s"] for o in prim if o["ok"]]
    wall = win["wall_s"]
    items = sum(o["items"] for o in prim if o["ok"])
    p90, pct, n = tail(ok) if ok else (float("nan"), 50.0, 0)
    return {
        "op_p50_s": statistics.median(ok) if ok else float("nan"),
        "op_p90_s": p90,
        "_round_p50_s": statistics.median(rounds) if rounds else 0.0,
        "items_per_s": items / wall if wall > 0 else float("nan"),
        "_samples": n,
        "_tail_pct": pct,
        "_attempted": len(ops),
        "_failed": sum(1 for o in ops if not o["ok"]),
        "_round_samples": len(rounds),
    }


def matched_ratio(traced_ops, untraced_ops):
    """Tracing overhead on latency: the geometric mean, over op names timed
    in both windows, of mean traced latency / mean untraced latency. Matching
    by name keeps a different mix of heterogeneous ops out of the ratio."""
    def means(ops):
        by = {}
        for o in ops:
            if o["ok"]:
                by.setdefault(o["name"], []).append(o["s"])
        return {k: sum(v) / len(v) for k, v in by.items()}
    t, u = means(traced_ops), means(untraced_ops)
    common = [k for k in t if k in u and u[k] > 0]
    if not common:
        return float("nan")
    return math.exp(sum(math.log(t[k] / u[k]) for k in common) / len(common))
