"""Statistics the benchmark reports: supported percentiles, span self time,
backlog growth and the sustained-rate decision on the stream ladder."""
import math
from statistics import median

# A percentile is reported only when at least this many samples lie
# beyond it, so one outlier cannot set it.
MIN_BEYOND = 10


def min_samples(q):
    """Fewest samples for which percentile `q` (0..1) is supported."""
    return math.ceil(round(MIN_BEYOND / (1.0 - q), 9)) if q < 1 else math.inf


def percentile(values, q):
    """Nearest-rank percentile `q` of `values`; ValueError when fewer than
    MIN_BEYOND samples lie beyond it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = max(1, math.ceil(round(q * n, 9)))
    if n - rank < MIN_BEYOND:
        raise ValueError(f"p{q * 100:g} needs {min_samples(q)} samples, have {n}")
    return xs[rank - 1]


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its child spans cover (overlapping children counted once).
    `spans` are dicts with id, parent, start_ns and end_ns."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in sorted((max(c["start_ns"], lo), min(c["end_ns"], hi))
                           for c in children.get(s["id"], [])):
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
        out[s["id"]] = (hi - lo) - covered
    return out


def backlog_grows(latencies_ms):
    """True when the backlog of a rung grows. An event's latency is the
    backlog it finds, in time: the wait for everything due before it to be
    committed. Under a sustainable rate it stays flat over the rung; above
    it, it climbs for as long as the rung lasts. So the backlog grows when
    the median latency of the rung's last third of events (in due order)
    exceeds that of its first third by a quarter plus half a second."""
    n = len(latencies_ms)
    if n < 3:
        return False
    third = n // 3
    first = median(latencies_ms[:third])
    last = median(latencies_ms[-third:])
    return last > 1.25 * first + 500.0


def sustained(rungs, limit_ms):
    """The highest-rate rung whose backlog does not grow and whose p99
    latency meets `limit_ms`, or None. Each rung is a dict with rate,
    p99_ms (None when unsupported) and grows."""
    ok = [r for r in rungs
          if not r["grows"] and r["p99_ms"] is not None and r["p99_ms"] <= limit_ms]
    return max(ok, key=lambda r: r["rate"]) if ok else None
