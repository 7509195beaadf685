"""The benchmark's arithmetic over raw samples: percentiles, open-loop
latency, sustainable-rate decisions and span self time. Kept free of
I/O so that `test_stats.py` can check each rule on hand-made inputs.
"""
import math

# A tail percentile is reported only when at least this many samples
# lie beyond it.
MIN_BEYOND = 10
CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p % of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def highest_percentile(n, candidates=CANDIDATES, beyond=MIN_BEYOND):
    """The highest candidate percentile with at least `beyond` of the n
    samples above it, or None when even the median has fewer."""
    for p in candidates:
        if n * (100.0 - p) / 100.0 >= beyond - 1e-9:
            return p
    return None


def latency(values, want=None):
    """Median plus the tail percentile the sample count allows.

    With `want` (say 90.0) the tail is that percentile if the rule
    allows it, else the highest one it does allow; `tail_p` says which
    was taken and `n` how many samples there were."""
    n = len(values)
    out = {"n": n, "p50": median(values) if n else None,
           "tail_p": None, "tail": None}
    top = highest_percentile(n)
    if top is not None:
        p = want if want is not None and want <= top else top
        out["tail_p"] = p
        out["tail"] = percentile(values, p)
    return out


def decision_tail(values, want):
    """The tail a pass/fail decision uses: the wanted percentile if the
    sample count allows it, else the highest allowed one, else (fewer
    than 20 samples) the maximum."""
    if not values:
        return None
    s = latency(values, want)
    return s["tail"] if s["tail"] is not None else max(values)


def open_loop(due, end, released):
    """Per-operation latency measured from its due time (so queueing
    before the send counts), and how late the generator released it."""
    lat = [e - d for d, e in zip(due, end)]
    late = [r - d for d, r in zip(due, released)]
    return lat, late


def backlog_growing(samples, rate_per_s, limit_ms):
    """True when the backlog (arrived but not yet served) in the last
    quarter of a step exceeds that of the first quarter by more than
    half of what arrives within the latency limit. `samples` are
    (time_ms, backlog) pairs in time order."""
    if len(samples) < 4:
        return False
    q = max(1, len(samples) // 4)
    first = median([b for _, b in samples[:q]])
    last = median([b for _, b in samples[-q:]])
    return last - first > max(1.0, rate_per_s * limit_ms / 1000.0 / 2.0)


def sustainable(tail_ms, limit_ms, growing, aborted=False):
    return (tail_ms is not None and tail_ms <= limit_ms
            and not growing and not aborted)


def max_sustainable(steps):
    """Highest rate of `steps` [(rate, ok), ...] (ascending) that passes,
    counting only steps below the first failure; 0 if none passes."""
    best = 0.0
    for rate, ok in steps:
        if not ok:
            break
        best = rate
    return best


def self_times(spans):
    """Span self time: duration minus the time covered by its direct
    children. `spans` are (id, parent, name, start, end) tuples; the
    result maps id -> self ms."""
    children = {}
    for sid, parent, _name, start, end in spans:
        children.setdefault(parent, []).append((start, end))
    out = {}
    for sid, _parent, _name, start, end in spans:
        covered = 0.0
        last = start
        for cs, ce in sorted(children.get(sid, [])):
            cs, ce = max(cs, last), min(ce, end)
            if ce > cs:
                covered += ce - cs
                last = ce
        out[sid] = (end - start) - covered
    return out


def union_ms(intervals, lo, hi):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spread(values):
    """Interquartile range over the median (statistics.quantiles, n=4)."""
    import statistics
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def failed_ops(failures, attempted):
    """Operations a run's failures cover. Each failure says how many it
    covers (`ops`: one request, the messages a count missed, the rows of
    a failed replay); an operation that failed several checks counts
    once, and a failure that covers none (a figure that could not be
    measured) still counts one."""
    if not failures:
        return 0
    covered = {}
    for f in failures:
        covered[f["op"]] = max(covered.get(f["op"], 0), f.get("ops", 1))
    return min(max(1, sum(covered.values())), attempted)
