"""Arithmetic of the benchmark: percentiles and the rule for how many
samples a percentile needs, self time from nested spans, and core
occupancy."""
import math

# A percentile is only reported when at least this many samples lie
# beyond it; below that, one slow sample moves it.
MIN_BEYOND = 10


def samples_beyond(n, q):
    """Samples strictly beyond the q-quantile of n samples."""
    return int(math.floor(n * (1.0 - q) + 1e-9))


def needed(q):
    """Smallest sample count whose q-quantile has MIN_BEYOND beyond it."""
    n = 1
    while samples_beyond(n, q) < MIN_BEYOND:
        n += 1
    return n


def percentile(values, q):
    """Linear-interpolated q-quantile (numpy's default method)."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    pos = q * (len(s) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(values, q):
    """The q-quantile, refused when fewer than MIN_BEYOND samples lie beyond it."""
    if samples_beyond(len(values), q) < MIN_BEYOND:
        raise ValueError(f"p{round(q * 100)} of {len(values)} samples has "
                         f"{samples_beyond(len(values), q)} beyond it; "
                         f"need {MIN_BEYOND} ({needed(q)} samples)")
    return percentile(values, q)


def median(values):
    return percentile(values, 0.5)


def occupancy(task_s, wall_s, cores):
    """Busy share of the cores: task-seconds / (wall-seconds x cores)."""
    if wall_s <= 0 or cores <= 0:
        raise ValueError("occupancy needs positive wall and cores")
    return task_s / (wall_s * cores)


def union_length(intervals, lo, hi):
    """Length of the union of [start, end) intervals clipped to [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if b <= a:
            continue
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
    """Self time per layer, in the spans' time unit: each span's duration
    minus the part covered by its children (overlapping children, such
    as concurrent stages, count once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        a, b = s["start_us"], s["end_us"]
        own = (b - a) - union_length(kids.get(s["id"], []), a, b)
        out[s["layer"]] = out.get(s["layer"], 0) + own
    return out


def spread(values):
    """Interquartile range as a share of the median, as the acceptance
    rule computes it (statistics.quantiles, exclusive method)."""
    import statistics
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
