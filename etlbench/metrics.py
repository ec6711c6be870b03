"""Arithmetic on the raw samples a run records: percentiles, layer self
times from cumulative prefixes, driver idle time and failure shares."""
import statistics

TAIL_PERCENTILE = 90


def median(xs):
    return statistics.median(xs)


def percentile(xs, p):
    """Linear-interpolated percentile (the inclusive method)."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs, p=TAIL_PERCENTILE):
    """(value, label, samples strictly beyond the value) for the fixed tail
    percentile. The percentile is fixed so that a faster program, which
    fits more ops in a run, is compared at the same percentile."""
    v = percentile(xs, p)
    return v, f"p{p}", sum(1 for x in xs if x > v)


def highest_percentile_with(n, beyond=10):
    """The highest whole percentile that has at least `beyond` of `n`
    samples above it, or None when n is too small for any."""
    if n <= beyond:
        return None
    return (100 * (n - beyond)) // n


def self_times(prefix_medians):
    """Self time of each layer from the medians of cumulative prefixes:
    each prefix minus the one before it, the first one as is."""
    out, prev = [], 0.0
    for m in prefix_medians:
        out.append(m - prev)
        prev = m
    return out


def busy_union(start, end, intervals):
    """Length of [start, end] covered by at least one interval."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(start, end, intervals):
    """Time in [start, end] during which no task ran."""
    return (end - start) - busy_union(start, end, intervals)


def core_util(task_s, wall_s, cores):
    return task_s / (wall_s * cores)


def failed_frac(failed_ops, failed_checks, attempted):
    return (failed_ops + failed_checks) / attempted

