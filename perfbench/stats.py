"""The benchmark's own arithmetic: sampling, estimators, percentiles and
span self time. Pure functions, covered by test_stats.py."""
import random
import statistics


def strata(pool, ref, n):
    """Split `pool` into `n` strata of consecutive reference cost.

    Queries are ranked by their reference warm latency (name breaks ties)
    and cut into `n` nearly equal runs, so each stratum holds queries of
    similar cost and every query belongs to exactly one stratum."""
    ranked = sorted(pool, key=lambda q: (ref[q], q))
    n = max(1, min(n, len(ranked)))
    size, extra = divmod(len(ranked), n)
    out, i = [], 0
    for k in range(n):
        j = i + size + (1 if k < extra else 0)
        out.append(ranked[i:j])
        i = j
    return out


def draw(pool, ref, n, seed, passes):
    """The seed's sample and per-pass query orders.

    One query is drawn from each of the `n` strata, then each of the
    `passes` passes gets its own shuffled order. The same seed always gives
    the same sample and orders; any seed can draw any query."""
    rng = random.Random(seed)
    sample = [rng.choice(s) for s in strata(pool, ref, n)]
    orders = []
    for _ in range(passes):
        order = sorted(sample)
        rng.shuffle(order)
        orders.append(order)
    return sample, orders


def speed_ratio(sample_values, sample_ref):
    """How fast the sample ran against its reference: the geometric mean
    of measured over reference, so each sampled query counts the same
    whatever its cost."""
    return statistics.geometric_mean([v / r for v, r in zip(sample_values, sample_ref)])


def tail_level(n, beyond=10, cap=0.9):
    """The highest percentile level (at most `cap`) that leaves at least
    `beyond` of `n` samples above it, or None when `n` is too small."""
    if n < 2 * beyond:
        return None if n <= beyond else (n - beyond) / n
    return min(cap, (n - beyond) / n)


def percentile(values, level):
    """Linear-interpolation percentile at `level` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = level * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def union_length(intervals, lo, hi):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    clipped = [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]
    total, end = 0.0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover.

    Overlapping children (parallel jobs, a trigger inside a job) count
    once; a child reaching outside its parent counts only inside it."""
    start, end = span
    return (end - start) - union_length(children, start, end)
