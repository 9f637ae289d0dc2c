"""Summary statistics shared by run.py and aa.py."""
import statistics

# percentiles considered for a timing's tail, highest first
TAILS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, q3) as statistics.quantiles(n=4) gives them; one sample -> itself."""
    if len(xs) < 2:
        return (xs[0], xs[0])
    q = statistics.quantiles(xs, n=4)
    return (q[0], q[2])


def percentile(xs, p):
    """Linear interpolation between closest ranks (inclusive method)."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n):
    """The highest percentile with at least ten samples beyond it, or None."""
    for p in TAILS:
        if n * (1000 - round(p * 10)) >= 10 * 1000:  # in tenths, exact
            return p
    return None


def summary(xs):
    q1, q3 = quartiles(xs)
    tail = tail_percentile(len(xs))
    return {"n": len(xs), "median": median(xs), "q1": q1, "q3": q3,
            "p90": percentile(xs, 90.0), "tail_percentile": tail,
            "tail": percentile(xs, tail) if tail else None}


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q3 = quartiles(xs)
    m = median(xs)
    return (q3 - q1) / abs(m) if m else float("inf")
