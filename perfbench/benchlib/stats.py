"""Order statistics used for every reported figure."""
import math
import statistics


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank p-th percentile (0 < p <= 100) of a non-empty sample."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n, candidates=(99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least ten samples beyond it
    in a sample of `n`, or None when even the median has fewer."""
    for p in candidates:
        if n * (100 - p) >= 1000:
            return p
    return None


def drift(xs):
    """Median of the last third over median of the first third (1.0 = no
    drift); 1.0 when there are fewer than three samples."""
    third = len(xs) // 3
    if third == 0:
        return 1.0
    first, last = median(xs[:third]), median(xs[-third:])
    return last / first if first else 1.0
