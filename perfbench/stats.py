"""The tail-latency rule shared by the runner and its tests."""
TAIL_BEYOND = 10


def tail(xs, beyond=TAIL_BEYOND):
    """The highest percentile of `xs` that has at least `beyond` samples
    above it: the (beyond+1)-th largest sample. Returns (value, percentile,
    samples) or None when there are too few samples to name a tail."""
    n = len(xs)
    if n <= beyond:
        return None
    s = sorted(xs)
    i = n - 1 - beyond
    pct = 100.0 * i / (n - 1) if n > 1 else 0.0
    return s[i], pct, n

