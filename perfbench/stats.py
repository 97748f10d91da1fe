"""Summary statistics and layer arithmetic of the benchmark.

Kept free of I/O so the rules the metrics rest on can be tested alone.
"""

import math
import statistics

# A tail percentile is reported only with at least this many samples
# beyond it: p90 needs 100 samples, p99 needs 1000.
MIN_TAIL = 10


def median(xs):
    xs = [x for x in xs if x is not None]
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def geomean(xs):
    if not xs or min(xs) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def extrapolate(small, big, x):
    """The value at `x` of the line through two (size, time) points:
    the fixed cost is the intercept, not zero."""
    (x0, y0), (x1, y1) = small, big
    return y0 + (y1 - y0) * (x - x0) / (x1 - x0)


def percentile(xs, p):
    """Nearest-rank percentile, or None when too few samples back it.

    The median needs one sample. A tail percentile p > 0.5 needs
    MIN_TAIL samples above it, so that a single slow sample cannot
    become the reported tail.
    """
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return None
    if p > 0.5 and n * (1.0 - p) < MIN_TAIL - 1e-9:
        return None
    rank = max(1, math.ceil(p * n))
    return xs[rank - 1]


def layer_table(prefixes, cores):
    """Per-layer times from cumulative prefix runs.

    `prefixes` is an ordered list of (name, walls, task_run_s): the wall
    time of running the pipeline up to and including that layer, one
    sample per round, and the median summed task time of that prefix.
    Rounds run the prefixes round-robin, so a layer's time is the median
    over rounds of the difference to the previous prefix of the same
    round, which cancels drift between rounds; when the rounds agree the
    layers add up to the last prefix. Where that difference lies inside
    its own noise (half its range over the rounds), the layer's added
    task time is reported instead, spread over the prefix's measured
    parallelism (task time per wall second, at most `cores`), and the
    row is marked "stage".
    """
    rows = []
    prev_walls, prev_task = None, 0.0
    for name, walls, task_s in prefixes:
        diffs = [w - p for w, p in zip(walls, prev_walls)] if prev_walls else list(walls)
        diff = median(diffs)
        noise = (max(diffs) - min(diffs)) / 2.0
        if diff > noise:
            rows.append({"layer": name, "s": diff, "source": "prefix"})
        else:
            med = median(walls)
            parallelism = min(cores, task_s / med) if task_s > 0 and med > 0 else 1.0
            rows.append({"layer": name, "s": max(0.0, task_s - prev_task) / parallelism,
                         "source": "stage"})
        prev_walls, prev_task = walls, task_s
    return rows
