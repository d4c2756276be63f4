"""Sample statistics and operation accounting shared by the workloads.

A failed or uncommitted operation enters a latency sample as +inf, so it
misses every latency limit; printed results replace a non-finite value
with FAILED_LATENCY_S.
"""

import math

FAILED_LATENCY_S = 1e9


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it. None for an empty sample."""
    if not values:
        return None
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def median(values):
    return percentile(values, 50.0)


def closed_loop(ops):
    """Accounting for a closed-loop client. `ops` holds one dict per call
    with `ok` and `wall_s`. Returns (latencies_s, n_failed): every call's
    wall time, with +inf for each call that failed."""
    lat = [o["wall_s"] if o["ok"] else math.inf for o in ops]
    return lat, sum(1 for o in ops if not o["ok"])


def family_mean(samples):
    """Mean latency with every kind weighted equally: the mean of each
    kind's mean over (kind, seconds) samples, so a run that happens to
    end on a slow kind does not shift it. None for no samples."""
    kinds = {}
    for k, v in samples:
        kinds.setdefault(k, []).append(v)
    if not kinds:
        return None
    return sum(sum(v) / len(v) for v in kinds.values()) / len(kinds)


def finite(x):
    """A printable value: None -> 0.0, +inf -> FAILED_LATENCY_S."""
    if x is None:
        return 0.0
    return FAILED_LATENCY_S if math.isinf(x) else float(x)


def failure_ratio(attempted, failed):
    return failed / attempted if attempted else 0.0


def open_loop(files):
    """Accounting for an open-loop phase. `files` holds one dict per
    offered item with `due_ms`, `drop_ms` and `commit_ms` (-1 when the
    item was never committed). Latency runs from when the item was DUE,
    so a stalled generator or consumer charges every later item.

    Returns (latencies_s, lateness_s, n_failed, backlog_max): latencies
    with +inf for uncommitted items, how late the generator dropped each
    item, the uncommitted count, and the most items offered but not yet
    committed at any drop."""
    lat, late = [], []
    failed = 0
    for f in files:
        late.append(max(0.0, (f["drop_ms"] - f["due_ms"]) / 1e3))
        if f["commit_ms"] < 0:
            failed += 1
            lat.append(math.inf)
        else:
            lat.append((f["commit_ms"] - f["due_ms"]) / 1e3)
    commits = sorted(f["commit_ms"] for f in files if f["commit_ms"] >= 0)
    backlog_max = 0
    for i, f in enumerate(sorted(files, key=lambda f: f["drop_ms"])):
        done = sum(1 for c in commits if c <= f["drop_ms"])
        backlog_max = max(backlog_max, i + 1 - done)
    return lat, late, failed, backlog_max
