"""Statistics for the benchmark's raw samples. Pure functions, so the
self-tests in test_bench.py can pin them."""

import hashlib
import math
import statistics

# A high percentile is reported only with at least this many samples
# beyond it; fewer, and it would be one or two outliers.
MIN_BEYOND = 10


def percentile(samples, q):
    """Nearest-rank q-quantile (0 < q < 1) of the samples. Raises
    ValueError unless at least MIN_BEYOND samples lie beyond it."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = max(1, math.ceil(q * n))  # 1-based
    beyond = n - rank
    if beyond < MIN_BEYOND:
        raise ValueError("p%g of %d samples has %d beyond it, needs %d"
                         % (q * 100, n, beyond, MIN_BEYOND))
    return xs[rank - 1]


def spread(values):
    """Distance between the first and third quartile as a share of the
    median — the run-to-run spread the bounds are checked against."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def rows_digest(rows):
    """Order-independent digest of a result: the multiset of rows, each
    row's values in column order. Equal for any row order."""
    acc = 0
    for r in rows:
        h = hashlib.blake2b(repr(tuple(r)).encode(), digest_size=16).digest()
        acc = (acc + int.from_bytes(h, "big")) % (1 << 128)
    return "%032x:%d" % (acc, len(rows))


def batch_latencies(sent, progress):
    """Open-loop latency of each generator batch: from its DUE time (not the
    moment it was actually sent, which a stalled generator delays) to the
    first moment every query had completed a micro-batch covering its
    offset. `sent`: [{"due_ns", "send_ns", "offset": {query: offset}}];
    `progress`: [{"query", "end_offset", "done_ns"}]. A batch no query
    ever covered is missing from the result."""
    done = {}
    for p in progress:
        done.setdefault(p["query"], []).append((p["end_offset"], p["done_ns"]))
    out = []
    for b in sent:
        t = 0
        for q, off in b["offset"].items():
            covering = [ns for end, ns in done.get(q, []) if end >= off]
            if not covering:
                t = None
                break
            t = max(t, min(covering))
        if t is not None:
            out.append((t - b["due_ns"]) / 1e9)
    return out


def max_backlog(sent, latencies):
    """Largest number of generator batches that were due but not yet
    complete at any batch's due time."""
    ends = [b["due_ns"] + int(s * 1e9) for b, s in zip(sent, latencies)]
    return max((sum(1 for j in range(i + 1) if ends[j] > sent[i]["due_ns"])
                for i in range(len(ends))), default=0)
