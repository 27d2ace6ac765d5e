"""Statistics the benchmark reports, kept apart from the harness so the
self-tests in test_stats.py can pin them down."""
import math

# A percentile is supported when at least this many samples lie beyond it.
MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank percentile, 0 < q < 1: the smallest sample with at
    least a share q of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def weighted_percentile(pairs, q):
    """Nearest-rank percentile over (value, count) pairs."""
    pairs = sorted(pairs)
    total = sum(c for _, c in pairs)
    if total <= 0:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q * total))
    seen = 0
    for value, count in pairs:
        seen += count
        if seen >= rank:
            return value
    return pairs[-1][0]


def beyond(n, q):
    """Samples that lie beyond the nearest-rank q-percentile of n."""
    return n - max(1, math.ceil(q * n))


def supported(n, q):
    return beyond(n, q) >= MIN_BEYOND


def covered(interval, children):
    """Length of `interval` covered by the union of `children`, each
    clipped to it; intervals are (start, end) pairs."""
    lo, hi = interval
    clipped = sorted((max(lo, s), min(hi, e)) for s, e in children if e > lo and s < hi)
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, spans):
    """A span's duration minus the part of it its child spans cover."""
    children = [(c["start"], c["end"]) for c in spans if c["parent"] == span["id"]]
    return (span["end"] - span["start"]) - covered((span["start"], span["end"]), children)


def failed_ratio(failed, attempted):
    """Failed or mismatched operations over operations attempted; a run
    that attempted nothing has failed outright."""
    if attempted <= 0:
        return 1.0
    return failed / attempted


def overhead_ratio(add_batch_ms, trigger_ms):
    """Share of trigger time not spent in addBatch (the sink's work):
    1 - sum(addBatch) / sum(triggerExecution); 0 with no triggers."""
    total = sum(trigger_ms)
    if total <= 0:
        return 0.0
    return 1.0 - sum(add_batch_ms) / total
