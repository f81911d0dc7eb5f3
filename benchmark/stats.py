"""Statistics the benchmark reports: medians, the sample-count tail rule,
and attribution of stream lag to micro-batches."""

import bisect


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile): the sample with exactly `beyond` samples
    ranked above it, and its nearest-rank percentile 100 * (n - beyond) / n.
    None when there are too few samples for any such percentile."""
    n = len(xs)
    if n <= beyond:
        return None
    s = sorted(xs)
    return s[n - beyond - 1], 100.0 * (n - beyond) / n


def attribute_lags(files, batches):
    """Lag of each dropped file, in seconds, or None if no batch took it.

    `files` are (due_ms, written_ms); `batches` are (start_ms, end_ms) of
    micro-batches that read input, from the stream's progress events. A
    file is ingested by the first batch that started at or after it was
    written (never before it was due), and its lag runs from when it was
    due, not when it was written, to that batch's end: a generator that
    falls behind still charges the wait to the system."""
    ordered = sorted(batches)
    starts = [b[0] for b in ordered]
    lags = []
    for due, written in files:
        i = bisect.bisect_left(starts, max(due, written))
        lags.append(None if i == len(ordered) else (ordered[i][1] - due) / 1000.0)
    return lags
