"""Statistics for the benchmark's end-to-end metrics.

Latency percentiles follow the ten-beyond rule: a run reports the median
and the highest percentile that still has at least ten samples beyond it.
Open-loop lag is measured from each generator batch's due time to the
commit of the micro-batch that holds it.
"""

TAIL_LEVELS = (99, 95, 90, 75, 50)  # percent
BEYOND = 10


def quantile(xs, q):
    """Linear-interpolation quantile of `xs` (0 <= q <= 1)."""
    s = sorted(xs)
    if not s:
        raise ValueError("quantile of no samples")
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs):
    return quantile(xs, 0.5)


def tail_level(n):
    """Highest level in TAIL_LEVELS with at least BEYOND of `n` samples
    above it, or None when even the median has fewer."""
    for pct in TAIL_LEVELS:
        if n * (100 - pct) >= BEYOND * 100:
            return pct / 100.0
    return None


def tail(xs):
    """(level, value): the ten-beyond tail of `xs`; a sample too small for
    any level supports no tail, and gives the median."""
    q = tail_level(len(xs)) or 0.5
    return q, quantile(xs, q)


def lag_accounting(generator, micro_batches):
    """Open-loop accounting for one run.

    generator: [{"offset", "due_ms", "added_ms"}], one per generator batch.
    micro_batches: [{"start_offset", "end_offset", "commit_ms"}]; a
    micro-batch holds the generator batches with start < offset <= end.

    Returns lags in seconds for committed batches, the number never
    committed, the largest number of batches added but not yet committed
    at any add, and the largest generator lateness in seconds."""
    commits = []
    for g in generator:
        c = None
        for mb in micro_batches:
            if mb["start_offset"] < g["offset"] <= mb["end_offset"]:
                c = mb["commit_ms"]
                break
        commits.append(c)
    lags = [(c - g["due_ms"]) / 1000.0
            for g, c in zip(generator, commits) if c is not None]
    missing = sum(1 for c in commits if c is None)
    backlog_max = 0
    for i, g in enumerate(generator):
        done = sum(1 for c in commits[: i + 1]
                   if c is not None and c <= g["added_ms"])
        backlog_max = max(backlog_max, i + 1 - done)
    late = max((g["added_ms"] - g["due_ms"]) / 1000.0 for g in generator) \
        if generator else 0.0
    return {"lags": lags, "missing": missing, "backlog_max": backlog_max,
            "late_s": late}


def closed_loop_rate(generator, micro_batches, batch_updates):
    """Updates per second of a closed-loop feed: every generator batch's
    updates over the time from the first add to the last commit."""
    commits = [mb["commit_ms"] for mb in micro_batches]
    span_ms = max(commits) - min(g["added_ms"] for g in generator)
    return len(generator) * batch_updates * 1000.0 / span_ms
