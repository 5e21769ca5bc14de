"""Small statistics used by the benchmark: percentiles, the tail
sample-count rule, and the backlog-growth detector."""

from __future__ import annotations

TAIL_CANDIDATES = (99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)
MIN_ABOVE = 10  # a tail percentile needs at least this many samples above it


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile of ``values`` (0 <= p <= 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = p / 100.0 * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least MIN_ABOVE of ``n``
    samples above it; None when even the median has too few."""
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= MIN_ABOVE:
            return p
    return None


def median(values) -> float:
    return percentile(values, 50.0)


def backlog_growth(pairs, start_us: int, end_us: int) -> float:
    """How fast the backlog (events scheduled minus events acked) grows
    across a rung ``[start_us, end_us)``, as a share of the offered rate.

    ``pairs`` holds ``(scheduled_us, ack_us)`` for the rung's events. By
    Little's law the backlog is the rate times the latency, so a backlog
    that grows shows as latency that grows with schedule time: with a
    slope ``s`` the engine serves ``1/(1+s)`` of the offered rate and the
    backlog grows by ``s/(1+s)`` of it. The slope is the mean latency of
    the rung's second half minus its first half over half the rung, which
    averages out the trigger's sawtooth. An unacked event counts as a
    growth of 1."""
    if any(ack is None for _, ack in pairs):
        return 1.0
    mid = (start_us + end_us) / 2
    first = [a - s for s, a in pairs if s < mid]
    second = [a - s for s, a in pairs if s >= mid]
    if len(first) < MIN_ABOVE or len(second) < MIN_ABOVE:
        raise ValueError("too few events for a backlog trend")
    slope = (sum(second) / len(second) - sum(first) / len(first)) / ((end_us - start_us) / 2)
    return slope / (1 + slope) if slope > 0 else slope
