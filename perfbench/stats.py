"""Pure helpers for the benchmark's metrics: percentiles with their sample
count, geometric means, open-loop lag, span self time and error rates.
Nothing here touches Spark, so all of it is unit-tested in isolation."""

from __future__ import annotations

import math
import statistics
from collections import defaultdict


def percentile(values, q: float) -> tuple[float, int]:
    """Linearly interpolated ``q``-th percentile (0..100) of ``values``
    together with the number of samples it was taken from."""
    xs = sorted(float(v) for v in values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside [0, 100]")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), len(xs)


def geomean(values) -> float:
    xs = [float(v) for v in values]
    if not xs:
        raise ValueError("geomean of no samples")
    if any(x <= 0.0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def median(values) -> float:
    return float(statistics.median(values))


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def arrival_lags(
    scheduled: dict[str, float], done: dict[str, float]
) -> tuple[list[float], list[str]]:
    """Per item, the time from its scheduled arrival to when its result
    was ready. Items that never finished are returned separately, so the
    caller counts them as failed rather than dropping them."""
    lags, missing = [], []
    for item, due in sorted(scheduled.items(), key=lambda kv: (kv[1], kv[0])):
        if item in done:
            lags.append(done[item] - due)
        else:
            missing.append(item)
    return lags, missing


def error_rate(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no items attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"{failed} failed out of {attempted} attempted")
    return failed / attempted


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. Spans are dicts with ``id``, ``parent``,
    ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered_seconds(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Self time summed per layer, the layer being the span name up to
    its first dot (``plans.collect`` -> ``plans``)."""
    own = span_self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"].split(".", 1)[0]] += own[s["id"]]
    return dict(out)
