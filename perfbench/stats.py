"""Summary statistics for the benchmark: the tail-percentile rule, self time
and the batch-visibility join. Pure Python, no Spark, so the tests of the
benchmark can check them directly."""

from __future__ import annotations

import datetime as _dt
import math
import statistics
from typing import Any, Iterable

# percentiles the report may use for a tail, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
# a tail percentile needs at least this many samples above it
MIN_BEYOND = 10


def supports(n: int, p: float) -> bool:
    """True when a sample of ``n`` has at least ``MIN_BEYOND`` values beyond
    percentile ``p`` (the median is always reported)."""
    return p <= 50.0 or n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9


def percentile(values: Iterable[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile. Raises ``ValueError`` for an
    empty sample and for a tail (``p`` > 50) the sample cannot support."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not supports(len(xs), p):
        raise ValueError(
            f"p{p:g} needs {math.ceil(MIN_BEYOND * 100 / (100 - p))} samples "
            f"for {MIN_BEYOND} beyond it; have {len(xs)}")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: Iterable[float]) -> tuple[float, float] | None:
    """``(p, value)`` for the highest percentile in ``TAIL_LADDER`` with at
    least ``MIN_BEYOND`` samples beyond it, or None when even p75 is out of
    reach."""
    xs = list(values)
    for p in TAIL_LADDER:
        if supports(len(xs), p):
            return p, percentile(xs, p)
    return None


def summarize(values: Iterable[float], unit: str) -> dict[str, Any]:
    """Median, highest supported tail and sample count of one timing."""
    xs = list(values)
    out: dict[str, Any] = {"unit": unit, "n": len(xs)}
    if xs:
        out["p50"] = statistics.median(xs)
        t = tail(xs)
        if t is None:
            out["tail"] = "unsupported"
        else:
            out[f"p{t[0]:g}"] = t[1]
    return out


def interval_union(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(start: float, end: float,
              children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover. Children
    are clipped to the parent, and overlapping children count once."""
    clipped = [(max(lo, start), min(hi, end)) for lo, hi in children]
    return (end - start) - interval_union(clipped)


def progress_ts_ms(ts: str) -> int:
    """Epoch milliseconds of a StreamingQueryProgress ``timestamp``
    (ISO-8601 UTC, e.g. ``2026-01-01T00:00:00.123Z``)."""
    d = _dt.datetime.fromisoformat(ts.replace("Z", "+00:00"))
    if d.tzinfo is None:
        d = d.replace(tzinfo=_dt.timezone.utc)
    return round(d.timestamp() * 1000)


def batch_visible_s(progress: list[dict[str, Any]],
                    history: list[dict[str, Any]],
                    txn_app: str) -> dict[int, float]:
    """Per batch: seconds from its trigger start (the progress
    ``timestamp``) to the ``commit_ts_ms`` of the commit carrying that
    ``txn_batch`` for ``txn_app``.

    The join is by batch id, not by order, because an async commit lands
    while the next trigger already runs. Raises ``LookupError`` when a
    triggered batch has no commit: a lost batch must fail loudly."""
    commit_ms: dict[int, int] = {}
    for h in history:
        props = h.get("properties") or {}
        if props.get("txn_app") == txn_app and props.get("txn_batch") is not None:
            commit_ms[int(props["txn_batch"])] = int(h["commit_ts_ms"])
    out: dict[int, float] = {}
    for p in progress:
        b = int(p["batchId"])
        if b not in commit_ms:
            raise LookupError(f"batch {b} of {txn_app!r} has no commit")
        out[b] = (commit_ms[b] - progress_ts_ms(p["timestamp"])) / 1000.0
    return out
