"""The benchmark's own arithmetic, kept free of Spark so it can be
tested on its own: medians, tail-percentile selection, span self time
and coverage, and write-amplification ratios."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence


def median(values: Iterable[float]) -> float | None:
    vals = list(values)
    return statistics.median(vals) if vals else None


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile with at least ten samples beyond
    it, out of ``n`` samples. With the nearest-rank definition the
    p-th percentile is the ``ceil(p/100 * n)``-th smallest sample, so
    ``n - ceil(p/100 * n) >= 10`` must hold. ``None`` when ``n <= 10``:
    no percentile has ten samples beyond it."""
    if n <= 10:
        return None
    p = (100 * (n - 10)) // n
    while p > 0 and n - math.ceil(p * n / 100) < 10:
        p -= 1
    return p if p > 0 else None


def percentile(values: Sequence[float], p: int) -> float:
    """Nearest-rank percentile (``p`` in 1..100)."""
    s = sorted(values)
    k = max(1, math.ceil(p * len(s) / 100))
    return s[k - 1]


def tail(values: Sequence[float]) -> dict:
    """``{"p": percentile, "n": samples, "value": ...}``; value and p
    are ``None`` when there are too few samples for any tail."""
    p = tail_percentile(len(values))
    return {"p": p, "n": len(values), "value": percentile(values, p) if p else None}


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval that its direct children cover. Spans are dicts with
    ``id``, ``parent``, ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(children.get(s["id"], ()), s["start"], s["end"])
        for s in spans
    }


def write_amp(bytes_written: int, plaintext_bytes: int) -> float:
    """Data-file bytes a bulk chain wrote ÷ plaintext bytes it took in."""
    if plaintext_bytes <= 0:
        raise ValueError("write amplification needs a positive plaintext size")
    return bytes_written / plaintext_bytes


def erase_write_amp(erasures: Sequence[tuple[int, int]]) -> float:
    """Bytes rewritten per erasure ÷ plaintext bytes of the erased
    subject, pooled over the run: ``sum(rewritten) / sum(plaintext)``
    over ``(rewritten_bytes, subject_plaintext_bytes)`` pairs, so a
    subject with a tiny footprint cannot dominate the ratio."""
    return write_amp(sum(r for r, _ in erasures), sum(p for _, p in erasures))


def paired_overhead(pairs: Sequence[tuple[float, float]]) -> dict:
    """Tracing overhead from alternating units: the median, over
    ``(untraced, traced)`` neighbours, of ``traced - untraced``. It is
    ``resolved`` only with at least two pairs and when it exceeds the
    spread (max - min) of the untraced units; below that it cannot be
    told from run-to-run noise."""
    if not pairs:
        return {"value": None, "pairs": 0, "untraced_spread_s": None, "resolved": False}
    base = [u for u, _ in pairs]
    diff = median(t - u for u, t in pairs)
    spread = max(base) - min(base)
    return {
        "value": diff,
        "pairs": len(pairs),
        "untraced_spread_s": spread,
        "resolved": len(pairs) >= 2 and abs(diff) > spread,
    }
