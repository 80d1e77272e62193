"""Pure summary functions of the benchmark (no Spark, no I/O), kept apart so
the self-tests in ``perfbench/tests`` can pin them."""

from __future__ import annotations

import hashlib
from collections.abc import Iterable, Sequence


def tail(samples: Sequence[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile of ``samples`` that has at least ``beyond``
    samples above it: ``(value, percentile, n)``, or ``None`` when there
    are too few samples for one.

    With ``n`` samples sorted ascending, the value at rank ``n - beyond``
    (1-based) leaves exactly ``beyond`` samples after it and sits at
    percentile ``100 * (n - beyond) / n``.
    """
    n = len(samples)
    if n <= beyond:
        return None
    k = n - beyond
    return sorted(samples)[k - 1], 100.0 * k / n, n


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((a, b) for a, b in intervals if b > a):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def idle_time(op_start: float, op_end: float, stage_intervals: Iterable[tuple[float, float]]) -> float:
    """Part of ``[op_start, op_end]`` during which no stage ran: the op's
    wall minus the union of its stages' run intervals clipped to the op."""
    busy = union_length(clip(stage_intervals, op_start, op_end))
    return (op_end - op_start) - busy


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of it covered
    by its direct children.

    Each span is a dict with ``id``, ``parent`` (an id or ``None``),
    ``start`` and ``end``.  Children are clipped to their parent, and
    overlapping children count once, so self time is never negative.
    """
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = union_length(clip(kids.get(s["id"], ()), s["start"], s["end"]))
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def row_hash(columns: Sequence[str], canon_rows: Sequence[tuple]) -> str:
    """Digest of a canonical (column-sorted, row-sorted) result set."""
    h = hashlib.sha256(repr(list(columns)).encode())
    for r in canon_rows:
        h.update(repr(r).encode())
    return h.hexdigest()

