"""Summary statistics and span arithmetic (pure, unit-tested)."""

from __future__ import annotations

import statistics
from dataclasses import dataclass


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float] | None:
    """The highest nearest-rank percentile that leaves at least ten
    samples above it: ``(value, percentile)``.

    With ``n`` samples that is the sample of rank ``n - 10``, the
    ``100 * (n - 10) / n``-th percentile. Below eleven samples no
    percentile qualifies, and there is no tail (None).
    """
    s = sorted(values)
    n = len(s)
    if n < 11:
        return None
    rank = n - 10
    return float(s[rank - 1]), 100.0 * rank / n


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float
    rid: str | None = None


def blocking_path(spans: list[Span], root: Span) -> dict[str, float]:
    """Split ``root``'s wall time over layers along its blocking path.

    Walking back from the end of a span, the child that finished last
    (clipped to the walk's cursor) is the one the span waited for; the
    walk descends into it and then resumes from that child's start.
    Time no child covers is the span's own. Children that ran beside
    the chosen one are off the blocking path. The result maps each
    layer to its self time on the path; its values sum to the root's
    duration, and the root's own layer holds the untraced remainder.
    """
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}

    def walk(span: Span, lo: float, hi: float) -> None:
        cursor = hi
        kids = [c for c in children.get(span.id, ()) if c.end > lo and c.start < hi]
        while cursor > lo:
            live = [c for c in kids if c.start < cursor]
            if not live:
                break
            c = max(live, key=lambda k: (min(k.end, cursor), -k.start))
            c_hi = min(c.end, cursor)
            c_lo = max(c.start, lo)
            out[span.layer] = out.get(span.layer, 0.0) + (cursor - c_hi)
            walk(c, c_lo, c_hi)
            kids.remove(c)
            cursor = c_lo
        out[span.layer] = out.get(span.layer, 0.0) + max(0.0, cursor - lo)

    walk(root, root.start, root.end)
    return out
