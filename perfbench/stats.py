"""Statistics helpers: the summary rules every reported number follows."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Mapping, Sequence


def geomean(values: Iterable[float]) -> float:
    xs = list(values)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def geomean_of_medians(groups: Mapping[str, Sequence[float]]) -> float:
    """Geometric mean over groups of each group's median: every group
    (shape family, query) weighs the same however many samples it has,
    and a pooled median cannot fall into the gap between two groups."""
    return geomean(statistics.median(v) for v in groups.values())


def span_self(spans: Iterable[Mapping]) -> dict[object, float]:
    """Self time of each span, by id: its duration minus the part of its
    interval covered by its direct children. Spans are mappings with
    ``id``, ``start``, ``end`` and ``parent`` (``None`` for a root)."""
    spans = list(spans)
    kids: dict[object, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[object, float] = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_times(spans: Iterable[Mapping]) -> dict[str, float]:
    """Self time summed per span name (see ``span_self``)."""
    spans = list(spans)
    own = span_self(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return out
