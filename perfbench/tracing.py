"""In-memory spans, self time and job attribution for the traced run.

A span is a dict: ``name``, ``start``, ``end`` (epoch seconds),
``parent`` (span id or None), ``trace`` (one id per operation) and
``id``. Spans stay in memory and are written once, at the end.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Records spans around calls into the program's layers. With
    ``enabled=False`` every method is a cheap no-op, so the untraced
    run executes the same benchmark code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, trace: str,
            parent: int | None = None, **attrs) -> int:
        if not self.enabled:
            return -1
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": sid, "name": name, "start": start,
                           "end": end, "parent": parent, "trace": trace,
                           **attrs})
        return sid

    @contextmanager
    def span(self, name: str, trace: str, **attrs):
        """Time the body as one span; spans opened inside nest under it."""
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), 0.0, trace, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover.
    Overlapping children are counted once; a child reaching outside
    its parent only counts inside the parent."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - _covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def summarize(spans: list[dict]) -> list[dict]:
    """Per span name: count, total and self seconds, largest self first."""
    selfs = self_times(spans)
    rows: dict[str, dict] = {}
    for s in spans:
        r = rows.setdefault(s["name"], {"name": s["name"], "n": 0,
                                        "total_s": 0.0, "self_s": 0.0})
        r["n"] += 1
        r["total_s"] += s["end"] - s["start"]
        r["self_s"] += selfs[s["id"]]
    return sorted(rows.values(), key=lambda r: -r["self_s"])


def format_table(rows: list[dict]) -> str:
    lines = [f"{'span':<40} {'n':>4} {'total_s':>9} {'self_s':>9}"]
    for r in rows:
        lines.append(f"{r['name']:<40} {r['n']:>4} {r['total_s']:>9.3f} "
                     f"{r['self_s']:>9.3f}")
    return "\n".join(lines)


def stage_intervals(start: float, timings: dict, children: dict | None = None
                    ) -> list[tuple[str, float, float, str | None]]:
    """Rebuild stage intervals from a ``timings=`` dict.

    Stages run one after another from ``start``, so cumulative
    durations give each stage's interval. ``children`` maps a stage to
    the ordered keys of its sub-stages, which run one after another
    from the parent stage's start. Returns (stage, t0, t1, parent).
    """
    children = children or {}
    nested = {k for ks in children.values() for k in ks}
    out, t = [], start
    for key, sec in timings.items():
        if key in nested:
            continue
        out.append((key, t, t + sec, None))
        sub_t = t
        for sub in children.get(key, ()):
            if sub in timings:
                out.append((sub, sub_t, sub_t + timings[sub], key))
                sub_t += timings[sub]
        t += sec
    return out


def attribute(times: list[float], intervals: list[tuple[str, float, float, str | None]]
              ) -> dict[str, int]:
    """Count the events at ``times`` (e.g. job submissions) per stage:
    an event goes to the innermost stage whose interval holds it, and
    is counted for that stage's parent too."""
    counts = {name: 0 for name, *_ in intervals}
    for t in times:
        hit = [iv for iv in intervals if iv[1] <= t < iv[2]]
        inner = [iv for iv in hit if iv[3] is not None] or hit
        for name, _a, _b, parent in inner[:1]:
            counts[name] += 1
            if parent is not None:
                counts[parent] += 1
    return counts
