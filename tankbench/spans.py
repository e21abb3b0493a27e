"""In-memory spans for the traced run, and per-layer self time.

A span is (id, name, layer, start, end, parent); times are wall-clock
milliseconds. Spans come from two places, both in the benchmark's own
files: context-managed spans around calls into the program's public
functions (:meth:`Tracer.span`), and spans rebuilt from each
micro-batch's ``StreamingQueryProgress`` (:func:`batch_spans`). The
program itself carries no tracing.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
from dataclasses import dataclass

from observe import progress_time_ms, wall_ms


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """Collects spans; disabled tracers record nothing and cost one
    attribute check per call site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None = None) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            sid = next(self._ids)
            self.spans.append(Span(sid, name, layer, start, end, parent))
        return sid

    @contextlib.contextmanager
    def span(self, name: str, layer: str, parent: int | None = None):
        """Time the enclosed block; yields the span id (None if disabled)."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = next(self._ids)
        start = wall_ms()
        try:
            yield sid
        finally:
            with self._lock:
                self.spans.append(Span(sid, name, layer, start, wall_ms(), parent))


# Micro-batch phases in the order MicroBatchExecution runs them. Progress
# reports each phase's duration but not its start: the phases before
# addBatch are laid end to end from the trigger start, addBatch and
# commitOffsets end to end back from the trigger end, so addBatch sits
# where the sink call really runs; untracked time is the gap between.
HEAD_PHASES = [
    ("latestOffset", "source"),
    ("walCommit", "checkpoint"),
    ("getBatch", "source"),
    ("queryPlanning", "plan"),
]
TAIL_PHASES = [("addBatch", "execute"), ("commitOffsets", "checkpoint")]


def batch_spans(tracer: Tracer, job: str, progress: list[dict],
                parent: int | None) -> dict[int, tuple[int, float, float]]:
    """Add one span per micro-batch and one per phase; return
    ``{batchId: (addBatch span id, start, end)}`` so sink-call spans can
    hang under the phase that ran them."""
    out = {}
    for p in progress:
        dur = p["durationMs"]
        end = progress_time_ms(p)
        start = end - dur.get("triggerExecution", 0)
        bid = tracer.add(f"{job}.batch.{p['batchId']}", f"{job}.batch", start, end, parent)
        t = start
        for key, layer in HEAD_PHASES:
            d = dur.get(key, 0)
            if d:
                tracer.add(f"{job}.{key}", f"{job}.{layer}", t, t + d, bid)
                t += d
        t = end
        for key, layer in reversed(TAIL_PHASES):
            d = dur.get(key, 0)
            sid = tracer.add(f"{job}.{key}", f"{job}.{layer}", t - d, t, bid)
            if key == "addBatch":
                out[p["batchId"]] = (sid, t - d, t)
            t -= d
    return out


def attach(tracer: Tracer, sid: int, parent: tuple[int, float, float]) -> None:
    """Hang a call span under a rebuilt phase span, clipped to it (the
    phase position is rebuilt, the call's own times are measured)."""
    pid, lo, hi = parent
    for s in tracer.spans:
        if s.id == sid:
            s.parent = pid
            s.start = min(max(s.start, lo), hi)
            s.end = max(min(s.end, hi), s.start)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per layer: total span time minus the part covered by child spans."""
    kids: dict[int | None, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        cur = None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur is None or lo > cur[1]:
                if cur is not None:
                    covered += cur[1] - cur[0]
                cur = [lo, hi]
            else:
                cur[1] = max(cur[1], hi)
        if cur is not None:
            covered += cur[1] - cur[0]
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
    return out


def check_tree(spans: list[Span]) -> list[str]:
    """Problems that make a span set not a well-formed tree: unknown or
    duplicate ids, children outside their parent, cycles, several roots."""
    problems = []
    by_id = {}
    for s in spans:
        if s.id in by_id:
            problems.append(f"duplicate span id {s.id}")
        by_id[s.id] = s
        if s.end < s.start:
            problems.append(f"span {s.name} ends before it starts")
    roots = [s for s in spans if s.parent is None]
    if len(roots) != 1:
        problems.append(f"{len(roots)} root spans")
    for s in spans:
        if s.parent is None:
            continue
        p = by_id.get(s.parent)
        if p is None:
            problems.append(f"span {s.name} has unknown parent {s.parent}")
        elif s.start < p.start - 1 or s.end > p.end + 1:
            problems.append(f"span {s.name} lies outside its parent {p.name}")
        seen = {s.id}
        while p is not None:
            if p.id in seen:
                problems.append(f"cycle through span {s.name}")
                break
            seen.add(p.id)
            p = by_id.get(p.parent) if p.parent is not None else None
    return problems
