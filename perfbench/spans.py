"""In-memory spans for the traced run, written out when the run ends.

A span has a name, a kind (its layer boundary), a start, an end, a parent
and the run id. Times are seconds on the run's ``perf_counter`` clock;
events Spark stamps with epoch milliseconds (SQL executions, micro-batches)
are mapped onto it through one anchor taken at start-up.
"""

from __future__ import annotations

import time
import uuid
from collections import defaultdict
from dataclasses import asdict, dataclass

# Spark stamps whole milliseconds; an event may overhang its parent by that
# much plus the anchor's own error. Overhangs within this are clamped (and
# counted); larger ones leave the event outside the tree.
CLAMP_TOLERANCE_S = 0.005


@dataclass
class Span:
    id: int
    name: str
    kind: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self.clamped = 0
        self.unattached = 0
        self._wall0 = time.time()
        self._perf0 = time.perf_counter()

    def from_epoch_ms(self, ms: float) -> float:
        return self._perf0 + (ms / 1000.0 - self._wall0)

    def add(self, name: str, kind: str, start: float, end: float, parent: Span | None = None) -> Span:
        span = Span(len(self.spans), name, kind, start, end, parent.id if parent else None, self.run_id)
        self.spans.append(span)
        return span

    def add_inside(self, name: str, kind: str, start: float, end: float, parents: list[Span]) -> Span | None:
        """Attach an externally stamped event to the first of ``parents`` whose
        window holds it, clamping an overhang within tolerance."""
        for parent in parents:
            if parent.start - CLAMP_TOLERANCE_S <= start and end <= parent.end + CLAMP_TOLERANCE_S:
                lo, hi = max(start, parent.start), min(max(end, start), parent.end)
                if (lo, hi) != (start, end):
                    self.clamped += 1
                return self.add(name, kind, lo, max(lo, hi), parent)
        self.unattached += 1
        return None

    def self_times(self) -> dict[str, float]:
        """Per kind: summed span time minus the part its children cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = 0.0
            cursor = s.start
            for c in sorted(children[s.id], key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.kind] += (s.end - s.start) - covered
        return dict(out)

    def misnested(self) -> list[Span]:
        """Spans that do not lie inside their parent (empty when sound)."""
        by_id = {s.id: s for s in self.spans}
        return [
            s for s in self.spans
            if s.parent is not None
            and not (by_id[s.parent].start <= s.start <= s.end <= by_id[s.parent].end)
        ]

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
