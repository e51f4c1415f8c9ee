"""In-memory spans, written out when the run ends.

A span has a name, start and end (wall-clock seconds since the epoch, so
they line up with Spark's stage timestamps), the index of its parent span
and the operation it belongs to.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``.

    A span's self time is its duration minus what its children cover.
    """
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals if e > start and s < end)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Collects spans; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        idx = self.add(name, time.time(), None, op)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def add(self, name: str, start: float, end: float | None, op: str | None = None, parent: int | None = None) -> int:
        """Record a span; the parent defaults to the innermost open span."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        self.spans.append({"name": name, "start": start, "end": end, "parent": parent, "op": op})
        return len(self.spans) - 1

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"meta": meta, "spans": self.spans}, fh)
