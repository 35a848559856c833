"""In-memory spans recorded around calls into the engine's layers.

A span is (layer, op, start, end, parent). Spans stay in memory and are
written out once, when the benchmark ends; ``self_times`` subtracts
from each span the part of its interval its children cover.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Times every span; keeps them only when ``enabled``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, op: str = ""):
        """Yield a dict whose ``s`` holds the span's seconds on exit."""
        out = {"s": 0.0}
        idx = None
        if self.enabled:
            idx = len(self.spans)
            self.spans.append({
                "layer": layer,
                "op": op,
                "parent": self._stack[-1] if self._stack else None,
            })
            self._stack.append(idx)
        t0 = time.perf_counter()
        try:
            yield out
        finally:
            t1 = time.perf_counter()
            out["s"] = t1 - t0
            if idx is not None:
                self._stack.pop()
                self.spans[idx].update(start=t0, end=t1)

    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by that layer's child spans."""
        children = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                children[s["parent"]].append(i)
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered = _union_length(
                [(self.spans[c]["start"], self.spans[c]["end"])
                 for c in children[i]]
            )
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({
            **extra,
            "self_time_s": self.self_times(),
            "spans": [{"id": i, **s} for i, s in enumerate(self.spans)],
        }, indent=1))


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
