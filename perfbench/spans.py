"""Spans recorded around the engine's public calls.

The traced run wraps a fixed list of public entry points at runtime
(``Tracer.wrap``); no file of the engine changes. Each call becomes a
span — name, layer, start, end, parent span, run id — kept in memory and
written out when the run ends. A span's self time is its duration minus
the time its child spans cover.
"""

from __future__ import annotations

import functools
import json
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """Span recorder. ``enabled=False`` makes every method a cheap no-op,
    so workload code can open spans unconditionally."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, owner: object, attr: str, layer: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper (undone by
        ``unwrap_all``). Works on modules and classes alike."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        name = f"{layer}.{attr}"

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus its direct children's durations
        (children nest strictly inside their parent on one thread)."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def self_by(self, key: str = "layer", within: dict | None = None) -> dict[str, float]:
        """Self time summed per span ``key`` — over every span, or only over
        the descendants of ``within`` (inclusive)."""
        selfs = self.self_times()
        keep = self._subtree(within["id"]) if within is not None else None
        out: dict[str, float] = {}
        for s in self.spans:
            if keep is None or s["id"] in keep:
                out[s[key]] = out.get(s[key], 0.0) + selfs[s["id"]]
        return out

    def _subtree(self, root: int) -> set[int]:
        ids = {root}
        for s in self.spans:  # parents always precede children
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
