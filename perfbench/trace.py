"""In-memory spans recorded around calls into the program's public
functions, patched from outside at module or class attribute level.

A span holds a name, start and end (``time.perf_counter`` seconds), the
index of its parent span and an operation id (a trigger's batch id or a
registry query name). Spans stay in memory until the run writes them.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Records spans; nesting is tracked per thread, because the
    streaming sink runs on the py4j callback thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def patch(self, owner: object, attr: str, wrapper_factory) -> None:
        """Replace ``owner.attr`` (``owner[attr]`` for a dict) with
        ``wrapper_factory(original)``; :meth:`restore` puts every
        original back."""
        original = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)
        self._patches.append((owner, attr, original))
        _set(owner, attr, wrapper_factory(original))

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            _set(owner, attr, original)

    def self_ms(self, idx: int) -> float:
        """Span duration minus the part of it its children cover."""
        return self_time_ms(self.spans, idx)

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans], **(extra or {})}, f, indent=1, default=str
            )


def _set(owner: object, attr: str, value: object) -> None:
    if isinstance(owner, dict):
        owner[attr] = value
    else:
        setattr(owner, attr, value)


def self_time_ms(spans: list[Span], idx: int) -> float:
    """Self time of ``spans[idx]``: its duration minus the union of its
    direct children's intervals, clipped to the parent."""
    parent = spans[idx]
    kids = sorted(
        (max(s.start, parent.start), min(s.end, parent.end))
        for s in spans
        if s.parent == idx
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (parent.end - parent.start - covered) * 1000.0
