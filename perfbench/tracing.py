"""In-memory spans and counters for the traced run.

A span is (name, start, end, parent, op): ``parent`` is the index of
the enclosing span and spans of one operation share ``op``.  Nothing is
written until ``dump`` at the end of the run.  ``NullTracer`` keeps the
``enabled`` flag and ``op`` and records nothing, so the untraced run
pays only a flag test per layer boundary.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self._op: str | None = None

    @contextlib.contextmanager
    def op(self, op_id: str):
        """All spans opened inside share ``op_id``."""
        prev, self._op = self._op, op_id
        try:
            yield
        finally:
            self._op = prev

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self._op}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        self.counters[name].append(float(value))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters}, f)


class NullTracer:
    enabled = False

    def op(self, op_id: str):
        return contextlib.nullcontext()
