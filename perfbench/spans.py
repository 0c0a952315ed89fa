"""In-memory spans for the traced run.

A span records its name, start, end, parent span and the op it belongs to.
Spans are opened by the harness around calls into the engine's public
functions, either directly (``span``) or by wrapping a function for the
length of the run (``patch``); nothing inside the package is changed.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        # [name, start, end, parent index, op id]
        self.spans: list[list] = []
        self._open: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op: int | None = None
        # per-op counts recorded at the same boundaries as the spans
        self.counts: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self.status = None  # layers.SparkStatus, set once the session exists

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._open.append(idx)
        try:
            yield
        finally:
            self.spans[idx][2] = time.perf_counter()
            self._open.pop()

    def _inside(self, group: str) -> bool:
        return any(self.spans[i][0].startswith(group + ".") for i in self._open)

    def patch(self, owner, attr: str, name: str, after=None) -> None:
        """Wrap ``owner.attr`` so each call records a span ``name``.

        A call made while another span of the same layer (the part of
        ``name`` before the first dot) is open records nothing, so a
        layer's time is never counted twice (``merge`` calls ``insert``;
        ``compact`` stages and commits). ``after(self_or_cls, result)``
        runs after each recorded call to take counts."""
        raw = owner.__dict__[attr]
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw
        group = name.split(".")[0]
        tracer = self

        def wrapper(*args, **kwargs):
            if tracer._inside(group):
                return fn(*args, **kwargs)
            with tracer.span(name):
                result = fn(*args, **kwargs)
            if after is not None:
                after(args[0] if args else None, result)
            return result

        wrapper.__wrapped__ = fn
        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)
        self._patches.append((owner, attr, raw))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)

    def total_s(self, name: str) -> float:
        """Seconds in spans ``name`` that belong to timed ops."""
        return sum(
            s[2] - s[1]
            for s in self.spans
            if s[0] == name and s[2] is not None and s[4] is not None
        )

    def dump(self, path: str) -> None:
        keys = ("name", "start", "end", "parent", "op")
        with open(path, "w") as fh:
            json.dump([dict(zip(keys, s)) for s in self.spans], fh)
