"""Benchmark-side spans and the py4j call counter.

Spans are recorded only around calls INTO the package's public functions;
the wrappers are installed from the benchmark (``wrap``) and nothing inside
the package changes. Spans live in memory and are folded into per-layer
figures after the run:

- inclusive time of every span name, and its call count;
- self time = duration minus the part of the interval its child spans
  cover (spans nest on one thread, so children never overlap).

The root span of each operation is the operation itself; its self time is
the wall time no named layer accounts for.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []  # id (= index), name, t0, t1, parent id, op
        self._stack: list[int] = []
        self.op = -1
        self.py4j_calls: dict[int, int] = defaultdict(int)

    # -- recording -------------------------------------------------------
    def call(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        index = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = {"id": index, "name": name, "t0": time.time(), "t1": None,
                "parent": parent, "op": self.op}
        self.spans.append(span)
        self._stack.append(index)
        try:
            return fn(*args, **kwargs)
        finally:
            span["t1"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (function, method, classmethod or
        staticmethod) with a span-recording wrapper, for the rest of the
        process."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
        fn = raw.__func__ if kind else raw

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        setattr(owner, attr, kind(wrapper) if kind else wrapper)

    def count_py4j(self, gateway_client) -> None:
        """Count py4j commands sent while tracing is on, per operation."""
        send = gateway_client.send_command

        def counted(*args, **kwargs):
            if self.enabled:
                self.py4j_calls[self.op] += 1
            return send(*args, **kwargs)

        gateway_client.send_command = counted

    # -- folding ---------------------------------------------------------
    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def fold(self, op: int) -> tuple[dict[str, float], dict[str, float], dict[str, int]]:
        """(inclusive seconds, self seconds, calls) per span name for one op."""
        spans = self.op_spans(op)
        child_time: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["t1"] - s["t0"]
        inclusive: dict[str, float] = defaultdict(float)
        self_time: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for s in spans:
            duration = s["t1"] - s["t0"]
            inclusive[s["name"]] += duration
            self_time[s["name"]] += duration - child_time[s["id"]]
            calls[s["name"]] += 1
        return inclusive, self_time, calls
