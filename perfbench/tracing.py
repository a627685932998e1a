"""Spans recorded around calls into each layer, from outside the engine.

A span is (id, parent, name, start, end). Self time of a layer is its
spans' durations minus the part covered by child spans. Kernel spans are
aggregated as they close (calls and self seconds per name); only the
first KEEP_KERNEL_DOCS documents' kernel spans are kept verbatim, so
the JSON stays small on large replays.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

KEEP_KERNEL_DOCS = 3


class Tracer:
    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans = []  # (id, parent, name, start_s, end_s)
        self.self_s = {}  # name -> self seconds
        self.calls = {}  # name -> count
        self.counts = {}  # name -> summed measure of results (bytes)
        self._stack = []  # [id, child_seconds]
        self._next_id = 0
        self.kernel_docs = 0  # documents replayed so far

    def _open(self):
        self._next_id += 1
        frame = [self._next_id, 0.0]
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append(frame)
        return frame, parent

    def _close(self, frame, parent, name, start, end, keep):
        self._stack.pop()
        dur = end - start
        self.self_s[name] = self.self_s.get(name, 0.0) + dur - frame[1]
        self.calls[name] = self.calls.get(name, 0) + 1
        if self._stack:
            self._stack[-1][1] += dur
        if keep:
            self.spans.append((frame[0], parent, name,
                               start - self.t0, end - self.t0))

    @contextmanager
    def span(self, name: str):
        frame, parent = self._open()
        start = time.perf_counter()
        try:
            yield
        finally:
            self._close(frame, parent, name, start, time.perf_counter(), True)

    def wrap(self, name: str, fn, measure=None):
        """`fn` recording a kernel span per call; `measure(result)` adds
        to the count of the same name."""

        def traced(*args, **kwargs):
            frame, parent = self._open()
            start = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                end = time.perf_counter()
                self._close(frame, parent, name, start, end,
                            self.kernel_docs < KEEP_KERNEL_DOCS)
            if measure is not None:
                self.counts[name] = self.counts.get(name, 0) + measure(result)
            return result

        return traced

    def to_json(self) -> dict:
        return {
            "spans": [{"id": i, "parent": p, "name": n,
                       "start_s": round(s, 6), "end_s": round(e, 6)}
                      for i, p, n, s, e in self.spans],
            "self_s": self.self_s,
            "calls": self.calls,
            "counts": self.counts,
            "kernel_docs_with_spans": min(self.kernel_docs,
                                          KEEP_KERNEL_DOCS),
        }


class patched:
    """Context manager that swaps module or class attributes for traced
    wrappers, each span named after its attribute, and restores the
    originals on exit."""

    def __init__(self, tracer: Tracer, targets):
        # targets: (owner, attribute, measure-or-None)
        self.tracer = tracer
        self.targets = targets
        self.saved = []

    def __enter__(self):
        for owner, attr, measure in self.targets:
            orig = getattr(owner, attr)
            self.saved.append((owner, attr, orig))
            setattr(owner, attr, self.tracer.wrap(attr, orig, measure))
        return self

    def __exit__(self, *exc):
        for owner, attr, orig in reversed(self.saved):
            setattr(owner, attr, orig)
        return False
