"""Spans and counters recorded from outside the program.

A span is (id, parent id, name, start, end); the layer is the part of the
name before the first dot. Spans are kept in memory and written once, when
the run ends. Nothing here changes a program module: layers are timed by
wrapping their public functions or by handing the program a
``TracedFileBackend``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import Counter, defaultdict

from river_spark.transport.backend import StorageBackend
from river_spark.transport.log import FileBackend


class Tracer:
    def __init__(self):
        self.spans: list[tuple[int, int, str, float, float]] = []
        self.counts: Counter = Counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        # Parent for spans opened on threads the program starts itself
        # (the ingester's pool), which have no open span of their own.
        self._adopting = 0

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str, adopt_threads: bool = False):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self._adopting
        stack.append(sid)
        if adopt_threads:
            self._adopting = sid
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            if adopt_threads:
                self._adopting = 0
            self.spans.append((sid, parent, name, t0, t1))

    def wrap(self, name: str, fn, count=None):
        """``fn`` with a span around each call; ``count(result)`` is added
        to ``counts[name]`` when given."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if count is not None:
                self.counts[name] += count(out)
            return out

        return traced

    @contextlib.contextmanager
    def patched(self, owner, attr: str, name: str):
        """Wrap ``owner.attr`` (a class or module attribute) for the block."""
        original = getattr(owner, attr)
        setattr(owner, attr, self.wrap(name, original))
        try:
            yield
        finally:
            setattr(owner, attr, original)

    # -- reductions ---------------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for _i, _p, n, t0, t1 in self.spans if n == name]

    def calls(self) -> Counter:
        return Counter(name for _i, _p, name, _t0, _t1 in self.spans)

    def self_times(self) -> dict[str, float]:
        """Per layer: span time not covered by the span's own children."""
        children = defaultdict(list)
        for _sid, parent, _n, t0, t1 in self.spans:
            children[parent].append((t0, t1))
        out: dict[str, float] = defaultdict(float)
        for sid, _parent, name, t0, t1 in self.spans:
            covered, reach = 0.0, t0
            for c0, c1 in sorted(children.get(sid, ())):
                c0, c1 = max(c0, reach), min(c1, t1)
                if c1 > c0:
                    covered += c1 - c0
                    reach = c1
            out[name.split(".", 1)[0]] += (t1 - t0) - covered
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"id": i, "parent": p, "name": n, "start": t0, "end": t1}
                        for i, p, n, t0, t1 in self.spans
                    ],
                    "counts": dict(self.counts),
                },
                f,
            )


def maybe_span(tracer: Tracer | None, name: str, **kwargs):
    """``tracer.span(name)``, or nothing when tracing is off."""
    return tracer.span(name, **kwargs) if tracer else contextlib.nullcontext()


class TracedFileBackend(FileBackend):
    """A FileBackend whose every StorageBackend operation is a
    ``backend.<op>`` span. It stays a FileBackend, so the program takes the
    same code paths (file-layout helpers included) as with a plain one."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        counters = {
            # batch entries a listing returns
            "list_batches": len,
            # payload bytes a read returns
            "read_batch": lambda z: int(z["data"].nbytes),
        }
        for op in StorageBackend.__abstractmethods__:
            setattr(self, op, tracer.wrap(f"backend.{op}", getattr(self, op), counters.get(op)))
