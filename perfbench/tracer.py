"""In-memory span recorder that wraps live objects' public methods.

The benchmark measures each layer from outside: ``Tracer.wrap``
replaces one bound method on one instance with a timing shim, so the
program's own files stay untouched. Spans nest through a per-thread
stack; the outermost span of a call chain names the request id that
its children inherit. ``Tracer.count`` wraps a module function and
adds to a named counter on the innermost open span of the calling
thread. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import itertools
import json
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    def wrap(self, obj, attr: str, name: str, request_id=None) -> None:
        """Time every call of ``obj.attr`` as a span called ``name``.
        ``request_id(*args, **kwargs)`` names the request of an
        outermost span; nested spans take their parent's."""
        fn = getattr(obj, attr)
        tracer = self

        def traced(*args, **kwargs):
            stack = tracer._stack()
            parent = stack[-1] if stack else None
            span = {
                "name": name,
                "id": next(tracer._ids),
                "parent": parent["id"] if parent else None,
                "rid": parent["rid"] if parent else (request_id(*args, **kwargs) if request_id else None),
                "counts": {},
            }
            stack.append(span)
            span["start"] = time.monotonic()
            try:
                return fn(*args, **kwargs)
            except Exception as e:
                span["error"] = type(e).__name__
                raise
            finally:
                span["end"] = time.monotonic()
                stack.pop()
                tracer.spans.append(span)

        self._restore.append((obj, attr, obj.__dict__.get(attr)))
        setattr(obj, attr, traced)

    def count(self, module, attr: str, counter: str, weight=None) -> None:
        """Count calls of ``module.attr`` against the innermost open
        span; ``weight(*args, **kwargs)`` sets how much one call adds."""
        fn = getattr(module, attr)
        tracer = self

        def counted(*args, **kwargs):
            stack = tracer._stack()
            if stack:
                c = stack[-1]["counts"]
                c[counter] = c.get(counter, 0) + (weight(*args, **kwargs) if weight else 1)
            return fn(*args, **kwargs)

        self._restore.append((module, attr, fn))
        setattr(module, attr, counted)

    def unwrap(self) -> None:
        """Put every wrapped attribute back as it was."""
        for obj, attr, old in reversed(self._restore):
            if old is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, old)
        self._restore.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class _Probe:
    def noop(self) -> None:
        return None


def span_cost_s(calls: int = 20_000) -> float:
    """Added cost of one traced call over a bare one, in seconds: the
    tracing overhead each recorded span puts on the request path."""
    probe = _Probe()
    t0 = time.perf_counter()
    for _ in range(calls):
        probe.noop()
    bare = time.perf_counter() - t0
    tracer = Tracer()
    tracer.wrap(probe, "noop", "probe")
    t0 = time.perf_counter()
    for _ in range(calls):
        probe.noop()
    traced = time.perf_counter() - t0
    tracer.unwrap()
    return max(traced - bare, 0.0) / calls
