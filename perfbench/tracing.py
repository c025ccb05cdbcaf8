"""In-memory spans around calls into the engine's layers.

The benchmark wraps the public functions of each engine module from
here, without touching the engine's code: every wrapped call records a
span (layer name, start, end, parent span, request id). Spans stay in
a list in memory until the benchmark asks for them at the end.

A wrapper costs one attribute check while tracing is off, and nothing
is wrapped unless a traced run asks for it."""

from __future__ import annotations

import functools
import inspect
import itertools
import threading
import time


class Tracer:
    def __init__(self):
        self.on = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    # -- request context --------------------------------------------
    @property
    def request(self):
        return getattr(self._local, "req", None)

    @request.setter
    def request(self, req):
        self._local.req = req

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    # -- spans --------------------------------------------------------
    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name`` when tracing is on."""
        if not self.on:
            return fn(*args, **kwargs)
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append({"id": sid, "parent": parent, "name": name,
                               "req": self.request, "t0": t0, "t1": t1})

    def take(self) -> list[dict]:
        """Hand over the recorded spans and start a fresh list."""
        out, self.spans = self.spans, []
        return out

    # -- wrapping -----------------------------------------------------
    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` (a module function or an instance
        method) with a span-recording wrapper."""
        fn = getattr(owner, attr)
        if getattr(fn, "__perfbench_wrapped__", False):
            return
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return tracer.call(name, fn, *args, **kwargs)

        wrapper.__perfbench_wrapped__ = True
        setattr(owner, attr, wrapper)

    def wrap_module(self, module, name: str):
        """Wrap every public function defined in ``module``."""
        for attr, val in list(vars(module).items()):
            if (not attr.startswith("_") and inspect.isfunction(val)
                    and val.__module__ == module.__name__):
                self.wrap(module, attr, name)
