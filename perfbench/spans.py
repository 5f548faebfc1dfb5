"""In-memory span recorder for the traced run.

A span is (name, trace id, span id, parent id, start, end). Spans of
one statement or pass share a trace id; a span opened while another is
open on the same thread becomes its child. Spans stay in memory and
are written out once, when the run ends. ``NULL`` is the no-op
recorder used by the untraced run, so the timed code is identical in
both runs apart from the recording itself.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import threading
import time
from collections import defaultdict

from reference import percentile


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr with seconds since the run started."""
    print(f"[perfbench] {time.perf_counter() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else (None, None)
        sid = next(self._ids)
        tid = trace if trace is not None else (parent[1] or f"t{sid}")
        stack.append((sid, tid))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((name, tid, sid, parent[0], t0, t1))

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned wrapper (traced run
        only; the engine resolves these names at call time)."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, spanned)

    def reset(self) -> None:
        """Drop the spans recorded so far (set-up and warm-up)."""
        with self._lock:
            self.spans.clear()

    # -- reports ---------------------------------------------------------
    def durations_ms(self, name: str) -> list[float]:
        return [(s[5] - s[4]) * 1000.0 for s in self.spans if s[0] == name]

    def p(self, name: str, q: float) -> float:
        d = self.durations_ms(name)
        return percentile(d, q) if d else 0.0

    def self_time_ms(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of
        it covered by child spans."""
        children = defaultdict(list)
        for s in self.spans:
            if s[3] is not None:
                children[s[3]].append((s[4], s[5]))
        out: dict[str, float] = defaultdict(float)
        for name, _tid, sid, _parent, t0, t1 in self.spans:
            covered, cur = 0.0, t0
            for c0, c1 in sorted(children.get(sid, [])):
                c0, c1 = max(c0, cur), min(c1, t1)
                if c1 > c0:
                    covered += c1 - c0
                    cur = c1
            out[name] += (t1 - t0 - covered) * 1000.0
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, tid, sid, parent, t0, t1 in self.spans:
                fh.write(json.dumps({
                    "name": name, "trace": tid, "id": sid, "parent": parent,
                    "start": t0, "end": t1,
                }) + "\n")


class _NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None):
        yield

    def wrap(self, module, attr: str, name: str) -> None:
        pass

    def reset(self) -> None:
        pass


NULL = _NullTracer()
