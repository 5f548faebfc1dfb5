"""Span recorder: parent links, shared trace ids and self time."""

from __future__ import annotations

import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans  # noqa: E402


def test_nested_spans_share_trace_and_self_time_excludes_children():
    tr = spans.Tracer()
    with tr.span("outer", "stmt1"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.03)
    inner = next(s for s in tr.spans if s[0] == "inner")
    outer = next(s for s in tr.spans if s[0] == "outer")
    assert inner[1] == outer[1] == "stmt1"
    assert inner[3] == outer[2]  # parent id
    st = tr.self_time_ms()
    assert st["inner"] >= 25
    assert 15 <= st["outer"] < tr.durations_ms("outer")[0] - 25


def test_threads_keep_separate_span_stacks():
    tr = spans.Tracer()

    def work(i):
        with tr.span(f"t{i}"):
            time.sleep(0.01)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)
    assert sorted(s[0] for s in tr.spans) == ["t0", "t1", "t2", "t3"]
    assert all(s[3] is None for s in tr.spans)  # no cross-thread parents


def test_wrap_spans_module_function_and_null_tracer_is_inert():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    tr = spans.Tracer()
    tr.wrap(Mod, "f", "mod.f")
    assert Mod.f(1) == 2
    assert [s[0] for s in tr.spans] == ["mod.f"]
    spans.NULL.wrap(Mod, "f", "again")
    with spans.NULL.span("x"):
        pass
    assert Mod.f(1) == 2 and len(tr.spans) == 2
