import threading

import pytest

from spans import Span, Tracer, self_time_by_name, self_times


def _span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, "t", "main")


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, "op", 0.0, 10.0),
        _span(2, "a", 1.0, 4.0, parent=1),
        _span(3, "b", 3.0, 6.0, parent=1),   # overlaps a: union 1..6
        _span(4, "c", 9.0, 12.0, parent=1),  # clipped to the parent: 9..10
        _span(5, "d", 2.0, 3.0, parent=2),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(1.0)
    by_name = self_time_by_name(spans)
    assert by_name["op"] == (1, 10.0, pytest.approx(4.0))


def test_tracer_nests_spans_and_parents_helper_threads():
    t = iter(range(100))
    tracer = Tracer(clock=lambda: float(next(t)))

    def helper():
        with tracer.span("thread.work"):
            pass

    with tracer.trace("op1"):
        with tracer.span("outer"):
            th = threading.Thread(target=helper)
            th.start()
            th.join(timeout=10)
            assert not th.is_alive()
            with tracer.span("inner"):
                pass
    by = {s.name: s for s in tracer.spans}
    assert by["inner"].parent == by["outer"].id
    assert by["outer"].parent == by["op"].id
    assert by["thread.work"].parent == by["outer"].id
    assert {s.trace_id for s in tracer.spans} == {"op1"}
    assert all(s.end >= s.start for s in tracer.spans)


def test_wrap_records_calls_and_restore_puts_functions_back():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    original = mod.f
    tracer = Tracer()
    tracer.wrap(mod, "f", "layer.f")
    assert mod.f(1) == 2 and mod.f(2) == 3
    assert [s.name for s in tracer.spans] == ["layer.f", "layer.f"]
    tracer.restore()
    assert mod.f is original


def test_dump_writes_json(tmp_path):
    import json

    tracer = Tracer()
    with tracer.trace("op0"):
        pass
    path = tmp_path / "spans.json"
    tracer.dump(str(path))
    rows = json.loads(path.read_text())
    assert rows[0]["name"] == "op" and rows[0]["trace_id"] == "op0"
