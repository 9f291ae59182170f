"""Span self-time arithmetic and the patching wrappers."""

import threading

import pytest

from lakebench.trace import Span, Tracer, self_time_residuals, self_times, union_length


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_children_union():
    spans = [
        Span(1, "op", 0.0, 10.0, None, "a"),
        Span(2, "child", 1.0, 4.0, 1, "a"),
        Span(3, "child", 3.0, 6.0, 1, "a"),  # overlaps the first child
        Span(4, "grandchild", 2.0, 3.0, 2, "a"),
        Span(5, "late", 9.0, 12.0, 1, "a"),  # clipped to the parent
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - (5 + 1))  # covered: [1,6] and [9,10]
    assert st[2] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(1)


def test_nested_self_times_sum_to_wall_time():
    spans = [
        Span(1, "op", 0.0, 10.0, None, "a"),
        Span(2, "sql", 0.5, 9.0, 1, "a"),
        Span(3, "table", 1.0, 4.0, 2, "a"),
        Span(4, "table", 5.0, 8.5, 2, "a"),
        Span(5, "op", 20.0, 21.0, None, "b"),
    ]
    assert all(r == pytest.approx(0) for r in self_time_residuals(spans).values())


def test_tracer_patch_records_parent_and_restores():
    class Target:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    tr = Tracer()
    tr.patch(Target, "outer", "outer")
    tr.patch(Target, "inner", "inner", after=lambda args, res: seen.append(res))
    seen = []
    tr.op = "op:0"
    with tr.span("op"):
        assert Target().outer() == 2
        # a span on another thread with an empty stack hangs off the
        # main thread's innermost open span
        def callback():
            with tr.span("cb"):
                pass

        t = threading.Thread(target=callback)
        t.start()
        t.join(timeout=5)
        assert not t.is_alive()
    tr.unpatch()
    by = {s.name: s for s in tr.spans}
    assert by["inner"].parent == by["outer"].id
    assert by["outer"].parent == by["op"].id
    assert by["cb"].parent == by["op"].id
    assert seen == [1]
    assert "wrapper" not in repr(Target.outer)  # originals restored
    assert all(s.op == "op:0" for s in tr.spans)
