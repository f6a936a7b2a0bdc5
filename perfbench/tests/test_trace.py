"""Span bookkeeping: nesting, self time and covered time."""

from __future__ import annotations

from perfbench.trace import Span, Tracer, covered, self_times


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self) -> float:
        return self.now


def test_covered_merges_overlaps():
    assert covered([]) == 0.0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert covered([(5, 6), (0, 1), (0, 1)]) == 2.0


def test_self_time_of_nested_spans():
    clock = FakeClock()
    t = Tracer(clock=clock)
    with t.span("epoch") as root:
        clock.now = 1.0
        with t.span("stage") as stage:
            clock.now = 2.0
            with t.span("append"):
                clock.now = 2.5
            clock.now = 4.0
        clock.now = 5.0
        with t.span("gate"):
            clock.now = 7.0
        clock.now = 10.0
    st = self_times(t.spans)
    assert root.duration == 10.0
    assert st[root.span_id] == 10.0 - 3.0 - 2.0
    assert st[stage.span_id] == 3.0 - 0.5
    assert sum(st.values()) == root.duration
    assert [s.name for s in t.children(root.span_id)] == ["stage", "gate"]
    assert {s.name for s in t.descendants(root.span_id)} == {"stage", "append", "gate"}


def test_self_time_clips_children_to_parent_and_merges_overlap():
    spans = [
        Span("p", "parent", 0.0, 10.0),
        Span("a", "child", 2.0, 6.0, parent="p"),
        Span("b", "child", 4.0, 12.0, parent="p"),  # overlaps a, ends late
    ]
    assert self_times(spans)["p"] == 2.0


def test_patch_wraps_and_restores():
    class Owner:
        @staticmethod
        def work(x):
            return x * 2

    original = Owner.work
    t = Tracer()
    with t.patch([(Owner, "work", lambda x: f"work.{x}")]):
        assert Owner.work(3) == 6
    assert Owner.work is original
    assert [s.name for s in t.spans] == ["work.3"]
    assert t.spans[0].end >= t.spans[0].start
