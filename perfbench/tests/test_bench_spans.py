"""Span self-time arithmetic."""

import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Span, Tracer, clip, self_times, union_length  # noqa: E402


def _s(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "run")


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (3, 4)]) == 4.0
    assert union_length([(5, 6), (0, 10)]) == 10.0
    assert union_length([(1, 1), (2, 1)]) == 0.0


def test_clip():
    assert clip([(0, 5), (6, 7), (8, 20)], 2, 10) == [(2, 5), (6, 7), (8, 10)]
    assert clip([(0, 1)], 2, 3) == []


def test_self_time_subtracts_union_of_children():
    spans = [
        _s(0, 0.0, 10.0),
        _s(1, 1.0, 3.0, parent=0),
        _s(2, 2.0, 5.0, parent=0),  # overlaps s1: covered 1..5 once
        _s(3, 7.0, 8.0, parent=0),
        _s(4, 2.5, 3.5, parent=2),  # grandchild: only s2 loses it
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - (4.0 + 1.0)
    assert st[1] == 2.0
    assert st[2] == 3.0 - 1.0
    assert st[3] == 1.0
    assert st[4] == 1.0


def test_child_overrunning_parent_is_clipped():
    st = self_times([_s(0, 0.0, 10.0), _s(1, 8.0, 12.0, parent=0)])
    assert st[0] == 8.0
    assert st[1] == 4.0


def test_self_times_add_up_to_root_duration():
    spans = [_s(0, 0.0, 10.0), _s(1, 1.0, 4.0, 0), _s(2, 5.0, 9.0, 0), _s(3, 6.0, 7.0, 2)]
    st = self_times(spans)
    assert abs(sum(st.values()) - 10.0) < 1e-12


def test_tracer_nests_and_totals():
    t = Tracer("r", enabled=True)
    with t.span("op"):
        with t.span("plans.build"):
            pass
        with t.span("exec"):
            with t.span("store.write_version"):
                pass
    by_name = {s.name: s for s in t.spans}
    assert by_name["op"].parent is None
    assert by_name["plans.build"].parent == by_name["op"].id
    assert by_name["store.write_version"].parent == by_name["exec"].id
    tot = t.totals("store.")
    assert list(tot) == ["store.write_version"] and tot["store.write_version"]["n"] == 1
    assert all(s.run == "r" for s in t.spans)


def test_span_on_callback_thread_hangs_under_waiting_span():
    # a streaming sink runs on another thread while the caller waits
    t = Tracer("r", enabled=True)
    with t.span("exec") as outer:

        def sink():
            with t.span("store.merge_upsert"):
                pass
        th = threading.Thread(target=sink)
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    inner = [s for s in t.spans if s.name == "store.merge_upsert"]
    assert inner and inner[-1].parent == outer.id


def test_disabled_tracer_records_nothing():
    t = Tracer("r", enabled=False)
    with t.span("x") as s:
        assert s is None
    assert t.spans == [] and t.totals() == {}
