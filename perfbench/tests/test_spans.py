from perfbench.spans import Span, Tracer, self_times


def _span(i, parent, start, end):
    return Span(id=i, parent=parent, trace=1, name=f"s{i}", start=start, end=end)


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 2.0, 5.0),
        _span(3, 1, 4.0, 7.0),  # overlaps span 2: covered 2..7 counts once
        _span(4, 2, 2.5, 3.0),  # grandchild: only its parent's self time shrinks
    ]
    st = self_times(spans)
    assert st[1] == 5.0
    assert st[2] == 2.5
    assert st[3] == 3.0
    assert st[4] == 0.5


def test_self_time_clips_children_to_parent():
    st = self_times([_span(1, None, 0.0, 4.0), _span(2, 1, 3.0, 6.0)])
    assert st[1] == 3.0


def test_tracer_records_parents_and_trace_ids():
    t = Tracer()
    with t.span("a"):
        with t.span("b"):
            pass
    with t.span("c"):
        pass
    a, b, c = t.spans
    assert (a.parent, b.parent, c.parent) == (None, a.id, None)
    assert (a.trace, b.trace, c.trace) == (a.id, a.id, c.id)
    out = t.to_json()
    assert out[0]["self_s"] <= out[0]["duration_s"]


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("a") as s:
        assert s is None
    assert t.spans == []
