"""Self-time arithmetic of nested spans."""

from spans import (DRIVER_OTHER, Span, Tracer, attribution_errors, layer_counters,
                   nesting_errors, op_breakdown, self_times)


class Clock:
    def __init__(self, ticks):
        self.ticks = iter(ticks)

    def __call__(self):
        return next(self.ticks)


def test_self_time_subtracts_children():
    spans = [Span(0, "op", 0.0, 10.0, None, "op0"),
             Span(1, "fused", 1.0, 4.0, 0, "op0"),
             Span(2, "relations", 2.0, 3.0, 1, "op0"),
             Span(3, "io", 5.0, 9.0, 0, "op0")]
    st = self_times(spans)
    assert st == {0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0}


def test_breakdown_sums_to_the_op_wall_time():
    # op [0, 20]: a [1, 6] containing b [2, 5]; a second "a" [8, 12]
    t = Tracer(clock=Clock([0.0, 1.0, 2.0, 5.0, 6.0, 8.0, 12.0, 20.0]))
    with t.span("op", op="op0"):
        with t.span("a"):
            with t.span("b"):
                pass
        with t.span("a"):
            pass
    b = op_breakdown(t.spans)["op0"]
    assert b == {DRIVER_OTHER: 20.0 - 5.0 - 4.0, "a": 2.0 + 4.0, "b": 3.0}
    assert sum(b.values()) == 20.0
    assert [s.parent for s in t.spans] == [None, 0, 1, 0]
    assert {s.op for s in t.spans} == {"op0"}


def test_jobs_map_to_the_innermost_span():
    t = Tracer(clock=Clock([0.0, 1.0, 2.0, 3.0]))
    with t.span("op", op="op3"):
        with t.span("linking"):
            pass
    groups = {"pb|op3|1": {"jobs": 2, "tasks": 8}, "pb|op3|0": {"jobs": 1, "tasks": 1},
              "": {"jobs": 5, "tasks": 5}}
    out = layer_counters(t.spans, groups)
    assert out["op3"]["linking"]["jobs"] == 2
    assert out["op3"][DRIVER_OTHER]["tasks"] == 1
    assert "" not in out


def test_attribution_fails_when_the_op_took_longer_than_its_spans():
    # the root span covers [0, 10] but the op, timed outside the tracer, took 12 s
    spans = [Span(0, "op", 0.0, 10.0, None, "op1"), Span(1, "fused", 2.0, 6.0, 0, "op1")]
    b = op_breakdown(spans)
    assert attribution_errors(b, {"op1": 10.0}) == []
    assert attribution_errors(b, {"op1": 10.005}) == []
    assert len(attribution_errors(b, {"op1": 12.0})) == 1
    assert len(attribution_errors(b, {"op2": 1.0})) == 1   # an op without spans


def test_nesting_rejects_escaping_children_and_overlapping_siblings():
    ok = [Span(0, "op", 0.0, 10.0, None, "op0"), Span(1, "a", 1.0, 4.0, 0, "op0"),
          Span(2, "b", 4.0, 9.0, 0, "op0")]
    assert nesting_errors(ok) == []
    escaping = ok[:2] + [Span(2, "b", 4.0, 11.0, 0, "op0")]
    assert any("outside" in e for e in nesting_errors(escaping))
    overlapping = ok[:2] + [Span(2, "b", 3.0, 9.0, 0, "op0")]
    assert any("overlap" in e for e in nesting_errors(overlapping))
