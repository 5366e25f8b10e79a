"""Self-time arithmetic and per-layer aggregation on synthetic spans."""

import pytest

from perfbench import trace
from perfbench.workloads import tail


def _span(i, name, start, end, parent=None, op=0, jobs=0):
    s = trace.Span(name, i, parent, op, f"g{i}", start, end)
    s.counters = dict.fromkeys(trace.COUNTERS, 0)
    s.counters["jobs"] = jobs
    return s


def test_self_time_subtracts_union_of_children():
    parent = _span(0, "p", 0.0, 10.0)
    kids = [
        _span(1, "a", 1.0, 3.0, 0),
        _span(2, "b", 2.0, 5.0, 0),  # overlaps a: counted once
        _span(3, "c", 7.0, 8.0, 0),
        _span(4, "d", 9.5, 12.0, 0),  # clipped at the parent's end
    ]
    assert trace.self_time(parent, kids) == pytest.approx(10 - 4 - 1 - 0.5)
    assert trace.self_time(parent, []) == 10.0


def test_per_op_busy_times_add_up_to_the_parent_wall():
    spans = [
        _span(0, "pipeline.run_batch", 0.0, 4.0, jobs=1),
        _span(1, "validate.validate_batch", 0.5, 1.5, 0, jobs=2),
        _span(2, "upsert.merge", 2.0, 3.5, 0, jobs=3),
        _span(3, "pipeline.run_batch", 10.0, 11.0, op=1),
    ]
    ops = trace.per_op(spans)
    rows = ops[0]
    assert rows["pipeline.run_batch"]["busy_s"] == pytest.approx(1.5)
    assert sum(r["busy_s"] for r in rows.values()) == pytest.approx(4.0)
    assert rows["pipeline.run_batch"]["jobs"] == 6  # counters cover the subtree
    assert rows["upsert.merge"]["jobs"] == 3
    med = trace.layer_medians(ops, ["pipeline.run_batch", "upsert.merge", "x"])
    assert med["pipeline.run_batch.busy_s"] == pytest.approx((1.5 + 1.0) / 2)
    assert med["upsert.merge.busy_s"] == pytest.approx(1.5)  # only op 0 calls it
    assert med["x.busy_s"] == 0 and med["x.jobs"] == 0


class _FakeTracker:
    def getJobIdsForGroup(self, group):
        return []


class _FakeSc:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setLocalProperty(self, k, v):
        self.props[k] = v

    def statusTracker(self):
        return _FakeTracker()


def test_tracer_nesting_and_job_groups():
    sc = _FakeSc()
    t = trace.Tracer(sc)
    with t.span("ignored"):  # inactive: records nothing
        pass
    assert t.spans == []
    t.active = True
    t.op = 5
    t.begin("outer")
    t.begin("left-open")
    assert sc.props[trace.JOB_GROUP] == t.spans[1].group
    t.end("outer")  # closes the dangling inner span too
    assert sc.props[trace.JOB_GROUP] is None
    assert [s.parent for s in t.spans] == [None, 0]
    assert all(s.end is not None and s.op == 5 for s in t.spans)
    t.end("never-opened")  # no-op


def test_tail_rule():
    xs = [float(i) for i in range(1, 8)]
    assert tail(xs) == (7.0, 100.0)
    xs = [float(i) for i in range(1, 26)]  # 25 samples: 10 beyond the 15th
    value, pct = tail(xs)
    assert value == 15.0 and pct == pytest.approx(60.0)
    assert sum(x > value for x in xs) == 10
