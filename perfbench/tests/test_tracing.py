import os

import pytest

import tracing
from tracing import Span

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures")


def _span(sid, start, end, parent=None, jobs=()):
    return Span(span_id=sid, name=sid, trace_id="t", parent_id=parent,
                start=start, end=end, jobs=list(jobs))


def test_self_time_subtracts_children_once():
    spans = [_span("p", 0.0, 10.0),
             _span("a", 1.0, 4.0, "p"), _span("b", 3.0, 5.0, "p"),   # overlap: 1..5
             _span("c", 7.0, 8.0, "p"),
             _span("g", 1.5, 2.0, "a")]                              # grandchild
    st = tracing.self_times(spans)
    assert st["p"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st["a"] == pytest.approx(3.0 - 0.5)
    assert st["g"] == pytest.approx(0.5)


def test_self_time_clips_children_to_parent():
    st = tracing.self_times([_span("p", 2.0, 6.0), _span("a", 0.0, 3.0, "p")])
    assert st["p"] == pytest.approx(3.0)


def test_event_log_attributes_tasks_to_job_groups():
    groups = tracing.group_metrics(tracing.read_event_log(FIXTURE))
    assert set(groups) == {"pb00001", "pb00002", "pb00003"}      # untagged job 0 dropped
    g2 = groups["pb00002"]
    assert g2["tasks"] == 3
    assert g2["task_run_s"] == pytest.approx(2.75)
    assert g2["jvm_cpu_s"] == pytest.approx(0.55)
    assert g2["shuffle_write_bytes"] == 1200
    assert g2["shuffle_read_bytes"] == 1200
    assert g2["spill_bytes"] == 5120
    # stage 3's submission carried no group: the job that listed it decides
    assert groups["pb00001"]["tasks"] == 1
    # stage 1, re-listed by a later job, stays with the group that ran it
    assert groups["pb00003"]["tasks"] == 1
    assert groups["pb00003"]["shuffle_read_bytes"] == 300


def test_span_metrics_roll_up_descendants():
    groups = tracing.group_metrics(tracing.read_event_log(FIXTURE))
    spans = [_span("pb00001", 0, 10, jobs=[2]), _span("pb00002", 1, 5, "pb00001", jobs=[1]),
             _span("pb00003", 6, 9, jobs=[3])]
    m = tracing.span_metrics(spans[0], spans, groups)
    assert m["jobs"] == 2 and m["tasks"] == 4
    assert m["task_run_s"] == pytest.approx(3.15)
    assert tracing.span_metrics(spans[2], spans, groups)["tasks"] == 1


def test_tracer_records_parent_and_trace_ids_without_spark():
    tr = tracing.Tracer()
    with tr.span("pass", "pass1") as outer:
        with tr.span("harness.stage1") as inner:
            pass
    with tr.span("pass", "pass2"):
        pass
    assert inner.parent_id == outer.span_id and inner.trace_id == "pass1"
    assert [s["trace_id"] for s in tr.to_json()] == ["pass1", "pass1", "pass2"]
    assert all(s["end"] >= s["start"] for s in tr.to_json())
