import json

import pytest

from benchsuite.trace import EventLog, Span, Tracer, self_ms


def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", 1, parent, start, end)


def test_self_time_subtracts_the_union_of_children():
    root = _span(1, 0.0, 10.0)
    kids = [
        _span(2, 1.0, 3.0, 1),
        _span(3, 2.0, 4.0, 1),  # overlaps span 2: counted once
        _span(4, 6.0, 7.0, 1),
        _span(5, 9.0, 12.0, 1),  # runs past the parent: clipped
        _span(6, 20.0, 21.0, 1),  # outside the parent: ignored
    ]
    # covered: [1,4] + [6,7] + [9,10] = 5 s
    assert self_ms(root, kids) == pytest.approx(5000.0)
    assert self_ms(root, []) == pytest.approx(10000.0)


def test_tracer_links_spans_to_the_current_op():
    tr = Tracer()
    op = tr.begin_op("write")
    assert tr.open("x") is None  # disabled: nothing recorded
    tr.enabled = True
    outer = tr.open("outer")
    inner = tr.open("inner")
    tr.close(inner)
    tr.close(outer)
    tr.end_op(op)
    assert tr.open("late") is None  # no op running
    by_name = {s.name: s for s in tr.spans}
    assert by_name["outer"].parent == op.sid
    assert by_name["inner"].parent == by_name["outer"].sid
    assert {s.op for s in tr.spans} == {op.sid}
    assert tr.ops == [op]


def _ev(**kw):
    return json.dumps(kw)


def test_event_log_attribution(tmp_path):
    task = lambda stage, run, cpu_ns, read, sw, spill: _ev(  # noqa: E731
        Event="SparkListenerTaskEnd",
        **{"Stage ID": stage},
        **{"Task Metrics": {
            "Executor Run Time": run,
            "Executor CPU Time": cpu_ns,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": read},
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
        }},
    )
    lines = [
        _ev(Event="SparkListenerApplicationStart"),
        # op window A = [100 s, 110 s]: job 0 (stages 0, 1; stage 1 skipped)
        _ev(Event="SparkListenerJobStart", **{"Submission Time": 100_500, "Stage IDs": [0, 1]}),
        task(0, 30, 2_000_000, 100, 7, 0),
        task(0, 20, 1_000_000, 50, 0, 4),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
        # window B = [120 s, 130 s]: job 1
        _ev(Event="SparkListenerJobStart", **{"Submission Time": 125_000, "Stage IDs": [2]}),
        task(2, 5, 500_000, 0, 0, 0),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 2}}),
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(lines) + "\n")
    assert EventLog.find(str(tmp_path)) == str(path)
    log = EventLog(str(path))
    a = log.attribute(100.0, 110.0)
    assert (a.jobs, a.stages, a.tasks) == (1, 1, 2)
    assert a.executor_run_ms == 50 and a.executor_cpu_ms == pytest.approx(3.0)
    assert (a.input_bytes, a.shuffle_read_bytes, a.shuffle_write_bytes, a.spill_bytes) == (150, 6, 7, 4)
    b = log.attribute(120.0, 130.0)
    assert (b.jobs, b.stages, b.tasks, b.executor_run_ms) == (1, 1, 1, 5)
    assert log.attribute(111.0, 119.0).jobs == 0
