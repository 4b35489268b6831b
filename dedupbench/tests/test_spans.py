"""Span self times and event-log attribution."""

import json

import spans as tr


class Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_children():
    clock = Clock()
    t = tr.Tracer(clock=clock)
    with t.span("root", "a"):
        clock.t = 1
        with t.span("c1", "b"):
            clock.t = 3
        clock.t = 4
        with t.span("c2", "c"):
            clock.t = 5
            with t.span("g", "b"):
                clock.t = 7
            clock.t = 8
        clock.t = 10
    st = tr.self_times(t.spans)
    assert [st[s.id] for s in t.spans] == [4, 2, 2, 2]
    assert sum(st.values()) == t.spans[0].dur == 10
    assert tr.layer_self(t.spans) == {"a": 4, "b": 4, "c": 2}
    assert [s.name for s in tr.subtree(t.spans, t.spans[2])] == ["c2", "g"]


def test_overlapping_children_count_once_and_clip_to_parent():
    spans = [
        tr.Span(0, "p", "p", None, 0, 10),
        tr.Span(1, "x", "x", 0, 2, 6),
        tr.Span(2, "y", "y", 0, 4, 8),
        tr.Span(3, "z", "z", 0, 9, 12),
    ]
    assert tr.self_times(spans)[0] == 10 - 6 - 1


def test_eventlog_charges_tasks_to_the_submitting_span(tmp_path):
    def task(stage, ms, cpu_ns, py_ms=None):
        acc = [] if py_ms is None else [{"Name": "time to run Python workers", "Update": str(py_ms)}]
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 0, "Finish Time": ms, "Accumulables": acc},
            "Task Metrics": {
                "Executor CPU Time": cpu_ns, "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 5},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                "Output Metrics": {"Bytes Written": 11},
            },
        }

    props = {"spark.job.description": "span:3"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 4},
         "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 5},
         "Properties": {}},
        task(4, 1000, 5e8, 300), task(4, 3000, 5e8), task(5, 9000, 1e9),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 4000},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    work = tr.parse_eventlog(str(tmp_path))
    assert set(work) == {3}
    w = work[3]
    assert (w.jobs, w.tasks) == (1, 2)
    assert (w.jvm_cpu_s, w.python_s) == (1.0, 0.3)
    assert (w.shuffle_read_b, w.shuffle_write_b, w.output_b) == (10, 14, 22)
    assert w.task_skew == 3 / 2


def test_dump_writes_spans_with_their_work(tmp_path):
    t = tr.Tracer()
    with t.span("a"):
        with t.span("b", "L"):
            pass
    path = tmp_path / "out" / "spans.json"
    t.dump(str(path), {1: tr.SpanWork(jobs=2)})
    rows = json.loads(path.read_text())
    assert [(r["name"], r["layer"], r["parent"]) for r in rows] == [("a", "a", None), ("b", "L", 0)]
    assert rows[0]["work"] is None and rows[1]["work"]["jobs"] == 2


def test_phases_partition_their_span():
    clock = Clock()
    t = tr.Tracer(clock=clock)
    with t.phases("batch", "inc", first="guard") as ph:
        clock.t = 1
        ph.enter("sign")
        with t.span("read", "io"):
            clock.t = 2
            ph.enter("verify")  # inside a nested span: no phase change
            clock.t = 3
        ph.enter("sign")  # the open phase: no change
        clock.t = 4
        ph.enter("verify")
        clock.t = 6
    names = [(s.name, s.parent, s.dur) for s in t.spans]
    assert names == [("batch", None, 6), ("inc.guard", 0, 1), ("inc.sign", 0, 3),
                     ("read", 2, 2), ("inc.verify", 0, 2)]
    st = tr.self_times(t.spans)
    assert st[0] == 0 and sum(st.values()) == 6
