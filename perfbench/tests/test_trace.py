"""The event-log reader folds tasks per job group, and span self times
subtract direct children; spans dump as JSON lines."""

import io
import json

import eventlog
import layers
import spans


def _task(stage, *, cpu=0, gc=0, out=0, py=None, t=(0, 10)):
    acc = [{"Name": k, "Update": str(v)} for k, v in (py or {}).items()]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": t[0], "Finish Time": t[1],
                          "Accumulables": acc},
            "Task Metrics": {"Executor CPU Time": cpu, "JVM GC Time": gc,
                             "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {
                                 "Shuffle Bytes Written": 5},
                             "Output Metrics": {"Bytes Written": out}}}


def test_read_groups(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    evs = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "r1/3"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2]},
        _task(0, cpu=2_000_000, gc=7, out=100),
        _task(1, py={"time to run Python workers": 40,
                     "data sent to Python workers": 1000}, t=(5, 50)),
        _task(2, cpu=1),
    ]
    (app / "events_1_local-1").write_text(
        "\n".join(json.dumps(e) for e in evs) + "\n")
    g = eventlog.read_groups(str(tmp_path))
    assert set(g) == {"r1/3", ""}
    a = g["r1/3"]
    assert (a.jobs, a.cpu_ns, a.gc_ms, a.output_b) == (1, 2_000_000, 7, 100)
    assert a.shuffle_write_b == 10 and a.task_ms == [10, 45]
    assert (a.py_run_ms, a.py_sent_b, a.py_task_ms) == (40, 1000, [45])
    assert g[""].jobs == 1 and g[""].cpu_ns == 1


def test_self_time_and_job_metrics():
    tr = spans.Tracer("r")
    with tr.span("job") as root:
        with tr.span("pipeline.classify_build"):
            with tr.span("pipeline.pass1"):
                pass
        with tr.span("sinks.write"):
            pass
    rid = root["id"]
    # pin the clock: job 0-10, build 1-5, pass1 2-4, write 6-9
    for sid, (a, b) in enumerate([(0, 10), (1, 5), (2, 4), (6, 9)]):
        tr.spans[sid].update(start=a, end=b)
    assert tr.self_time(1) == 2 and tr.self_time(rid) == 3
    m = layers.job_metrics(tr, {}, rid)
    assert m["pipeline.classify_build_s"] == 2
    assert m["pipeline.pass1_s"] == 2 and m["sinks.write_s"] == 3
    assert m["trace.coverage"] == 0.7


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer("r")
    tr.enabled = False
    with tr.span("job") as sp:
        assert sp is None
    assert tr.spans == []


def test_dump_writes_one_json_line_per_span():
    tr = spans.Tracer("r7")
    with tr.span("job"):
        with tr.span("sinks.write"):
            pass
    out = io.StringIO()
    tr.dump(out)
    rows = [json.loads(line) for line in out.getvalue().splitlines()]
    assert [(r["name"], r["parent"], r["run"]) for r in rows] \
        == [("job", None, "r7"), ("sinks.write", 0, "r7")]
    assert all(r["end"] >= r["start"] for r in rows)
