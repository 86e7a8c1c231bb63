"""The event-log reducer on a canned log.

The log holds two overlapping jobs inside one span: job 0 carries a job
group like a job submitted from the client thread, job 1 carries none, like
a job started on an ``io/jobs.run_overlapped`` worker thread.  Both must be
attributed by time to the span that was open.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from layers import measure_windows, read_event_log, reduce_log  # noqa: E402


def _task(stage, cpu_ns, shuffle, py_sent=0, failed=False):
    accs = []
    if py_sent:
        accs = [
            {"ID": 1, "Name": "data sent to Python workers", "Update": str(py_sent)},
            {"ID": 2, "Name": "data returned from Python workers", "Update": str(py_sent * 2)},
        ]
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
        "Task Info": {"Failed": failed, "Accumulables": accs},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


EVENTS = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 900},
    # job 0: client thread, grouped
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_100,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "client"}},
    # job 1: worker thread, no properties, overlaps job 0
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_300,
     "Stage IDs": [2]},
    _task(0, 500_000_000, 1_000, py_sent=10),
    _task(1, 250_000_000, 0),
    _task(2, 1_000_000_000, 2_000, failed=True),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_900},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_600},
    # job 2 reuses stage 1 (skipped there) and runs stage 3
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2_500,
     "Stage IDs": [1, 3]},
    _task(3, 100_000_000, 0),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2_700},
]
SPANS = [
    ("session.get_session", "setup", 0.0, 1_000.0),
    ("similarity.build_ivfpq_index", "setup", 1_050.0, 2_050.0),
    ("similarity.ivfpq_index_serve", "timed", 2_400.0, 2_900.0),
]


def _write(tmp_path, events):
    path = tmp_path / "local-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(tmp_path)


def test_worker_thread_job_is_attributed_by_time(tmp_path):
    red = reduce_log(_write(tmp_path, EVENTS), SPANS)
    assert red["problems"] == []
    assert red["jobs"] == 3
    build = red["spans"]["similarity.build_ivfpq_index"]
    assert build["jobs"] == 2
    # busy is the union of [1100, 1600] and [1300, 1900]
    assert build["busy_s"] == 0.8
    assert round(build["idle_s"], 6) == 0.2
    assert build["executor_cpu_s"] == 1.75
    assert build["shuffle_write_bytes"] == 3_000
    assert build["python_bytes"] == 30
    assert build["failed_tasks"] == 1
    serve = red["spans"]["similarity.ivfpq_index_serve"]
    # the reused stage 1 is charged to job 0, where it ran
    assert serve["jobs"] == 1 and serve["executor_cpu_s"] == 0.1
    assert red["spans"]["session.get_session"]["jobs"] == 0


def test_job_outside_every_span_is_a_problem(tmp_path):
    late = EVENTS + [
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 3_500, "Stage IDs": [4]},
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 3_600},
    ]
    red = reduce_log(_write(tmp_path, late), SPANS)
    assert red["problems"] == ["job 3 is inside 0 spans"]


def test_job_outliving_its_span_is_a_problem(tmp_path):
    spans = [SPANS[0], ("similarity.build_ivfpq_index", "setup", 1_050.0, 1_700.0)] + SPANS[2:]
    red = reduce_log(_write(tmp_path, EVENTS), spans)
    assert red["problems"] == ["job 1 is inside 0 spans"]


def test_windows_measure_per_call(tmp_path):
    events = read_event_log(_write(tmp_path, EVENTS))
    (m,) = measure_windows(events, [("query", "timed", 2_400.0, 2_900.0)])
    assert m["jobs"] == 1 and m["wall_s"] == 0.5 and m["busy_s"] == 0.2
