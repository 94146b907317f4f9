"""Tests of the event-log reader against a small recorded log.

``testdata/events_small.zstd`` is one ``run_pipeline`` call of the
``batch_routed`` workload on a one-file input (3,125 rows), recorded
with ``spark.eventLog.enabled`` and trimmed to the fields the reader
uses. Run with ``python3 -m pytest perfbench``.
"""

from __future__ import annotations

import os

import eventlog

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                   "testdata", "events_small.zstd")


def _log():
    return eventlog.parse(eventlog.read_events(LOG))


def test_executions_attributed_by_output_path():
    execs = _log().window(0, 1e12)
    assert [e.target for e in execs] == [
        "sink.sink_web", "sink.sink_json", "sink.sink_kv", "sink.sink_src1",
        "sink.sink_errors", "dlq", "metrics_write", "totals_collect"]
    assert all(e.seconds > 0 for e in execs)


def test_python_boundary_from_mapinarrow_metrics():
    log = _log()
    execs = log.window(0, 1e12)
    py = log.python_boundary(execs)
    # the keep=True rewrite unions the parsed frame with itself, so the
    # cache build sends every input row through Python twice
    assert py["rows"] == 2 * 3125
    assert py["sent_bytes"] > 0 and py["returned_bytes"] > py["sent_bytes"]
    assert py["run_ms"] > 0
    # only the first write builds the persisted cache; the rest read it
    first = [e for e in execs if e.target == "sink.sink_web"]
    assert log.python_boundary(first) == py


def test_shuffle_only_in_metrics_aggregate():
    log = _log()
    execs = log.window(0, 1e12)
    sinks = [e for e in execs if e.target.startswith("sink.")]
    assert log.shuffle(sinks) == {"bytes_written": 0, "records": 0}
    agg = log.shuffle([e for e in execs if e.target == "metrics_write"])
    assert agg["bytes_written"] > 0 and agg["records"] > 0


def test_failures_and_retries_counted():
    events = eventlog.read_events(LOG)
    assert eventlog.parse(events).failures() == {
        "task_failed": 0, "stage_retried": 0}
    failed = {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
              "Task End Reason": {"Reason": "ExceptionFailure"},
              "Task Info": {"Accumulables": []}}
    retry = {"Event": "SparkListenerStageSubmitted",
             "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 1}}
    assert eventlog.parse(events + [failed, retry]).failures() == {
        "task_failed": 1, "stage_retried": 1}


def test_window_drops_wrapping_executions():
    """A streaming micro-batch's execution wraps the writes that its
    foreachBatch function runs; only the writes count."""
    def start(i, root, t):
        return {"Event": "org.apache.spark.sql.execution.ui."
                         "SparkListenerSQLExecutionStart",
                "executionId": i, "rootExecutionId": root,
                "description": "", "time": t, "sparkPlanInfo": {}}
    log = eventlog.parse([start(7, 7, 1000), start(8, 7, 1100),
                          start(9, 7, 1200), start(10, 10, 5000)])
    assert [e.id for e in log.window(0.5, 2.0)] == [8, 9]
    assert [e.id for e in log.window(0, 10)] == [8, 9, 10]
