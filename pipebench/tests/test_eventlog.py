"""The event-log reader on hand-written event streams (no Spark needed)."""

from __future__ import annotations

import json

import pytest

from eventlog import SPAN_PROPERTY, EventLog, event_files

SQL = "org.apache.spark.sql.execution.ui."


def _task_end(stage, ms, cpu_ns, accums=(), shuffle=0, out=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Info": {
            "Launch Time": 1000,
            "Finish Time": 1000 + ms,
            # SQL metric updates arrive as strings.
            "Accumulables": [
                {"ID": i, "Update": str(v), "Internal": True, "Metadata": "sql"} for i, v in accums
            ],
        },
        "Task Metrics": {
            "Executor Run Time": ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 1,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Output Metrics": {"Bytes Written": out, "Records Written": 1},
        },
    }


def _stage_info(event, stage, **times):
    return {
        "Event": event,
        "Stage Info": {"Stage ID": stage, "Stage Attempt ID": 0, "Stage Name": f"s{stage}",
                       "Number of Tasks": 2, **times},
    }


def _plan(event, eid, metrics, **extra):
    return {
        "Event": SQL + event,
        "executionId": eid,
        "physicalPlanDescription": "plan",
        "sparkPlanInfo": {
            "nodeName": "Filter",
            "metrics": [{"name": "number of output rows", "accumulatorId": metrics[0]}],
            "children": [
                {
                    "nodeName": "Scan parquet ",
                    "metrics": [{"name": "number of output rows", "accumulatorId": metrics[1]}],
                    "children": [],
                }
            ],
        },
        **extra,
    }


EVENTS = [
    _plan("SparkListenerSQLExecutionStart", 7, (10, 11), time=5000, description="q"),
    # AQE re-plans: new accumulators for the same nodes.
    _plan("SparkListenerSQLAdaptiveExecutionUpdate", 7, (20, 21)),
    {"Event": "SparkListenerJobStart", "Job ID": 3, "Stage IDs": [1, 2], "Submission Time": 5001,
     "Properties": {"spark.sql.execution.id": "7", SPAN_PROPERTY: "op"}},
    _stage_info("SparkListenerStageSubmitted", 1, **{"Submission Time": 5002}),
    _task_end(1, 100, 50_000_000, accums=[(20, 3), (21, 10)], shuffle=400),
    _task_end(1, 300, 70_000_000, accums=[(20, 2), (21, 10)], shuffle=600),
    # Completion carries no metrics; it must not erase the folded ones.
    _stage_info("SparkListenerStageCompleted", 1, **{"Submission Time": 5002, "Completion Time": 5400}),
    _task_end(2, 50, 1_000_000, out=123),
    {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 5500},
    {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 7, "accumUpdates": [[21, 5]]},
    {"Event": SQL + "SparkListenerSQLExecutionEnd", "executionId": 7, "time": 6500},
]


def _write(path, events):
    path.write_text("".join(json.dumps(e) + "\n" for e in events))


def test_task_metrics_fold_into_stage(tmp_path):
    _write(tmp_path / "app-1", EVENTS)
    log = EventLog.read(str(tmp_path))
    st = log.stages[(1, 0)]
    assert st.tasks == 2
    assert st.run_ms == 400 and st.cpu_ns == 120_000_000 and st.gc_ms == 2
    assert st.shuffle_write_bytes == 1000
    assert st.complete_ms == 5400 and st.name == "s1"
    assert st.task_skew == pytest.approx(300 / 200)
    assert log.stages[(2, 0)].output_bytes == 123


def test_sql_metrics_map_to_plan_nodes(tmp_path):
    _write(tmp_path / "app-1", EVENTS)
    log = EventLog.read(str(tmp_path))
    (ex,) = log.executions_of("op")
    assert ex.duration_s == pytest.approx(1.5)
    # task updates on the re-planned accumulators, plus the driver update
    assert log.sql_metric(ex, "Scan parquet", "number of output rows") == 25
    assert log.sql_metric(ex, "Filter", "number of output rows", above="Scan parquet") == 5
    assert log.sql_metric(ex, "Filter", "number of output rows", not_above="Scan parquet") == 0
    assert [s.stage_id for s in log.stages_of(log.jobs_of(execution_id=7))] == [1, 2]


def test_rolling_layout_is_read_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    _write(d / "events_2_local-1", EVENTS[5:])
    _write(d / "events_1_local-1", EVENTS[:5])
    (d / "appstatus_local-1").write_text("")
    assert [p.rsplit("/", 1)[1] for p in event_files(str(d))] == [
        "events_1_local-1", "events_2_local-1"
    ]
    assert EventLog.read(str(d)).stages[(1, 0)].tasks == 2


def test_compressed_log_is_refused(tmp_path):
    (tmp_path / "local-1.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(ValueError, match="compress"):
        EventLog.read(str(tmp_path))
