import json

import eventlog

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _job(jid, t, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t, "Stage IDs": stages, "Properties": props}


def _stage(sid):
    return {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": sid}}


def _task(sid, run_ms=10, shuffle_w=0, shuffle_r=0, spill=0, input_b=0, gc=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": sid,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": gc,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_r},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Input Metrics": {"Bytes Read": input_b},
        },
    }


def _end(jid):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid}


def _plan(*names):
    root = {"nodeName": "AdaptiveSparkPlan", "children": []}
    root["children"] = [{"nodeName": n, "children": []} for n in names]
    return root


# Query "q1" runs in [1000, 2000]: job 0 scans and shuffles (stages 0, 1).
# Query "q2" runs in [3000, 4000]: job 1 in the caller's job group reuses
# stage 1's shuffle (skipped) and runs stage 2; jobs 2 and 3 are
# micro-batch jobs on a stream thread with no job group. Job 4 runs
# between the two queries.
EVENTS = [
    {"Event": "SparkListenerLogStart"},
    {"Event": SQL_START, "executionId": 0, "time": 1001, "sparkPlanInfo": _plan("Scan parquet ")},
    _job(0, 1010, [0, 1], group="q1"),
    _stage(0),
    _task(0, input_b=3 * 1024 * 1024, shuffle_w=1024 * 1024),
    _task(0, input_b=1024 * 1024, shuffle_w=1024 * 1024, gc=5),
    _stage(1),
    _task(1, shuffle_r=2 * 1024 * 1024, spill=512 * 1024),
    _end(0),
    {"Event": SQL_AQE, "executionId": 0, "sparkPlanInfo": _plan("Scan parquet ", "Scan parquet ", "ArrowEvalPython")},
    _job(4, 2500, [5]),
    _stage(5),
    _task(5),
    _end(4),
    {"Event": SQL_START, "executionId": 1, "time": 3001, "sparkPlanInfo": _plan("BatchEvalPython", "Scan ExistingRDD")},
    _job(1, 3010, [1, 2], group="q2"),
    _stage(2),
    _task(2),
    _end(1),
    _job(2, 3300, [3]),
    _stage(3),
    _task(3),
    _task(3),
    _end(2),
    _job(3, 3600, [4]),
    _stage(4),
    _task(4),
    _end(3),
    _job(9, 9000, [9]),
    _stage(9),
    _task(9),
    _end(9),
]

WINDOWS = [("q1", 1000, 2000), ("q2", 3000, 4000), ("gap", 1000, 4000)]


def test_attribution_by_window_counts_stream_thread_jobs():
    by = eventlog.attribute(eventlog.fold(EVENTS), WINDOWS)
    q1, q2 = by["q1"], by["q2"]
    # Only one job carries q2's group; the window also sees jobs 2 and 3.
    assert sum(e.get("Properties", {}).get("spark.jobGroup.id") == "q2" for e in EVENTS if "Job ID" in e and "Properties" in e) == 1
    assert q2["jobs"] == 3
    assert q1["jobs"] == 1
    assert (q1["stages"], q1["stages_skipped"], q1["tasks"]) == (2, 0, 3)
    assert (q2["stages"], q2["stages_skipped"], q2["tasks"]) == (3, 1, 4)
    assert by["gap"]["jobs"] == 1
    assert by[None]["jobs"] == 1


def test_task_metrics_follow_their_job():
    q1 = eventlog.attribute(eventlog.fold(EVENTS), WINDOWS)["q1"]
    assert q1["input_bytes"] == 4 * 1024 * 1024
    assert q1["shuffle_write_bytes"] == 2 * 1024 * 1024
    assert q1["shuffle_read_bytes"] == 2 * 1024 * 1024
    assert q1["spill_bytes"] == 512 * 1024
    assert q1["gc_ms"] == 5
    assert q1["executor_run_ms"] == 30
    assert q1["executor_cpu_ns"] == 30_000_000


def test_plan_counts_use_the_last_adaptive_plan():
    by = eventlog.attribute(eventlog.fold(EVENTS), WINDOWS)
    assert (by["q1"]["scan_nodes"], by["q1"]["python_nodes"]) == (2, 1)
    assert (by["q2"]["scan_nodes"], by["q2"]["python_nodes"]) == (0, 1)


def test_count_jobs_in_spans_and_read_events(tmp_path):
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    folded = eventlog.fold(eventlog.read_events(str(path)))
    assert eventlog.count_jobs_in(folded, [(3200, 3700)]) == 2
    assert eventlog.count_jobs_in(folded, [(1000, 1010), (9000, 9000)]) == 2
    assert eventlog.count_jobs_in(folded, []) == 0
