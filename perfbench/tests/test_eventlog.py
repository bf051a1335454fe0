import json

import pytest

from perfbench import eventlog

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def _task(stage, launch_ms, run_ms, accs):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch_ms,
            "Finish Time": launch_ms + run_ms,
            "Accumulables": [{"ID": i, "Name": n, "Update": u, "Value": u} for i, n, u in accs],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 500_000,  # ns: half the run time on CPU
            "JVM GC Time": 10,
            "Memory Bytes Spilled": 1,
            "Disk Bytes Spilled": 2,
            "Input Metrics": {"Bytes Read": 100},
            "Output Metrics": {"Bytes Written": 50},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            "Shuffle Read Metrics": {"Local Bytes Read": 3, "Remote Bytes Read": 4,
                                     "Fetch Wait Time": 20},
        },
    }


@pytest.fixture
def log():
    plan = {
        "nodeName": "MapInPandas",
        "metrics": [
            {"name": "time to run Python workers", "accumulatorId": 1, "metricType": "nsTiming"},
            {"name": "data sent to Python workers", "accumulatorId": 2, "metricType": "size"},
        ],
        "children": [{"nodeName": "Scan", "children": [],
                      "metrics": [{"name": "scan time", "accumulatorId": 3,
                                   "metricType": "timing"}]}],
    }
    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 1_000_000},
        # a task may report a metric before an adaptive re-plan declares it
        _task(1, 1_000_100, 100, [(1, "time to run Python workers", 2_000_000_000),
                                  (2, "data sent to Python workers", 4096),
                                  (3, "scan time", 30)]),
        {"Event": SQL_START, "executionId": 0, "time": 1_000_050,
         "physicalPlanDescription": "Exchange REPARTITION_BY_NUM", "sparkPlanInfo": plan},
        _task(1, 1_000_200, 300, [(1, "time to run Python workers", 1_000_000_000)]),
        _task(1, 1_000_300, 100, [(1, "time to run Python workers", 1_000_000_000)]),
        _task(2, 1_005_000, 50, [(9, "unrelated metric", 5)]),
        {"Event": "SparkListenerJobStart", "Submission Time": 1_004_900},
    ]
    return eventlog.parse_lines(json.dumps(e) for e in events)


def test_counters_convert_units(log):
    c = eventlog.counters(log)
    assert c["tasks"] == 4 and c["jobs"] == 2
    assert c["python_run_s"] == pytest.approx(4.0)  # nsTiming
    assert c["python_bytes_sent"] == 4096  # size
    assert c["scan_s"] == pytest.approx(0.030)  # timing is ms
    assert c["executor_run_s"] == pytest.approx(0.55)
    assert c["executor_cpu_s"] == pytest.approx(0.275)
    assert c["gc_s"] == pytest.approx(0.04)
    assert c["spill_bytes"] == 12
    assert c["shuffle_read_bytes"] == 28 and c["shuffle_write_bytes"] == 28
    assert c["fetch_wait_s"] == pytest.approx(0.08)


def test_window_selects_tasks_jobs_and_plans(log):
    w = log.window(1000.0, 1001.0)
    assert len(w.tasks) == 3 and len(w.job_starts) == 1
    assert "REPARTITION_BY_NUM" in w.plans[0][1]
    assert eventlog.counters(log.window(1004.0, 1006.0))["tasks"] == 1


def test_python_stage_skew_is_max_over_median(log):
    # the Python stage's run times are 100, 300, 100 ms
    assert eventlog.python_stage_skew(log) == pytest.approx(3.0)
    assert eventlog.python_stage_skew(log.window(1004.0, 1006.0)) == 0.0


def test_read_dir_skips_unfinished_logs(tmp_path, log):
    (tmp_path / "app-1").write_text(json.dumps(
        {"Event": "SparkListenerJobStart", "Submission Time": 5}) + "\n")
    (tmp_path / "app-2.inprogress").write_text("not json\n")
    assert eventlog.read_dir(tmp_path).job_starts == [0.005]
