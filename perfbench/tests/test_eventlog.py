import json
import os

import pytest

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    # two jobs of one query captured from a Spark 4.1 event log (job 8 skips
    # the map stage it shares with an earlier job), trimmed to the fields read
    with open(FIXTURE) as f:
        return eventlog.parse(f)


def test_jobs_and_times(log):
    assert sorted(log.jobs) == [7, 8]
    assert log.jobs[7].submit_s == pytest.approx(1792209277.502)
    assert log.jobs[7].end_s == pytest.approx(1792209277.625)
    assert log.jobs[8].submit_s == pytest.approx(1792209277.813)
    assert log.jobs[8].end_s == pytest.approx(1792209278.386)


def test_stage_task_metrics(log):
    assert sorted(log.stages) == [9, 11]  # stage 10 was skipped, never completed
    s9, s11 = log.stages[9], log.stages[11]
    assert (s9.tasks, s9.shuffle_write_bytes, s9.shuffle_read_bytes) == (1, 16702, 0)
    assert (s11.tasks, s11.shuffle_read_bytes, s11.shuffle_write_bytes) == (4, 16702, 336)
    assert s9.cpu_s == pytest.approx(0.052040649)
    assert s11.cpu_s == pytest.approx(0.72645059)


def test_window_stats_attributes_by_time(log):
    whole = eventlog.window_stats(log, 1792209277.5, 1792209278.4)
    assert whole["jobs"] == 2 and whole["stages"] == 2 and whole["tasks"] == 5
    assert whole["shuffle_read_bytes"] == 16702
    assert whole["shuffle_write_bytes"] == 16702 + 336
    # window minus the two job intervals: 0.9 - 0.123 - 0.573
    assert whole["driver_gap_s"] == pytest.approx(0.204, abs=1e-3)
    first = eventlog.window_stats(log, 1792209277.5, 1792209277.7)
    assert (first["jobs"], first["stages"], first["tasks"]) == (1, 1, 1)
    assert eventlog.window_stats(log, 0.0, 1.0)["jobs"] == 0


def test_sql_execution_scan_hits(log):
    assert log.sql_executions == [(pytest.approx(1792209277.302), 0)]
    plan = {
        "nodeName": "Project",
        "children": [
            {"nodeName": "InMemoryTableScan", "children": []},
            {"nodeName": "Join", "children": [{"nodeName": "InMemoryTableScan", "children": []}]},
        ],
    }
    line = (
        '{"Event":"%s","executionId":1,"time":5000,"sparkPlanInfo":%s}'
        % (eventlog.SQL_START, json.dumps(plan))
    )
    assert eventlog.parse([line]).sql_executions == [(5.0, 2)]


def test_overlapping_jobs_are_not_double_counted():
    lines = [
        '{"Event":"SparkListenerJobStart","Job ID":1,"Submission Time":1000}',
        '{"Event":"SparkListenerJobStart","Job ID":2,"Submission Time":1500}',
        '{"Event":"SparkListenerJobEnd","Job ID":1,"Completion Time":3000}',
        '{"Event":"SparkListenerJobEnd","Job ID":2,"Completion Time":2500}',
    ]
    stats = eventlog.window_stats(eventlog.parse(lines), 0.5, 4.0)
    assert stats["jobs"] == 2
    assert stats["driver_gap_s"] == pytest.approx(3.5 - 2.0)
