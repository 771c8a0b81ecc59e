"""The event-log parser on a small hand-written log.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small")


def test_call_site_attribution():
    log = eventlog.parse(FIXTURE)
    assert [j["site"] for j in log["jobs"]] == ["checkpoint.py:102", "parquet", "unknown"]
    assert [x["site"] for x in log["executions"]] == ["checkpoint.py:102", "parquet"]
    assert [j["group"] for j in log["jobs"]] == [None, "timed", None]


def test_task_metrics_per_job():
    job = eventlog.parse(FIXTURE)["jobs"][0]
    assert job["failed_tasks"] == 1
    assert job["task_ms"] == 2100
    assert job["shuffle_write_bytes"] == 300 and job["spill_bytes"] == 64
    assert (job["py_sent"], job["py_recv"], job["py_run_ms"]) == (1024, 400, 900)


def test_wall_not_covered_by_jobs():
    log = eventlog.parse(FIXTURE)
    tot = eventlog.totals(log["jobs"])
    # job 0 covers [1000, 3000]; jobs 1 and 2 overlap inside [3500, 5000]
    assert tot["covered_ms"] == 2000 + 1500
    app = log["app"]
    assert app["end"] - app["start"] - tot["covered_ms"] == 2500
    assert tot["jobs"] == 3 and tot["task_ms"] == 3000


def test_the_enclosing_event_log_dir_parses_the_same():
    assert eventlog.parse(os.path.dirname(FIXTURE)) == eventlog.parse(FIXTURE)


def test_covered_ms_merges_touching_and_nested_intervals():
    assert eventlog.covered_ms([(0, 10), (10, 20), (2, 5), (30, 31)]) == 21
    assert eventlog.covered_ms([]) == 0
