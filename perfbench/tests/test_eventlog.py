"""The event-log roll-up over a tiny recorded Spark 4.1 rolling log.

The log (``data/eventlog_v2_local-1``) holds two ungrouped jobs, two jobs in group
``grpA`` and two in ``grpB``, split over two ``events_<n>_`` parts.
"""

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_v2_local-1")


def test_parts_are_read_in_index_order():
    names = [os.path.basename(p) for p in eventlog.log_files(LOG)]
    assert names == ["events_1_local-1", "events_2_local-1"]
    first = next(eventlog.read_events(LOG))
    assert first["Event"] == "SparkListenerLogStart"


def test_rollup_per_job_group():
    groups = eventlog.rollup(eventlog.read_events(LOG))
    assert set(groups) == {"grpA", "grpB"}  # ungrouped jobs are left out
    a, b = groups["grpA"], groups["grpB"]
    assert (a.jobs, b.jobs) == (2, 2)
    assert a.exec_run_s == pytest.approx((160 + 160 + 40 + 38 + 45) / 1e3)
    assert a.gc_s == pytest.approx((9 + 9 + 7) / 1e3)
    assert a.shuffle_write_bytes == 168 + 174 + 174 + 183
    assert a.shuffle_read_bytes == 699
    assert b.exec_cpu_s == pytest.approx((23621356 + 4258290 + 3347182) / 1e9)
    assert sorted(a.stage_tasks) == [3, 5]
    assert len(a.job_spans) == 2


def test_task_skew_and_job_busy_time():
    a = eventlog.rollup(eventlog.read_events(LOG))["grpA"]
    # stage 3: tasks of 185, 188, 60, 57 ms -> max/median 188/122.5; stage 5: one task
    s3, s5 = a.stage_tasks[3], a.stage_tasks[5]
    want = (sum(s3) * 188 / 122.5 + sum(s5) * 1.0) / (sum(s3) + sum(s5))
    assert a.task_skew == pytest.approx(want)
    (s1, e1), (s2, e2) = sorted(a.job_spans)
    assert a.job_busy_s(s1, e2) == pytest.approx((e1 - s1 + e2 - s2) / 1e3)
    assert a.job_busy_s(e1, s2) == 0.0


def test_find_log_takes_the_single_application(tmp_path):
    (tmp_path / "eventlog_v2_app").mkdir()
    assert eventlog.find_log(str(tmp_path)).endswith("eventlog_v2_app")
