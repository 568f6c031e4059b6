"""Pins the event-log fold on a small recorded log.

``eventlog_sample.jsonl`` is a real Spark 4.1 event log (uncompressed,
unrolled), cut down to the events and fields the fold reads, from a
local[2] app that ran three tagged calls: ``q:build`` (one single-task
job), ``q:exec`` (a grouped count: two stages, four tasks) and ``r:exec``
(a global sum: two stages, three tasks), then one untagged job.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import os

import pytest

import eventlog

SAMPLE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "eventlog_sample.jsonl")
MB = 1024 * 1024
# Submission times (epoch ms) of jobs 0..3 in the sample.
SUBMITTED = (1792209232636, 1792209234490, 1792209235343, 1792209235552)


@pytest.fixture(scope="module")
def jobs():
    return eventlog.fold_file(SAMPLE)


def test_each_job_gets_its_stages_tasks_group_and_time(jobs):
    got = {j: (r["group"], r["submitted"], r["stages"], r["tasks"])
           for j, r in jobs.items()}
    assert got == {
        0: ("q:build", SUBMITTED[0], 1, 1),
        1: ("q:exec", SUBMITTED[1], 2, 4),
        2: ("r:exec", SUBMITTED[2], 2, 3),
        3: ("", SUBMITTED[3], 1, 1),
    }


def test_task_metrics_are_summed_in_ms_and_mb(jobs):
    q = jobs[1]
    # Executor CPU Time is recorded in ns:
    # 99043602 + 182974649 + 41368828 + 85749492.
    assert q["cpu_ms"] == pytest.approx(409.136571)
    assert q["run_ms"] == 324 + 324 + 131 + 133
    assert q["gc_ms"] == 94
    assert q["shuffle_write_mb"] == pytest.approx(2 * 182 / MB)
    assert q["spill_mb"] == 0
    assert jobs[2]["cpu_ms"] == pytest.approx(50.305834)
    assert jobs[2]["shuffle_write_mb"] == pytest.approx(2 * 59 / MB)


def test_window_selects_by_submission_time_whatever_the_group(jobs):
    # A call's span takes every job submitted inside it, including jobs
    # under another group (as a streaming query's micro-batches are).
    t = eventlog.window(jobs, SUBMITTED[1], SUBMITTED[3])
    assert (t["jobs"], t["stages"], t["tasks"]) == (3, 5, 8)
    assert t["run_ms"] == 912 + 76 + 35
    t = eventlog.window(jobs, SUBMITTED[0] + 1, SUBMITTED[2] - 1)
    assert (t["jobs"], t["tasks"]) == (1, 4)
    assert eventlog.window(jobs, 0, SUBMITTED[0] - 1)["jobs"] == 0
