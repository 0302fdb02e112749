"""Tests for the stdlib event-log reader.

``eventlog_fragment.jsonl`` is a trimmed event log recorded from Spark 4.1
at local[2] with AQE off: one job with no job group, one job in group
``shuffle`` (a two-partition groupBy), and one job in group ``fail`` whose
second task raised, which aborted the job.
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import read_event_log, sum_by_job_group  # noqa: E402

FRAGMENT = os.path.join(HERE, "eventlog_fragment.jsonl")


def test_recorded_fragment_sums_per_job_group():
    got = read_event_log(FRAGMENT)
    assert set(got) == {"shuffle", "fail"}  # the ungrouped job is left out
    shuffle = got["shuffle"]
    assert shuffle["tasks"] == 4
    assert shuffle["failed_tasks"] == 0
    assert shuffle["shuffle_write_bytes"] == 2 * 182
    assert shuffle["shuffle_read_bytes"] == 176 + 188
    # the job aborted on the first failure; the other task still ended
    assert got["fail"] == {
        "tasks": 2, "failed_tasks": 1, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0
    }


def _job(job_id, stages, group):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Properties": props}


def _task(stage, reason="Success", written=0, remote=0, local=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Metrics": {
            "Shuffle Read Metrics": {"Remote Bytes Read": remote, "Local Bytes Read": local},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    }


def test_reused_stage_is_charged_to_the_first_job_group():
    events = [
        _job(0, [0, 1], "a"),
        _task(0, written=100),
        _task(1, remote=30, local=70),
        _job(1, [0, 2], "b"),  # stage 0 is skipped here: already ran for "a"
        _task(2, reason="ExceptionFailure"),
        _task(2),
        _job(2, [3], None),
        _task(3, written=5),
    ]
    got = sum_by_job_group(json.dumps(e) + "\n" for e in events)
    assert got == {
        "a": {"tasks": 2, "failed_tasks": 0, "shuffle_read_bytes": 100,
              "shuffle_write_bytes": 100},
        "b": {"tasks": 2, "failed_tasks": 1, "shuffle_read_bytes": 0,
              "shuffle_write_bytes": 0},
    }


def test_blank_lines_and_tasks_without_metrics():
    lines = [
        json.dumps(_job(0, [0], "g")),
        "",
        json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 0,
                    "Task End Reason": {"Reason": "TaskKilled"}}),
    ]
    assert sum_by_job_group(lines) == {
        "g": {"tasks": 1, "failed_tasks": 1, "shuffle_read_bytes": 0,
              "shuffle_write_bytes": 0}
    }
