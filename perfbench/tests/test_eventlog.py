"""The parser on a small recorded event log: a local[2] session ran
three jobs under job group g1 (a shuffle over 3 partitions and a sum)
and two jobs outside any group."""

from pathlib import Path

import pytest

from perfbench import eventlog

LOG = Path(__file__).parent / "data" / "eventlog.jsonl"


def test_tasks_are_charged_to_their_job_group():
    groups = eventlog.parse(LOG)
    assert set(groups) == {"g1", None}
    assert groups["g1"]["tasks"] == 6
    assert groups[None]["tasks"] == 3
    assert groups["g1"]["exec_task_s"] == pytest.approx(0.787)
    assert groups["g1"]["exec_cpu_s"] == pytest.approx(0.478782)
    assert groups[None]["exec_task_s"] == pytest.approx(0.121)


def test_shuffle_counts_bytes_written_and_read():
    g1 = eventlog.parse(LOG)["g1"]
    written = 3645 + 2707 + 3 * 59   # stage 0's two map tasks, stage 2's three
    read = 2206 + 2204 + 1942 + 177  # stage 2's three tasks, stage 5's one
    assert g1["shuffle_mb"] == pytest.approx((written + read) / 2**20)
    assert g1["spill_mb"] == 0


def test_total_sums_every_group():
    groups = eventlog.parse(LOG)
    tot = eventlog.total(groups)
    assert tot["tasks"] == 9
    assert tot["exec_task_s"] == pytest.approx(0.787 + 0.121)


def test_stage_without_submission_uses_its_job_group(tmp_path):
    log = tmp_path / "log"
    log.write_text(
        '{"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [7],'
        ' "Properties": {"spark.jobGroup.id": "gx"}}\n'
        '{"Event": "SparkListenerTaskEnd", "Stage ID": 7, "Task Metrics":'
        ' {"Executor Run Time": 1500, "Executor CPU Time": 2000000000,'
        ' "JVM GC Time": 100, "Disk Bytes Spilled": 1048576}}\n'
    )
    g = eventlog.parse(log)["gx"]
    assert g == {"tasks": 1, "exec_task_s": 1.5, "exec_cpu_s": 2.0, "gc_s": 0.1,
                 "shuffle_mb": 0.0, "spill_mb": 1.0}
