"""Self-tests of the benchmark command.

    python3 -m pytest perfbench/test_perfbench.py -q

``test_corrupted_expectation_fails`` runs one short ``batch-sf0.1`` run
(about half a minute) in a copy of the checkout whose pinned expectation for
one rows-only query is wrong, and requires a nonzero exit with
``"correct": false``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import eventlog

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COMMAND = [sys.executable, "perfbench/run.py"]


def _copy_bench(dst: str) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dst)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        os.path.join(dst, "perfbench"),
        ignore=shutil.ignore_patterns("work", "__pycache__"),
    )


def _run(cwd: str, workload: str) -> subprocess.CompletedProcess:
    args = ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0"]
    return subprocess.run(COMMAND + args, cwd=cwd, capture_output=True, text=True, timeout=600)


def test_without_program_exits_nonzero_and_prints_no_result(tmp_path):
    _copy_bench(str(tmp_path))
    res = _run(str(tmp_path), "batch-sf0.1")
    assert res.returncode != 0
    assert '"correct"' not in res.stdout


def test_corrupted_expectation_fails(tmp_path):
    _copy_bench(str(tmp_path))
    shutil.copytree(
        os.path.join(ROOT, "yodel_etl_spark"),
        os.path.join(tmp_path, "yodel_etl_spark"),
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    path = os.path.join(tmp_path, "perfbench", "expected.json")
    with open(path, encoding="utf-8") as fh:
        expected = json.load(fh)
    expected["batch-sf0.1"]["hll"]["rows"] += 1
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(expected, fh)

    res = _run(str(tmp_path), "batch-sf0.1")
    assert res.returncode == 1, res.stderr[-2000:]
    result = json.loads(res.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["failed"] == 1


def test_layer_metrics_attributes_jobs_by_submission_time():
    spans = [
        {"query": "a", "pass": 0, "start_ms": 1000, "end_ms": 2000},
        {"query": "b", "pass": 0, "start_ms": 2000, "end_ms": 5000},
    ]
    task = {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": 7,
        "Task Info": {
            "Failed": False,
            "Accumulables": [{"Name": "data sent to Python workers", "Update": "10"}],
        },
        "Task Metrics": {
            "Executor Run Time": 500,
            "Executor CPU Time": 250_000_000,
            "JVM GC Time": 0,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": 100, "Records Read": 4},
            "Output Metrics": {"Bytes Written": 0, "Records Written": 0},
            "Shuffle Read Metrics": {
                "Remote Bytes Read": 0,
                "Local Bytes Read": 8,
                "Fetch Wait Time": 0,
            },
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 16},
        },
    }
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 500, "Stage IDs": [1]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500, "Stage IDs": [7]},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2700, "Stage IDs": [7, 9]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 7}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 9}},
        task,
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3000},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 3500},
    ]
    out = eventlog.layer_metrics(events, spans)
    assert out[0]["spark.jobs"] == 0 and out[0]["driver.gap_s"] == 1.0
    b = out[1]
    assert (b["spark.jobs"], b["spark.stages"], b["spark.tasks"]) == (2, 2, 1)
    assert b["spark.job_busy_s"] == 1.0 and b["driver.gap_s"] == 2.0
    assert b["python.sent_bytes"] == 10 and b["shuffle.read_bytes"] == 8
    assert b["spark.executor_cpu_s"] == 0.25
