"""Standard-library reader for an uncompressed, non-rolling Spark event log.

Spark writes one JSON object per line.  ``layer_metrics`` attributes every
job to the query span whose interval holds the job's submission time
(queries run one at a time, so this is exact, and it also catches the
micro-batch jobs a stream runs on its own thread), then each stage and
task to its job, and sums the per-task metrics per query.
"""

from __future__ import annotations

import json

#: task accumulables (SQL metrics) read per task, by their display name
TASK_ACCUMULABLES = {
    "data sent to Python workers": "python.sent_bytes",
    "data returned from Python workers": "python.returned_bytes",
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.start_s",
    "task commit time": "io.task_commit_s",
}
#: accumulables reported in milliseconds; the rest are bytes
MS_ACCUMULABLES = {"python.run_s", "python.start_s", "io.task_commit_s"}

SPARK_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.job_busy_s",
    "driver.gap_s",
    "spark.tasks",
    "spark.failed_task_attempts",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "scan.input_bytes",
    "scan.input_records",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.fetch_wait_s",
    "spill.bytes",
    "python.sent_bytes",
    "python.returned_bytes",
    "python.run_s",
    "python.start_s",
    "io.output_bytes",
    "io.output_records",
    "io.task_commit_s",
)


def read_events(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_metrics(events: list[dict], spans: list[dict]) -> dict[int, dict]:
    """Per-span Spark-layer metrics, keyed by the span's index in ``spans``.

    Each span has ``start_ms`` and ``end_ms`` (epoch milliseconds, the
    clock Spark stamps events with).  Jobs submitted outside every span
    (set-up, verification) are ignored."""
    span_of_job: dict[int, int] = {}
    job_of_stage: dict[int, int] = {}
    job_start: dict[int, int] = {}
    job_end: dict[int, int] = {}
    out = {i: dict.fromkeys(SPARK_METRICS, 0) for i in range(len(spans))}

    def span_at(t_ms: int) -> int | None:
        for i, s in enumerate(spans):
            if s["start_ms"] <= t_ms <= s["end_ms"]:
                return i
        return None

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            i = span_at(ev["Submission Time"])
            if i is None:
                continue
            job = ev["Job ID"]
            span_of_job[job] = i
            job_start[job] = ev["Submission Time"]
            out[i]["spark.jobs"] += 1
            for stage in ev["Stage IDs"]:
                job_of_stage.setdefault(stage, job)
        elif kind == "SparkListenerJobEnd":
            job_end[ev["Job ID"]] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            job = job_of_stage.get(ev["Stage Info"]["Stage ID"])
            if job in span_of_job:
                out[span_of_job[job]]["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            job = job_of_stage.get(ev["Stage ID"])
            if job not in span_of_job:
                continue
            _add_task(out[span_of_job[job]], ev)

    for i, s in enumerate(spans):
        jobs = [
            (job_start[j], job_end.get(j, s["end_ms"]))
            for j, span in span_of_job.items()
            if span == i
        ]
        busy = _union_ms(jobs) / 1000.0
        out[i]["spark.job_busy_s"] = busy
        out[i]["driver.gap_s"] = (s["end_ms"] - s["start_ms"]) / 1000.0 - busy
    return out


def _add_task(m: dict, ev: dict) -> None:
    info = ev["Task Info"]
    m["spark.tasks"] += 1
    if info.get("Failed") or info.get("Killed"):
        m["spark.failed_task_attempts"] += 1
    for acc in info.get("Accumulables", ()):
        name = TASK_ACCUMULABLES.get(acc.get("Name"))
        if name is not None and "Update" in acc:
            value = float(acc["Update"])
            m[name] += value / 1000.0 if name in MS_ACCUMULABLES else value
    tm = ev.get("Task Metrics")
    if not tm:
        return
    m["spark.executor_run_s"] += tm["Executor Run Time"] / 1000.0
    m["spark.executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
    m["spark.gc_s"] += tm["JVM GC Time"] / 1000.0
    m["spill.bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
    m["scan.input_bytes"] += tm["Input Metrics"]["Bytes Read"]
    m["scan.input_records"] += tm["Input Metrics"]["Records Read"]
    m["io.output_bytes"] += tm["Output Metrics"]["Bytes Written"]
    m["io.output_records"] += tm["Output Metrics"]["Records Written"]
    read = tm["Shuffle Read Metrics"]
    m["shuffle.read_bytes"] += read["Remote Bytes Read"] + read["Local Bytes Read"]
    m["shuffle.fetch_wait_s"] += read["Fetch Wait Time"] / 1000.0
    m["shuffle.write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]

