"""Stdlib-only reader for Spark's JSON event log.

Spark 4 writes a rolling log by default: ``<dir>/eventlog_v2_<app>/events_<n>_<app>``
(one JSON event per line, parts numbered from 1). A single-file log
(``<dir>/<app>``) is read too. The benchmark sets
``spark.eventLog.compress=false`` so no codec is needed here.

``EventLog(read_events(dir)).summarize(t0, t1)`` folds the events into
layer figures for one wall-clock window: the jobs submitted in it, their
stages and tasks, executor, GC, shuffle, spill and output totals, the
Python-worker SQL metrics of ``ArrowEvalPython`` / ``MapInArrow`` nodes,
the driver gap (window time no job covers) and the write-commit tail
(SQL execution end minus its last task's end, for executions that wrote).
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Iterator
from pathlib import Path

# SQL metric display names of the Python/Arrow crossing (Spark 4.1
# PythonSQLMetrics: pythonTotalTime, pythonBootTime, pythonInitTime,
# pythonDataSent, pythonDataReceived) -> (layer metric, scale to s / bytes)
PYTHON_METRICS = {
    "time to run Python workers": ("python.total_s", 1e-3),
    "time to start Python workers": ("python.boot_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
    "data sent to Python workers": ("python.bytes_sent", 1.0),
    "data returned from Python workers": ("python.bytes_received", 1.0),
}

SPARK_FIELDS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
    "spark.exec_cpu_s", "spark.exec_run_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.output_bytes", "spark.commit_s",
)
FIELDS = SPARK_FIELDS + tuple(name for name, _ in PYTHON_METRICS.values())


def log_files(log_dir: str | Path) -> list[Path]:
    """Every event-log part under ``log_dir``, in write order."""
    files: list[Path] = []
    for entry in sorted(Path(log_dir).iterdir()):
        if entry.is_dir() and entry.name.startswith("eventlog_v2_"):
            parts = [p for p in entry.iterdir() if p.name.startswith("events_")]
            files.extend(sorted(parts, key=lambda p: int(p.name.split("_")[1])))
        elif entry.is_file() and not entry.name.endswith(".inprogress"):
            files.append(entry)
    return files


def read_events(log_dir: str | Path) -> Iterator[dict]:
    for path in log_files(log_dir):
        with path.open() as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class EventLog:
    """Jobs, stages, tasks and SQL executions of one application."""

    def __init__(self, events):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages_run: set[int] = set()
        self.tasks: list[dict] = []
        self.sql: dict[int, dict] = {}
        for ev in events:
            kind = ev["Event"].rsplit(".", 1)[-1]
            handler = getattr(self, "_on_" + kind, None)
            if handler is not None:
                handler(ev)

    def _on_SparkListenerJobStart(self, ev):
        props = ev.get("Properties") or {}
        sql_id = props.get("spark.sql.execution.id")
        self.jobs[ev["Job ID"]] = {
            "start": ev["Submission Time"],
            "end": None,
            "sql": int(sql_id) if sql_id not in (None, "") else None,
        }
        for sid in ev.get("Stage IDs", []):
            self.stage_job[sid] = ev["Job ID"]

    def _on_SparkListenerJobEnd(self, ev):
        self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]

    def _on_SparkListenerStageSubmitted(self, ev):
        self.stages_run.add(ev["Stage Info"]["Stage ID"])

    def _on_SparkListenerTaskEnd(self, ev):
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        task = {
            "stage": ev["Stage ID"],
            "finish": info["Finish Time"],
            "run_ms": m.get("Executor Run Time", 0),
            "cpu_ns": m.get("Executor CPU Time", 0),
            "gc_ms": m.get("JVM GC Time", 0),
            "sw": sw.get("Shuffle Bytes Written", 0),
            "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            "out": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
            "python": defaultdict(float),
        }
        for acc in info.get("Accumulables", []):
            spec = PYTHON_METRICS.get(acc.get("Name"))
            if spec is not None and acc.get("Metadata") == "sql":
                task["python"][spec[0]] += float(acc.get("Update") or 0) * spec[1]
        self.tasks.append(task)

    def _on_SparkListenerSQLExecutionStart(self, ev):
        self.sql[ev["executionId"]] = {
            "start": ev["time"],
            "end": None,
            "plan": ev.get("physicalPlanDescription", ""),
        }

    def _on_SparkListenerSQLExecutionEnd(self, ev):
        if ev["executionId"] in self.sql:
            self.sql[ev["executionId"]]["end"] = ev["time"]

    # ------------------------------------------------------------------
    def jobs_between(self, t0_ms: float, t1_ms: float) -> list[int]:
        return [j for j, job in self.jobs.items() if t0_ms <= job["start"] < t1_ms]

    def summarize(self, t0: float, t1: float) -> dict[str, float]:
        """Layer figures for the jobs submitted in [t0, t1) (epoch seconds)."""
        t0_ms, t1_ms = t0 * 1e3, t1 * 1e3
        job_ids = set(self.jobs_between(t0_ms, t1_ms))
        out = dict.fromkeys(FIELDS, 0.0)
        out["spark.jobs"] = float(len(job_ids))
        out["spark.stages"] = float(sum(
            1 for s in self.stages_run if self.stage_job.get(s) in job_ids
        ))
        intervals = []
        for j in job_ids:
            job = self.jobs[j]
            end = job["end"] if job["end"] is not None else t1_ms
            intervals.append((max(job["start"], t0_ms), min(end, t1_ms)))
        out["spark.driver_gap_s"] = (t1_ms - t0_ms - _union_ms(intervals)) / 1e3
        last_task_by_sql: dict[int, float] = {}
        written_sql: set[int] = set()
        for task in self.tasks:
            j = self.stage_job.get(task["stage"])
            if j not in job_ids:
                continue
            out["spark.tasks"] += 1
            out["spark.exec_run_s"] += task["run_ms"] / 1e3
            out["spark.exec_cpu_s"] += task["cpu_ns"] / 1e9
            out["spark.gc_s"] += task["gc_ms"] / 1e3
            out["spark.shuffle_write_bytes"] += task["sw"]
            out["spark.shuffle_read_bytes"] += task["sr"]
            out["spark.spill_bytes"] += task["spill"]
            out["spark.output_bytes"] += task["out"]
            for name, value in task["python"].items():
                out[name] += value
            sql_id = self.jobs[j]["sql"]
            if sql_id is not None:
                last_task_by_sql[sql_id] = max(last_task_by_sql.get(sql_id, 0), task["finish"])
                if task["out"]:
                    written_sql.add(sql_id)
        # commit tail of each write: SQL execution end (after the job's
        # commitJob and stats refresh) minus its last task's finish
        for sql_id in written_sql:
            end = self.sql.get(sql_id, {}).get("end")
            if end is not None:
                out["spark.commit_s"] += max(end - last_task_by_sql[sql_id], 0) / 1e3
        return out

    def jobs_of_sql_between(self, t0: float, t1: float, predicate) -> int:
        """Jobs submitted in [t0, t1) whose SQL execution plan satisfies
        ``predicate`` (a function of the physical plan text)."""
        return sum(
            1
            for j in self.jobs_between(t0 * 1e3, t1 * 1e3)
            if self.jobs[j]["sql"] is not None
            and predicate(self.sql.get(self.jobs[j]["sql"], {}).get("plan", ""))
        )
