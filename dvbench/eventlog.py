"""Offline reader for Spark's JSON event log (``spark.eventLog.enabled``).

Turns job, stage and task events into per-job records, attributes each job
to a call site, and sums stage and task metrics over a set of jobs. PySpark
actions reach the JVM through py4j, so Spark's own short call site reads
``NativeMethodAccessorImpl.java:0``; the call site used here is the first
frame of the JVM stack instead (``DataFrameWriter.parquet``,
``Dataset.count``), taken from the SQL execution that started the job.
"""

from __future__ import annotations

import json
import re
import statistics

_FRAME_RE = re.compile(r"([A-Za-z0-9_$]+)\.([A-Za-z0-9_$]+)\(")
_CATEGORY = {
    "DataFrameWriter": "write",
    "DataFrameWriterV2": "write",
    "DataFrameReader": "read",
}
MB = 2**20


def call_site(details: str) -> str:
    """``Class.method`` of the first stack frame in a details string."""
    m = _FRAME_RE.search(details.split("\n", 1)[0])
    return f"{m.group(1)}.{m.group(2)}" if m else "unknown"


def category(description: str | None, site: str) -> str:
    """A job's layer: the description the benchmark set around the call,
    else a name for the JVM entry point."""
    if description:
        return description
    cls, _, method = site.partition(".")
    if cls in _CATEGORY:
        return _CATEGORY[cls]
    return method.lower() or "unknown"


def read_events(path: str) -> list[dict]:
    """Events of a log file; a torn last line of a live log is skipped."""
    events = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            try:
                events.append(json.loads(line))
            except json.JSONDecodeError:
                break
    return events


class EventLog:
    """Jobs, stages and tasks of one application."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        sql_details: dict[str, str] = {}
        for e in events:
            kind = e["Event"]
            if kind.endswith("SQLExecutionStart"):
                sql_details[str(e["executionId"])] = e.get("details", "")
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                stage_details = [s.get("Details", "")
                                 for s in e.get("Stage Infos", [])]
                details = (sql_details.get(exec_id) if exec_id is not None
                           else None) or (stage_details[0] if stage_details
                                          else "")
                site = call_site(details)
                self.jobs[e["Job ID"]] = {
                    "id": e["Job ID"],
                    "start_ms": e["Submission Time"],
                    "end_ms": None,
                    "stage_ids": list(e.get("Stage IDs", [])),
                    "call_site": site,
                    "category": category(props.get("spark.job.description"),
                                         site),
                }
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in self.jobs:
                    self.jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                self.stages[si["Stage ID"]] = {
                    "id": si["Stage ID"],
                    "name": si.get("Stage Name", ""),
                    "start_ms": si.get("Submission Time"),
                    "end_ms": si.get("Completion Time"),
                    "num_tasks": si.get("Number of Tasks", 0),
                }
            elif kind == "SparkListenerTaskEnd":
                info = e.get("Task Info") or {}
                m = e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                inp = m.get("Input Metrics") or {}
                self.tasks.setdefault(e["Stage ID"], []).append({
                    "dur_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "ser_ms": (m.get("Executor Deserialize Time", 0)
                               + m.get("Result Serialization Time", 0)),
                    "peak_exec_mem": m.get("Peak Execution Memory", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    "shuffle_read": (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "records_read": inp.get("Records Read", 0),
                })

    @classmethod
    def from_file(cls, path: str) -> "EventLog":
        return cls(read_events(path))

    def finished_jobs(self, start_s: float = 0.0,
                      end_s: float = float("inf")) -> list[dict]:
        """Completed jobs submitted within [start_s, end_s) epoch seconds."""
        return sorted(
            (j for j in self.jobs.values()
             if j["end_ms"] is not None
             and start_s <= j["start_ms"] / 1000.0 < end_s),
            key=lambda j: j["start_ms"])

    def job_tasks(self, jobs: list[dict]) -> list[dict]:
        return [t for s in self._stage_ids(jobs) for t in self.tasks.get(s, [])]

    def _stage_ids(self, jobs: list[dict]) -> list[int]:
        return sorted({s for j in jobs for s in j["stage_ids"]
                       if s in self.stages})

    def stage_metrics(self, jobs: list[dict]) -> dict[str, float]:
        """Sums over the completed stages of ``jobs``; ``task_skew`` is
        max/median task time in the longest of those stages."""
        stage_ids = self._stage_ids(jobs)
        tasks = self.job_tasks(jobs)
        skew = 0.0
        if stage_ids:
            longest = max(stage_ids, key=lambda s: (
                (self.stages[s]["end_ms"] or 0)
                - (self.stages[s]["start_ms"] or 0)))
            durs = [t["dur_ms"] for t in self.tasks.get(longest, [])]
            if durs and statistics.median(durs) > 0:
                skew = max(durs) / statistics.median(durs)
        return {
            "stages": float(len(stage_ids)),
            "task_s": sum(t["run_ms"] for t in tasks) / 1000.0,
            "task_skew": skew,
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / MB,
            "shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / MB,
            "spill_mb": sum(t["spill_bytes"] for t in tasks) / MB,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
            "ser_s": sum(t["ser_ms"] for t in tasks) / 1000.0,
            "peak_exec_mem_mb": max((t["peak_exec_mem"] for t in tasks),
                                    default=0) / MB,
            "records_read": float(sum(t["records_read"] for t in tasks)),
        }
