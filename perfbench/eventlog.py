"""Parser for the uncompressed Spark event log (``spark.eventLog.compress
=false``), attributing each completed stage to a time window.

Stages are attributed by submission time, never by stage name: stream
stages carry names such as ``$anonfun$withThreadLocalCaptured$2 at
CompletableFuture.java:1768`` that say nothing about the layer that ran
them. The log is read from disk after the session stops, so every event
is flushed."""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field
from datetime import datetime

_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.input.recordsRead": "input_records",
    "internal.metrics.output.bytesWritten": "output_bytes",
}
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
# plan roots of a write into a catalog table (the stream's base slots)
_TABLE_WRITE = ("SaveAsV1TableCommand", "CreateDataSourceTableAsSelectCommand")


@dataclass
class Stage:
    stage_id: int
    submit_ms: int
    tasks: int
    metrics: dict[str, int] = field(default_factory=dict)


@dataclass
class Log:
    stages: list[Stage]
    table_writes_ms: list[int]  # start times of SQL executions writing a table


def log_files(log_dir: str) -> list[str]:
    """The rolling event-log parts ``eventlog_v2_*/events_<n>_*`` under
    ``log_dir``, in order."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))


def parse(paths: list[str]) -> Log:
    stages, writes = [], []
    for path in paths:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageCompleted":
                    stages.append(_stage(ev["Stage Info"]))
                elif kind == _SQL_START:
                    plan = ev.get("physicalPlanDescription", "")
                    if any(w in plan for w in _TABLE_WRITE):
                        writes.append(int(ev["time"]))
    return Log(stages, writes)


def _stage(info: dict) -> Stage:
    metrics = {k: 0 for k in _ACC.values()}
    for acc in info.get("Accumulables", []):
        key = _ACC.get(acc.get("Name"))
        if key is not None:
            metrics[key] += int(acc.get("Value") or 0)
    return Stage(
        stage_id=int(info["Stage ID"]),
        submit_ms=int(info.get("Submission Time") or 0),
        tasks=int(info.get("Number of Tasks") or 0),
        metrics=metrics,
    )


def progress_window_ms(p: dict) -> tuple[int, int]:
    """[start, end] of one micro-batch in epoch ms, from its progress
    record's trigger timestamp and triggerExecution duration."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    start_ms = int(start.timestamp() * 1000)
    return start_ms, start_ms + int(p["durationMs"].get("triggerExecution", 0))


def totals(stages: list[Stage]) -> dict[str, int]:
    out = {"stages": len(stages), "tasks": sum(s.tasks for s in stages)}
    for key in _ACC.values():
        out[key] = sum(s.metrics[key] for s in stages)
    return out


def in_window(stages: list[Stage], start_ms: float, end_ms: float) -> list[Stage]:
    """Stages submitted inside [start_ms, end_ms]."""
    return [s for s in stages if start_ms <= s.submit_ms <= end_ms]
