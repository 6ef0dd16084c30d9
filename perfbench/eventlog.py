"""Per-layer accounting from Spark's own event log.

A traced run starts its session with the event log enabled (plain
JSON lines, one uncompressed file per session) and tags every phase of the benchmark with a
job group (`run.py` names them `setup`, `p<i>:build`, `p<i>:exec`,
`verify`). Streaming jobs carry the query id Spark puts on every
micro-batch job (`sql.streaming.queryId`) instead, because the stream
thread replaces the job group with its own. After the session stops,
`job_totals` sums the task metrics of the jobs a selector picks.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass

TRACE_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def trace_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {**TRACE_CONF, "spark.eventLog.dir": "file://" + os.path.abspath(log_dir)}


@dataclass
class JobTotals:
    jobs: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0


def read_events(log_dir: str) -> list[dict]:
    """Every event of every finished application log under ``log_dir``."""
    events: list[dict] = []
    for name in sorted(os.listdir(log_dir)):
        if name.endswith(".inprogress"):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def job_totals(
    events: list[dict], select: Callable[[dict], bool]
) -> JobTotals:
    """Sum task metrics over the jobs whose properties ``select`` accepts.

    A stage shared by two selected jobs is counted once.
    """
    stages: set[int] = set()
    out = JobTotals()
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart" and select(ev.get("Properties") or {}):
            out.jobs += 1
            stages.update(ev.get("Stage IDs", ()))
    mb = 1024.0 * 1024.0
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd" or ev.get("Stage ID") not in stages:
            continue
        m = ev.get("Task Metrics") or {}
        out.tasks += 1
        out.run_ms += m.get("Executor Run Time", 0)
        out.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
        out.gc_ms += m.get("JVM GC Time", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        out.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / mb
        out.shuffle_read_mb += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / mb
        out.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / mb
    return out


def in_groups(groups: set[str]) -> Callable[[dict], bool]:
    return lambda props: props.get("spark.jobGroup.id") in groups


def in_streams(query_ids: set[str]) -> Callable[[dict], bool]:
    return lambda props: props.get("sql.streaming.queryId") in query_ids
