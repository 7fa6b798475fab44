"""Fold a Spark event log into per-span task statistics, stdlib ``json`` only.

Every job a traced call starts carries the span name as a Spark local
property (``SPAN_PROPERTY``), which the event log records in the job's
``Properties``.  The fold maps job -> its stages -> their
``SparkListenerTaskEnd`` events, and sums task metrics per span.

The log is Spark 4's rolling layout, which run.py turns on explicitly
(``spark.eventLog.rolling.enabled=true``): a directory
``eventlog_v2_<app>/`` holding ``events_<n>_<app>`` files (plus an
``appstatus_*`` marker).  It must be uncompressed
(``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from collections.abc import Iterator
from statistics import median

SPAN_PROPERTY = "perfbench.span"
UNATTRIBUTED = "(none)"

_ROLLING_FILE = re.compile(r"^events_(\d+)_")


def event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``, in write order."""
    out = []
    for entry in sorted(os.listdir(log_dir)):
        if not entry.startswith("eventlog_v2_"):
            continue
        path = os.path.join(log_dir, entry)
        parts = []
        for name in os.listdir(path):
            m = _ROLLING_FILE.match(name)
            if m:
                parts.append((int(m.group(1)), os.path.join(path, name)))
        out.extend(p for _, p in sorted(parts))
    return out


def events(paths: list[str]) -> Iterator[dict]:
    for path in paths:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


class SpanStats:
    """Task totals of one span."""

    def __init__(self) -> None:
        self.jobs = 0
        self.tasks = 0
        self.failed_tasks = 0
        self.run_ms = 0
        self.cpu_ns = 0
        self.gc_ms = 0
        self.shuffle_write_bytes = 0
        self.spill_bytes = 0
        # stage id -> run time of each task, for the skew of the widest stage
        self.stage_task_ms: dict[int, list[int]] = defaultdict(list)

    @property
    def skew(self) -> float:
        """max / median task run time in the stage with the most tasks."""
        if not self.stage_task_ms:
            return 0.0
        widest = max(self.stage_task_ms.values(), key=len)
        return max(widest) / max(median(widest), 1)

    def as_dict(self) -> dict[str, float]:
        return {
            "jobs": self.jobs,
            "tasks": self.tasks,
            "task_s": self.run_ms / 1e3,
            "cpu_s": self.cpu_ns / 1e9,
            "blocked_s": self.run_ms / 1e3 - self.cpu_ns / 1e9,
            "gc_s": self.gc_ms / 1e3,
            "shuffle_write_mb": self.shuffle_write_bytes / 2**20,
            "spill_mb": self.spill_bytes / 2**20,
            "skew": self.skew,
            "failed_tasks": self.failed_tasks,
        }


def fold(paths: list[str]) -> dict[str, SpanStats]:
    """Per-span task statistics of the logs in ``paths``.

    Jobs without the span property are gathered under ``UNATTRIBUTED``.
    A stage is charged to the span of the job that most recently listed
    it before its tasks ended, so a stage re-listed (and skipped) by a
    later job keeps the span that ran it.
    """
    spans: dict[str, SpanStats] = defaultdict(SpanStats)
    stage_span: dict[int, str] = {}
    for ev in events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            span = (ev.get("Properties") or {}).get(SPAN_PROPERTY) or UNATTRIBUTED
            spans[span].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_span[sid] = span
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            s = spans[stage_span.get(sid, UNATTRIBUTED)]
            s.tasks += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                s.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            run_ms = int(m.get("Executor Run Time", 0))
            s.run_ms += run_ms
            s.cpu_ns += int(m.get("Executor CPU Time", 0))
            s.gc_ms += int(m.get("JVM GC Time", 0))
            s.shuffle_write_bytes += int(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            )
            s.spill_bytes += int(m.get("Disk Bytes Spilled", 0))
            s.stage_task_ms[sid].append(run_ms)
    return dict(spans)
