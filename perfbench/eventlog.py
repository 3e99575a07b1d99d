"""Roll a Spark event log up per job group.

Spark 4 writes a rolling log directory ``eventlog_v2_<app>/events_<n>_<app>`` of
JSON lines (uncompressed when ``spark.eventLog.compress=false``); a plain single
log file is read the same way. A stage belongs to the ``spark.jobGroup.id`` in
the properties of its ``SparkListenerStageSubmitted`` event (falling back to the
submitting ``SparkListenerJobStart``), and ``SparkListenerTaskEnd`` metrics are
summed per group.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections.abc import Iterator
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


def log_files(path: str) -> list[str]:
    """The event files of one log: ``path`` itself, or a rolling directory's
    ``events_<n>_*`` parts in index order."""
    if os.path.isfile(path):
        return [path]
    parts = []
    for name in os.listdir(path):
        m = re.match(r"events_(\d+)_", name)
        if m:
            parts.append((int(m.group(1)), os.path.join(path, name)))
    return [p for _, p in sorted(parts)]


def find_log(log_dir: str) -> str:
    """The single application log under a ``spark.eventLog.dir``."""
    entries = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise ValueError(f"expected one event log in {log_dir}, found {entries}")
    return os.path.join(log_dir, entries[0])


def read_events(path: str) -> Iterator[dict]:
    for name in log_files(path):
        with open(name) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


@dataclass
class GroupStats:
    jobs: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    # per stage: task durations (ms), for skew
    stage_tasks: dict[int, list[int]] = field(default_factory=dict)
    # (submission, completion) of each job, epoch ms
    job_spans: list[tuple[int, int]] = field(default_factory=list)

    @property
    def task_skew(self) -> float:
        """max / median task time per stage, averaged over the group's stages
        weighted by their total task time; 0 when the group ran no tasks."""
        num = den = 0.0
        for times in self.stage_tasks.values():
            med = statistics.median(times)
            if med > 0:
                num += sum(times) * max(times) / med
                den += sum(times)
        return num / den if den else 0.0

    def job_busy_s(self, start_ms: float, end_ms: float) -> float:
        """Seconds of ``[start_ms, end_ms]`` during which a job of this group ran."""
        covered, cur = 0.0, start_ms
        for s, e in sorted(self.job_spans):
            s, e = max(s, cur), min(e, end_ms)
            if e > s:
                covered += e - s
                cur = e
        return covered / 1000.0


def rollup(events) -> dict[str, GroupStats]:
    """Per job group: job count, summed task metrics, per-stage task times and job
    intervals. Jobs without a group are left out."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get(GROUP_KEY)
            if g is None:
                continue
            job_group[e["Job ID"]] = g
            job_start[e["Job ID"]] = e["Submission Time"]
            groups.setdefault(g, GroupStats()).jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            g = (e.get("Properties") or {}).get(GROUP_KEY)
            if g is not None:
                stage_group[e["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_group:
                groups[job_group[jid]].job_spans.append(
                    (job_start[jid], e["Completion Time"])
                )
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if g is None or m is None:
                continue
            st = groups.setdefault(g, GroupStats())
            st.exec_run_s += m["Executor Run Time"] / 1e3
            st.exec_cpu_s += m["Executor CPU Time"] / 1e9
            st.gc_s += m["JVM GC Time"] / 1e3
            st.spill_bytes += m["Disk Bytes Spilled"]
            st.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            rd = m["Shuffle Read Metrics"]
            st.shuffle_read_bytes += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
            info = e["Task Info"]
            st.stage_tasks.setdefault(e["Stage ID"], []).append(
                info["Finish Time"] - info["Launch Time"]
            )
    return groups
