"""Offline reader for an uncompressed Spark event log (stdlib only).

The benchmark tags every public call it makes with a Spark job group;
this module folds the log's job and task events back onto those groups:
jobs run, executor CPU, shuffle bytes written, input bytes read, and the
heaviest stage's task spread.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

STREAM_PREFIX = "stream:"  # + query id: jobs of a streaming query


@dataclass
class GroupStats:
    jobs: int = 0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    # per stage: task durations in seconds
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))

    def heaviest_stage(self) -> list:
        if not self.stage_tasks:
            return []
        return max(self.stage_tasks.values(), key=sum)

    @property
    def max_task_s(self) -> float:
        tasks = self.heaviest_stage()
        return max(tasks) if tasks else 0.0

    @property
    def task_skew(self) -> float:
        """max task time / median task time in the heaviest stage."""
        tasks = self.heaviest_stage()
        if not tasks:
            return 0.0
        med = statistics.median(tasks)
        return max(tasks) / med if med > 0 else 1.0


def _events(log_dir: str):
    for dirpath, dirs, files in os.walk(log_dir):
        dirs.sort()
        for name in sorted(files):
            if name.startswith(".") or name.endswith(".crc"):
                continue
            with open(os.path.join(dirpath, name), encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        yield json.loads(line)


def read_groups(log_dir: str) -> dict[str, GroupStats]:
    """Job-group label -> folded stats. Jobs started by a streaming
    query (they carry the query id, not the caller's group) fold into
    ``STREAM_PREFIX + <query id>``; jobs with no group are dropped."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if props.get("sql.streaming.queryId"):
                group = STREAM_PREFIX + props["sql.streaming.queryId"]
            if not group:
                continue
            groups[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            g = groups[group]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            im = m.get("Input Metrics") or {}
            g.input_bytes += im.get("Bytes Read", 0)
            dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
            g.stage_tasks[ev["Stage ID"]].append(max(dur, 0.0))
    return dict(groups)
