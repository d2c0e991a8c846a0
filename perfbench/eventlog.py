"""Standard-library parser for Spark's JSON event log.

The traced run starts Spark with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false`` (Spark 4 compresses with zstd by
default, and no zstd module is assumed here), and runs each op under its
own job group. :func:`parse` attributes jobs, stages, stage intervals and
task metrics to job groups.

Times in the log are epoch milliseconds; they are returned as epoch
seconds, the clock the benchmark's spans use.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Stage:
    stage_id: int
    start: float
    end: float
    tasks: int
    json_scan: bool


@dataclass
class Group:
    """Everything Spark ran under one job group."""

    jobs: list[tuple[float, float]] = field(default_factory=list)
    stages: list[Stage] = field(default_factory=list)
    input_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    shuffle_write_bytes: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0

    @property
    def tasks(self) -> int:
        return sum(s.tasks for s in self.stages)


def _is_json_scan(stage_info: dict) -> bool:
    """True when one of the stage's RDDs is a JSON file scan."""
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if not scope:
            continue
        try:
            name = json.loads(scope).get("name", "")
        except ValueError:
            continue
        if name.startswith("Scan json"):
            return True
    return False


def parse(lines) -> dict[str, Group]:
    """Group id -> :class:`Group`, from an iterable of event-log lines.
    Jobs without a group are filed under ``""``."""
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, Group] = defaultdict(Group)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[jid] = gid
            job_start[jid] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = gid
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                groups[job_group[jid]].jobs.append(
                    (job_start[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if "Submission Time" not in info or sid not in stage_group:
                continue
            groups[stage_group[sid]].stages.append(
                Stage(
                    sid,
                    info["Submission Time"] / 1000.0,
                    info["Completion Time"] / 1000.0,
                    info["Number of Tasks"],
                    _is_json_scan(info),
                )
            )
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = ev.get("Task Metrics")
            if sid not in stage_group or not m:
                continue
            g = groups[stage_group[sid]]
            g.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
            g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1000.0
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            inp = m.get("Input Metrics", {})
            g.input_bytes += inp.get("Bytes Read", 0)
            out = m.get("Output Metrics", {})
            g.output_bytes += out.get("Bytes Written", 0)
            g.output_records += out.get("Records Written", 0)
            g.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
    return dict(groups)


def parse_dir(path: str) -> dict[str, Group]:
    """Parse every log file under ``path`` as one event stream (a rolled
    log is a directory of ``events_<n>_*`` parts)."""
    files = sorted(
        (
            os.path.join(dp, fn)
            for dp, _dn, fns in os.walk(path)
            for fn in fns
            if not fn.startswith("appstatus")
        ),
        key=lambda f: [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", f)],
    )

    def lines():
        for f in files:
            with open(f, encoding="utf-8") as fh:
                yield from fh

    return parse(lines())
