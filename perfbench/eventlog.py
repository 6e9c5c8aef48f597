"""Stdlib reader for Spark's JSON event log (one event per line).

Keeps what the layer attribution needs: each job's group and interval,
and each stage's group, interval, operators (the names of the RDD scopes
in it, e.g. ``MapInArrow``) and summed task metrics.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class Job:
    id: int
    group: str | None
    submit_ms: int
    end_ms: int | None = None


@dataclass
class Stage:
    id: int
    attempt: int
    group: str | None
    ops: frozenset
    submit_ms: int | None = None
    done_ms: int | None = None
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    result_bytes: int = 0
    sched_delay_ms: int = 0
    shuffle_read_bytes: int = 0
    bytes_written: int = 0


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)
    stages: dict = field(default_factory=dict)

    def jobs_of(self, group: str) -> list:
        return [j for j in self.jobs.values() if j.group == group]

    def stages_of(self, group: str) -> list:
        return [s for s in self.stages.values() if s.group == group and s.submit_ms is not None]


def _ops(stage_info: dict) -> frozenset:
    names = set()
    for rdd in stage_info.get("RDD Info", ()):
        if rdd.get("Scope"):
            names.add(json.loads(rdd["Scope"])["name"])
    return frozenset(names)


def _group(event: dict) -> str | None:
    return (event.get("Properties") or {}).get("spark.jobGroup.id")


def scheduler_delay_ms(info: dict, metrics: dict) -> int:
    """Task time not spent deserializing, running or returning the result
    (the Spark UI's definition)."""
    duration = info["Finish Time"] - info["Launch Time"]
    getting = info["Finish Time"] - info["Getting Result Time"] if info.get("Getting Result Time") else 0
    busy = metrics["Executor Run Time"] + metrics["Executor Deserialize Time"] + metrics["Result Serialization Time"]
    return max(0, duration - busy - getting)


def parse(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            log.jobs[e["Job ID"]] = Job(e["Job ID"], _group(e), e["Submission Time"])
        elif kind == "SparkListenerJobEnd":
            log.jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            key = (si["Stage ID"], si["Stage Attempt ID"])
            log.stages[key] = Stage(si["Stage ID"], si["Stage Attempt ID"], _group(e), _ops(si), si.get("Submission Time"))
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = log.stages.get((si["Stage ID"], si["Stage Attempt ID"]))
            if st is not None:
                st.submit_ms = si.get("Submission Time", st.submit_ms)
                st.done_ms = si.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.get((e["Stage ID"], e["Stage Attempt ID"]))
            m = e.get("Task Metrics")
            if st is None or not m:
                continue
            st.tasks += 1
            st.run_ms += m["Executor Run Time"]
            st.cpu_ns += m["Executor CPU Time"]
            st.gc_ms += m["JVM GC Time"]
            st.result_bytes += m["Result Size"]
            st.sched_delay_ms += scheduler_delay_ms(e["Task Info"], m)
            rd = m.get("Shuffle Read Metrics", {})
            st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st.bytes_written += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return log


def load(log_dir: str) -> EventLog:
    """Parse every event-log file in ``log_dir`` (one per SparkContext;
    job and stage ids restart in each, so keys gain the file's index)."""
    merged = EventLog()
    for i, name in enumerate(sorted(os.listdir(log_dir))):
        with open(os.path.join(log_dir, name)) as f:
            log = parse(f)
        merged.jobs.update(((i, k), v) for k, v in log.jobs.items())
        merged.stages.update(((i,) + k, v) for k, v in log.stages.items())
    return merged
