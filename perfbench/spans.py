"""Benchmark-side spans and Spark event-log attribution (traced runs only).

Spans are recorded in memory around calls into the program's public
functions.  After the run, the Spark event log is parsed and every job is
attributed to the span whose interval contains the job's submission
time; a job's completed stages, their tasks, shuffle bytes
written and bytes spilled follow the job.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0


class Recorder:
    """Spans kept in memory; the benchmark reads them after the run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name=name, start=time.time())
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.time()


def parse_event_log(lines) -> tuple[list[dict], dict[int, dict]]:
    """Jobs and completed stages from Spark event-log JSON lines.

    Returns ``(jobs, stages)``: jobs as ``{"id", "submit_ms", "stage_ids"}``;
    stages by id as ``{"tasks", "parents", "shuffle_bytes", "spill_bytes"}``.
    Skipped stages never complete, so they do not appear in ``stages``."""
    jobs: list[dict] = []
    stages: dict[int, dict] = {}
    per_stage: dict[int, list[int]] = {}  # stage -> [shuffle bytes, spill bytes]
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs.append(
                {
                    "id": ev["Job ID"],
                    "submit_ms": ev["Submission Time"],
                    "stage_ids": list(ev.get("Stage IDs", [])),
                }
            )
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            acc = per_stage.setdefault(ev["Stage ID"], [0, 0])
            acc[0] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            acc[1] += m.get("Disk Bytes Spilled", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]] = {
                "tasks": info["Number of Tasks"],
                "parents": list(info.get("Parent IDs", [])),
            }
    for sid, st in stages.items():
        shuffle, spill = per_stage.get(sid, (0, 0))
        st["shuffle_bytes"], st["spill_bytes"] = shuffle, spill
    return jobs, stages


ENGINE_FIELDS = ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes", "min_read_partitions")


def attribute(spans: list[Span], jobs: list[dict], stages: dict[int, dict]) -> list[dict]:
    """Engine counts per span (same order as ``spans``).

    A job belongs to the span whose interval contains its submission time
    (event-log times are whole milliseconds, so span bounds are widened to
    the enclosing milliseconds; on a shared edge the later span wins).  A stage belongs to
    the first job that lists it, which is the job that ran it.
    ``min_read_partitions`` is the fewest tasks of any completed stage that
    reads shuffle output (has parent stages); 0 when there is none."""
    out = [dict.fromkeys(ENGINE_FIELDS, 0) for _ in spans]
    span_of_job: dict[int, int] = {}
    owner: dict[int, int] = {}  # stage -> job
    for job in sorted(jobs, key=lambda j: j["id"]):
        for sid in job["stage_ids"]:
            owner.setdefault(sid, job["id"])
        t = job["submit_ms"]
        best = None
        for i, s in enumerate(spans):
            if int(s.start * 1000) <= t <= int(s.end * 1000) + 1:
                best = i
        if best is not None:
            span_of_job[job["id"]] = best
            out[best]["jobs"] += 1
    for sid, jid in owner.items():
        st = stages.get(sid)
        i = span_of_job.get(jid)
        if st is None or i is None:
            continue
        o = out[i]
        o["stages"] += 1
        o["tasks"] += st["tasks"]
        o["shuffle_bytes"] += st["shuffle_bytes"]
        o["spill_bytes"] += st["spill_bytes"]
        if st["parents"] and (o["min_read_partitions"] == 0 or st["tasks"] < o["min_read_partitions"]):
            o["min_read_partitions"] = st["tasks"]
    return out
