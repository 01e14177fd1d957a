"""Spans, Spark event-log parsing and process memory for the traced run.

A :class:`Tracer` records one span per call boundary (name, start, end,
parent, operation id) in memory. While a span is open it also sets the
Spark job group of the driver thread to that span, so every Spark job
the span starts can be attributed to it from the event log afterwards.
The untraced run uses a disabled tracer, which records nothing and
makes no Spark calls.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # the SparkContext that jobs are tagged on

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": len(self.spans), "name": name, "start": time.time(),
               "end": None, "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def current_op(self) -> str | None:
        """Operation id of the innermost open span."""
        return self.spans[self._stack[-1]]["op"] if self._stack else None

    def _tag(self, span_id: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(JOB_GROUP, None if span_id is None else f"span-{span_id}")

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a function that runs it in a span."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    # --- queries over the recorded spans --------------------------------

    def children(self) -> dict[int | None, list[int]]:
        out: dict[int | None, list[int]] = defaultdict(list)
        for s in self.spans:
            out[s["parent"]].append(s["id"])
        return out

    def subtree(self, span_id: int, kids: dict | None = None) -> list[int]:
        kids = kids if kids is not None else self.children()
        out, todo = [], [span_id]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s, ()))
        return out

    def self_time(self, span_id: int, kids: dict | None = None) -> float:
        """Duration of a span minus the part its child spans cover."""
        kids = kids if kids is not None else self.children()
        s = self.spans[span_id]
        covered = union_length(
            (self.spans[c]["start"], self.spans[c]["end"]) for c in kids.get(span_id, ())
        )
        return (s["end"] - s["start"]) - covered

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- Spark event log -------------------------------------------------------


class EventLog:
    """Jobs, stages and tasks of every application log in ``log_dir``,
    grouped by the job group (span) that started them."""

    def __init__(self, log_dir: str):
        self.jobs: dict[str, list[dict]] = defaultdict(list)
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            self._read(path)

    def _read(self, path: str) -> None:
        jobs: dict[int, dict] = {}
        stage_job: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(JOB_GROUP)
                    job = {"start": ev["Submission Time"] / 1e3, "end": None,
                           "stages": [], "tasks": []}
                    jobs[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", ()):
                        stage_job[sid] = job
                    if group is not None:
                        self.jobs[group].append(job)
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    job = stage_job.get(info["Stage ID"])
                    if job is not None:
                        scopes = " ".join(r.get("Scope", "") for r in info.get("RDD Info", ()))
                        job["stages"].append({
                            "id": info["Stage ID"],
                            "csv_scan": "Scan csv" in scopes,
                            "tasks": [],
                        })
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    if job is None:
                        continue
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                    job["tasks"].append({
                        "stage": ev["Stage ID"],
                        "start": info["Launch Time"] / 1e3,
                        "end": info["Finish Time"] / 1e3,
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "input": m.get("Input Metrics", {}).get("Bytes Read", 0),
                    })

    def jobs_of(self, span_ids) -> list[dict]:
        return [j for s in span_ids for j in self.jobs.get(f"span-{s}", ())]


MB = 1 << 20


def exec_stats(jobs: list[dict], cores: int) -> dict[str, float]:
    """The ``exec.*`` metrics of a set of jobs."""
    job_iv = [(j["start"], j["end"]) for j in jobs if j["end"] is not None]
    tasks = [t for j in jobs for t in j["tasks"]]
    wall = union_length(job_iv)
    busy = union_length((t["start"], t["end"]) for t in tasks)
    task_s = sum(t["run_s"] for t in tasks)
    return {
        "exec.wall_s": wall,
        "exec.jobs": len(jobs),
        "exec.stages": sum(len(j["stages"]) for j in jobs),
        "exec.tasks": len(tasks),
        "exec.task_s": task_s,
        "exec.task_cpu_s": sum(t["cpu_s"] for t in tasks),
        "exec.gc_s": sum(t["gc_s"] for t in tasks),
        "exec.core_util": task_s / (wall * cores) if wall > 0 else 0.0,
        "exec.idle_s": max(0.0, wall - busy),
        "exec.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / MB,
        "exec.shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / MB,
        "exec.spill_mb": sum(t["spill"] for t in tasks) / MB,
        "exec.input_mb": sum(t["input"] for t in tasks) / MB,
    }


def csv_scan_stats(jobs: list[dict]) -> tuple[int, float]:
    """(number of CSV scan stages, their task seconds)."""
    stages = {s["id"] for j in jobs for s in j["stages"] if s["csv_scan"]}
    task_s = sum(t["run_s"] for j in jobs for t in j["tasks"] if t["stage"] in stages)
    return len(stages), task_s


def job_wall(jobs: list[dict]) -> float:
    return union_length((j["start"], j["end"]) for j in jobs if j["end"] is not None)


# --- memory ----------------------------------------------------------------


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
