"""Spans recorded around calls into the program, and the Spark event log
read back and attributed to them.

A span is ``{id, name, parent, op, start, end, ...attrs}`` with wall
clock times in epoch seconds (the event log's clock).  ``op`` is the id
of the outermost span of the call, shared by every span inside it.
Spans stay in memory; the caller writes them out at exit.

Each Spark job goes to the innermost span open at its submission time.
Time, not the job-group local property, because the index builder
submits jobs from a background thread pool that does not inherit the
caller's local properties.

``work_cpu_s`` is the CPU-time meter behind the compared metrics.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        op = self.spans[parent]["op"] if parent is not None else sid
        rec = {"id": sid, "name": name, "parent": parent, "op": op,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()


def _ticks(path: str) -> tuple[int, int]:
    """(ppid, utime + stime + cutime + cstime) of a /proc stat file."""
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def work_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds used so far by process ``root`` (default:
    this one) and all its descendants, reaped children included — here
    the driver, the Spark JVM and its Python workers.  Unlike wall time
    it leaves out time the host took the VM's CPUs away (steal)."""
    root = os.getpid() if root is None else root
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                procs[int(d)] = _ticks(f"/proc/{d}/stat")
            except OSError:  # the process ended while we looked
                pass
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, stack = 0, [root]
    while stack:
        pid = stack.pop()
        ticks += procs.get(pid, (0, 0))[1]
        stack += kids.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def _union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Duration minus the part of it that child spans cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: duration(s) - _union_length(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


# ------------------------------------------------------------ event log

_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def read_event_log(path: str | Path) -> tuple[dict, list]:
    """Jobs ``{job_id: {submit, end, stages, failed}}`` (times in epoch
    seconds) and one record per finished task, from an uncompressed,
    non-rolling event log file."""
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {"submit": e["Submission Time"] / 1e3,
                                     "end": None, "stages": list(e["Stage IDs"]),
                                     "failed": False}
            elif kind == "SparkListenerJobEnd":
                j = jobs[e["Job ID"]]
                j["end"] = e["Completion Time"] / 1e3
                j["failed"] = e["Job Result"]["Result"] != "JobSucceeded"
            elif kind == "SparkListenerTaskEnd":
                tasks.append(_task_record(e))
    return jobs, tasks


def _task_record(e: dict) -> dict:
    info = e["Task Info"]
    m = e.get("Task Metrics") or {}
    acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
    sw = m.get("Shuffle Write Metrics") or {}
    ow = m.get("Output Metrics") or {}
    return {
        "stage": e["Stage ID"],
        "launch": info["Launch Time"] / 1e3,
        "finish": info["Finish Time"] / 1e3,
        "failed": bool(info.get("Failed")) or e["Task End Reason"]["Reason"] != "Success",
        "shuffle_write_bytes": int(sw.get("Shuffle Bytes Written", 0)),
        "spill_bytes": int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0)),
        "python_bytes": sum(int(acc.get(k) or 0) for k in _PY_BYTES),
        "output_bytes": int(ow.get("Bytes Written", 0)),
    }


def attribute_jobs(spans: list[dict], jobs: dict) -> dict[int, int | None]:
    """job id → id of the innermost span open at its submission time
    (spans nest, so the covering span that started last), or None."""
    out = {}
    for jid, j in jobs.items():
        best = None
        for s in spans:
            if s["start"] <= j["submit"] <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        out[jid] = best["id"] if best is not None else None
    return out


class Trace:
    """Spans + event log, with the aggregates the per-layer metrics use."""

    def __init__(self, spans: list[dict], jobs: dict, tasks: list[dict], cores: int):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.jobs = jobs
        self.tasks = tasks
        self.cores = cores
        self.job_span = attribute_jobs(spans, jobs)
        # a stage that several jobs list runs once, in the first of them
        self.stage_job: dict[int, int] = {}
        for jid in sorted(jobs):
            for st in jobs[jid]["stages"]:
                self.stage_job.setdefault(st, jid)

    def subtree(self, sids) -> set[int]:
        ids = set(sids)
        for s in self.spans:  # spans are appended parent-first
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def span_stats(self, sids) -> dict:
        """Jobs, tasks and bytes of the jobs attributed to the spans
        ``sids`` (and their descendants), with wall time summed over
        ``sids``.  ``busy_frac`` is Σ task time ÷ (wall × cores);
        ``driver_only_frac`` the share of wall time in which no Spark job
        of the application ran; ``task_skew`` max ÷ median task time in
        the stage with the most task time."""
        sids = list(sids)
        ids = self.subtree(sids)
        jobs = {j for j, s in self.job_span.items() if s in ids}
        tasks = [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]
        intervals = [(j["submit"], j["end"] if j["end"] is not None else j["submit"])
                     for j in self.jobs.values()]
        wall = running = 0.0
        for sid in sids:
            s = self.by_id[sid]
            wall += duration(s)
            running += _union_length(intervals, s["start"], s["end"])
        per_stage: dict[int, list[float]] = {}
        for t in tasks:
            per_stage.setdefault(t["stage"], []).append(t["finish"] - t["launch"])
        skew = 1.0
        if per_stage:
            costly = max(per_stage.values(), key=sum)
            med = statistics.median(costly)
            skew = max(costly) / med if med > 0 else 1.0
        busy = sum(t["finish"] - t["launch"] for t in tasks)
        return {
            "wall_s": wall,
            "jobs": len(jobs),
            "tasks": len(tasks),
            "failed_tasks": sum(t["failed"] for t in tasks),
            "shuffle_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
            "spill_bytes": sum(t["spill_bytes"] for t in tasks),
            "python_bytes": sum(t["python_bytes"] for t in tasks),
            "output_bytes": sum(t["output_bytes"] for t in tasks),
            "busy_frac": busy / (wall * self.cores) if wall > 0 else 0.0,
            "driver_only_frac": 1.0 - running / wall if wall > 0 else 0.0,
            "task_skew": skew,
        }

    def plan_action(self, sids) -> dict:
        """Split the calls ``sids`` into plan (inside the call until it
        returns) and action (its ``.action`` spans: consuming a returned
        lazy result), as wall seconds and Spark jobs."""
        whole = self.span_stats(sids)
        sub = self.subtree(sids)
        act = self.span_stats([s["id"] for s in self.spans
                               if s["id"] in sub and s["name"].endswith(".action")])
        return {"plan_s": whole["wall_s"] - act["wall_s"], "plan_jobs": whole["jobs"] - act["jobs"],
                "action_s": act["wall_s"], "action_jobs": act["jobs"]}
