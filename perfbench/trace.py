"""Spans, process-tree sampling and the Spark event-log parser.

* `Tracer` keeps spans (name, start, end, parent, run id) in memory and
  writes them out when the run ends; a span's self time is its duration
  minus the part of it covered by child spans.
* `TreeSampler` samples the resident memory of the whole process tree
  (driver Python, JVM, Python workers) and reads its CPU time.
* `parse_event_log` turns an uncompressed Spark event log into per-job and
  per-stage task metrics; `attribute` assigns each Spark job to the
  innermost span that was open when the job was submitted (jobs submitted
  from a library's worker threads carry no description, so time is the
  reliable key).
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.spark is not None:
                up = self.spans[parent]["name"] if parent is not None else None
                self.spark.sparkContext.setJobDescription(up)

    def children(self, i: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == i]

    def self_time(self, i: int) -> float:
        s = self.spans[i]
        covered = union_length(
            [(c["start"], c["end"]) for c in self.children(i)],
            s["start"], s["end"])
        return (s["end"] - s["start"]) - covered

    def dump(self, path: str) -> None:
        out = [dict(s, self_s=self.self_time(i))
               for i, s in enumerate(self.spans)]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


def union_length(intervals: list[tuple[float, float]], lo: float,
                 hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
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


def _tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                st = f.read()
        except OSError:
            continue
        ppid = int(st[st.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for p in _tree(root):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def tree_cpu_s(root: int) -> float:
    """user + system CPU seconds of the live process tree."""
    total = 0
    for p in _tree(root):
        try:
            with open(f"/proc/{p}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rindex(")") + 2:].split()
        total += int(fields[11]) + int(fields[12])
    return total / _TICK


class TreeSampler:
    """Background peak-RSS sampler of this process's tree."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# --- Spark event log -------------------------------------------------------

def _events(paths: list[str]):
    for p in paths:
        with open(p) as f:
            for line in f:
                yield json.loads(line)


def parse_event_log(paths: list[str]) -> dict:
    """{"jobs": {id: {...}}, "stages": {id: {...}}} from the files of one
    event log, in order."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "tasks": 0, "failed": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "spill": 0, "shuffle_read": 0, "shuffle_write": 0,
            "task_ms": [], "job": None, "submit": None, "done": None})

    for ev in _events(paths):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {"submit": ev["Submission Time"] / 1000,
                         "end": None, "result": None,
                         "desc": props.get("spark.job.description"),
                         "stages": ev["Stage IDs"]}
            for sid in ev["Stage IDs"]:
                if stage(sid)["job"] is None:
                    stage(sid)["job"] = jid
        elif kind == "SparkListenerJobEnd":
            j = jobs[ev["Job ID"]]
            j["end"] = ev["Completion Time"] / 1000
            j["result"] = ev["Job Result"]["Result"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            s = stage(info["Stage ID"])
            s["submit"] = (info.get("Submission Time") or 0) / 1000
            s["done"] = (info.get("Completion Time") or 0) / 1000
        elif kind == "SparkListenerTaskEnd":
            s = stage(ev["Stage ID"])
            s["tasks"] += 1
            if ev["Task Info"].get("Failed"):
                s["failed"] += 1
            m = ev.get("Task Metrics") or {}
            run = m.get("Executor Run Time", 0)
            s["run_ms"] += run
            s["task_ms"].append(run)
            s["cpu_ns"] += m.get("Executor CPU Time", 0)
            s["gc_ms"] += m.get("JVM GC Time", 0)
            s["spill"] += (m.get("Memory Bytes Spilled", 0)
                           + m.get("Disk Bytes Spilled", 0))
            rd = m.get("Shuffle Read Metrics") or {}
            s["shuffle_read"] += (rd.get("Remote Bytes Read", 0)
                                  + rd.get("Local Bytes Read", 0))
            wr = m.get("Shuffle Write Metrics") or {}
            s["shuffle_write"] += wr.get("Shuffle Bytes Written", 0)
    return {"jobs": jobs, "stages": stages}


def event_log_files(log_dir: str) -> list[str]:
    """The event files of the one application logged under log_dir; a
    rolling log is a directory of ``events_<n>_<app>`` files."""
    (app,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    path = os.path.join(log_dir, app)
    if not os.path.isdir(path):
        return [path]
    files = [f for f in os.listdir(path) if f.startswith("events_")]
    files.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in files]


def attribute(log: dict, spans: list[dict]) -> dict[int, list[int]]:
    """span index -> ids of the Spark jobs submitted while it was the
    innermost open span."""
    out: dict[int, list[int]] = {i: [] for i in range(len(spans))}
    for jid, j in log["jobs"].items():
        best = None
        for i, s in enumerate(spans):
            if s["start"] <= j["submit"] <= (s["end"] or float("inf")):
                if best is None or s["start"] >= spans[best]["start"]:
                    best = i
        if best is not None:
            out[best].append(jid)
    return out


def stage_summary(log: dict, job_ids: list[int]) -> dict:
    """Task-level totals over the stages of the given jobs."""
    sids = {sid for jid in job_ids for sid in log["jobs"][jid]["stages"]}
    ran = [log["stages"][s] for s in sids
           if s in log["stages"] and log["stages"][s]["tasks"]]
    tot = {k: sum(s[k] for s in ran)
           for k in ("tasks", "failed", "run_ms", "cpu_ns", "gc_ms", "spill",
                     "shuffle_read", "shuffle_write")}
    tot["stages"] = len(ran)
    tot["jobs"] = len(job_ids)
    skew = 1.0
    if ran:
        longest = max(ran, key=lambda s: (s["done"] or 0) - (s["submit"] or 0))
        med = statistics.median(longest["task_ms"])
        skew = max(longest["task_ms"]) / med if med else 1.0
    tot["skew"] = skew
    return tot


def jobs_wall(log: dict, job_ids: list[int], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] during which at least one of the jobs ran."""
    return union_length(
        [(log["jobs"][j]["submit"], log["jobs"][j]["end"] or hi)
         for j in job_ids], lo, hi)
