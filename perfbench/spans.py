"""Spans, process-tree RSS sampling and Spark event-log attribution.

Spans are recorded in memory at workload -> phase -> call depth and written
out once at the end. Every span carries the run id and its parent. With
tracing on, each span also becomes the Spark job group of the calls made
inside it, so the event log attributes jobs, tasks, shuffle bytes and GC to
the span that caused them; jobs started from the engine's own background
threads carry no group and are attributed to the innermost span open when
they were submitted.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    def __init__(self, spark_context, traced: bool, rss):
        self.run_id = uuid.uuid4().hex[:12]
        self.sc = spark_context
        self.traced = traced
        self.rss = rss  # RssSampler: phase spans record their peak memory
        self.spans: List[dict] = []
        self._stack: List[dict] = []

    @contextmanager
    def span(self, name: str, layer: str = "bench", **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": f"{self.run_id}-{len(self.spans)}",
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "attrs": dict(attrs),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        phase = len(self._stack) == 2
        if phase:
            self.rss.window_peak()
        if self.traced:
            self.sc.setJobGroup(sp["id"], name)
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if phase:
                sp["rss_peak_mb"] = self.rss.window_peak()
            if self.traced:
                if parent is not None:
                    self.sc.setJobGroup(parent["id"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def timed(self, name: str, layer: str, fn, **attrs):
        """Run ``fn`` inside a call span; -> (result, seconds)."""
        with self.span(name, layer, **attrs) as sp:
            out = fn()
        return out, sp["end"] - sp["start"]


def self_times(spans: List[dict]) -> Dict[str, float]:
    """Per-layer self time: each span's duration minus the union of the
    intervals its direct children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out: Dict[str, float] = defaultdict(float)
    for s in spans:
        covered, cur = 0.0, None
        for a, b in sorted(kids[s["id"]]):
            if cur is None or a > cur[1]:
                if cur is not None:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur is not None:
            covered += cur[1] - cur[0]
        s["self_s"] = max(0.0, s["end"] - s["start"] - covered)
        out[s["layer"]] += s["self_s"]
    return dict(out)


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers it starts), sampled by one thread.
    Each process counts its proportional share of the pages it shares
    (PSS): summing plain RSS would count the JVM twice whenever a sample
    lands between its fork of a worker and that worker's exec."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_by_name = {}  # process name -> MB at the peak
        self._window_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def tree(self) -> set:
        """Pids of this process and all its live descendants."""
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat", "rb") as f:
                        fields = f.read().rsplit(b")", 1)[1].split()
                    parent[int(d)] = int(fields[1])
                except (OSError, IndexError):
                    continue
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            for c, pp in parent.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    frontier.append(c)
        return tree

    def sample(self) -> float:
        per = {}
        for p in self.tree():
            try:
                with open(f"/proc/{p}/smaps_rollup", "rb") as f:
                    kb = next(int(l.split()[1]) for l in f if l.startswith(b"Pss:"))
                with open(f"/proc/{p}/comm", "rb") as f:
                    name = f.read().decode().strip()
            except (OSError, StopIteration):
                continue
            per[name] = per.get(name, 0.0) + kb / 1024
        mb = sum(per.values())
        with self._lock:
            if mb > self.peak_mb:
                self.peak_mb, self.peak_by_name = mb, per
            self._window_mb = max(self._window_mb, mb)
        return mb

    def window_peak(self) -> float:
        """Peak since the previous call (samples once more first)."""
        self.sample()
        with self._lock:
            out, self._window_mb = self._window_mb, 0.0
        return out

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)


def read_event_log(log_dir: str) -> List[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path, "r", encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                if ev.get("Event") in (
                    "SparkListenerJobStart",
                    "SparkListenerTaskEnd",
                    "SparkListenerStageCompleted",
                ):
                    events.append(ev)
    return events


def attribute_jobs(spans: List[dict], events: List[dict], cores: int) -> Dict[str, dict]:
    """-> span id -> Spark work attributed to that span (its own jobs only;
    children hold theirs), plus derived core utilisation over its wall."""
    by_id = {s["id"]: s for s in spans}
    stage_job, job_span = {}, {}
    for ev in events:
        if ev["Event"] != "SparkListenerJobStart":
            continue
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        sid = group if group in by_id else _innermost(spans, ev["Submission Time"] / 1e3)
        job_span[ev["Job ID"]] = sid
        for st in ev["Stage IDs"]:
            stage_job.setdefault(st, ev["Job ID"])
    work = defaultdict(lambda: defaultdict(float))
    for job, sid in job_span.items():
        work[sid]["jobs"] += 1
    for ev in events:
        if ev["Event"] == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info.get("Number of Tasks") and info["Stage ID"] in stage_job:
                work[job_span[stage_job[info["Stage ID"]]]]["stages"] += 1
        elif ev["Event"] == "SparkListenerTaskEnd":
            job = stage_job.get(ev["Stage ID"])
            if job is None:
                continue
            w = work[job_span[job]]
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            w["tasks"] += 1
            w["task_s"] += m.get("Executor Run Time", 0) / 1e3
            w["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            w["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            w["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            w["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    out = {}
    for sid, w in work.items():
        if sid is None:
            continue
        sp = by_id[sid]
        wall = max(sp["end"] - sp["start"], 1e-9)
        out[sid] = dict(w, core_util=w["task_s"] / (wall * cores))
    return out


def _innermost(spans: List[dict], t: float) -> Optional[str]:
    best = None
    for s in spans:
        if s["start"] <= t <= s.get("end", t):
            if best is None or s["start"] >= best["start"]:
                best = s
    return best["id"] if best else None
