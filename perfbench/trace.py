"""Spans, process CPU and Spark execution metrics for one benchmark run.

The tracer patches the public entry points of program layers with thin
wrappers that record a span per call (name, start, end, parent span and
request id). Nothing in the program is edited: the wrappers are module
attribute swaps made by the benchmark process only, and are undone when
the run ends. Executors never see them. Spans stay in memory and are
written out, with self time, after the timed region.

Spark-level numbers are read from outside the program: each request
runs under its own job group (``statusTracker().getJobIdsForGroup``
counts its jobs) and the traced run enables a local, uncompressed event
log whose task-end records give per-stage executor CPU, shuffle, spill
and GC time.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every hook a
    no-op, so the untraced run goes through the same code paths."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self.request: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "request": self.request, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, module, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of
        ``module.attr`` (a lookup through the module attribute, which is
        how the program's own modules reach these functions)."""
        if not self.enabled:
            return
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, original))

    def unwrap_all(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def self_times(self) -> list[dict]:
        """Spans with ``self_s``: duration minus the part covered by
        direct children (children never overlap: one client thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            out.append({**s, "dur_s": dur, "self_s": dur - child[s["id"]]})
        return out

    def durations(self, name: str, request_prefix: str = "") -> list[float]:
        """Durations in seconds of spans ``name`` whose request id starts
        with ``request_prefix``."""
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (s["request"] or "").startswith(request_prefix)
        ]

    def per_request(self, name: str, request_prefix: str) -> list[float]:
        """Per request, the summed duration of its ``name`` spans."""
        acc = defaultdict(float)
        for s in self.spans:
            if s["name"] == name and (s["request"] or "").startswith(request_prefix):
                acc[s["request"]] += s["end"] - s["start"]
        return list(acc.values())

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.self_times():
                f.write(json.dumps(s) + "\n")


class JobGroups:
    """One Spark job group per request; job ids read back through the
    status tracker. Disabled in untraced runs."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.jobs: dict[str, int] = {}

    @contextmanager
    def group(self, gid: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.jobs[gid] = len(self.sc.statusTracker().getJobIdsForGroup(gid))


# -- process tree CPU and memory (/proc) ------------------------------------


def _children() -> dict[int, list[int]]:
    kids = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, IndexError, ValueError):
            continue
        if state != "Z":  # an exited process waiting to be reaped is gone
            kids[int(ppid)].append(int(pid))
    return kids


def descendants(root: int | None = None) -> list[int]:
    """Running descendant pids of ``root`` (default: this process)."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def _cpu_s(pid: int) -> float:
    """utime + stime of ``pid`` plus that of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            parts = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in parts[11:15]) / os.sysconf("SC_CLK_TCK")


def cpu_split() -> dict[str, float]:
    """CPU-seconds so far of this run's processes: ``client`` (this
    Python process), ``jvm`` (the Spark driver/executor JVM) and
    ``python_workers`` (the pyspark daemon and its workers)."""
    out = {"client": _cpu_s(os.getpid()), "jvm": 0.0, "python_workers": 0.0}
    for pid in descendants():
        cmd = _cmdline(pid)
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            # exited workers are in the daemon's reaped-children time,
            # live ones count themselves
            out["python_workers"] += _cpu_s(pid)
        elif b"java" in cmd.split(b"\0", 1)[0]:
            out["jvm"] += _cpu_s(pid)
    return out


def jvm_rss_peak_mb() -> float:
    """Peak resident set (VmHWM) of the Spark JVM, in MB."""
    for pid in descendants():
        if b"java" in _cmdline(pid).split(b"\0", 1)[0]:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            return int(line.split()[1]) / 1024.0
            except OSError:
                pass
    return 0.0


# -- event log ----------------------------------------------------------------


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor CPU s, shuffle write MB,
    spill MB and GC s, from the uncompressed event log(s) in
    ``log_dir``. Read it after the SparkContext has stopped, which
    flushes and closes the log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "executor_cpu_s": 0.0,
                 "shuffle_write_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0}
    )
    files = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
    ]
    for path in sorted(files):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid:
                        out[gid]["jobs"] += 1
                        for sid in ev.get("Stage IDs", ()):
                            stage_group[sid] = gid
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if gid is None or not m:
                        continue
                    g = out[gid]
                    g["tasks"] += 1
                    g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
    return dict(out)


def sum_groups(groups: dict[str, dict], prefix: str) -> dict[str, float]:
    tot = defaultdict(float)
    for gid, g in groups.items():
        if gid.startswith(prefix):
            for k, v in g.items():
                tot[k] += v
    return dict(tot)
