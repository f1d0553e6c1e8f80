"""Tracing for the benchmark: driver-side spans, the Spark event log
parser, and the process-tree RSS sampler.

Spans are recorded only from the benchmark's own files: ``Tracer.wrap``
replaces a public driver-side callable with one that records a span
around it, and ``Tracer.restore`` puts the original back.  Nothing in
the engine is edited.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.

    A span is ``{name, t0, t1, parent, op, ...}``; ``parent`` is the
    index of the enclosing span, ``op`` the operation number it ran
    under (None outside operations).
    """

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self.op = None

    @contextmanager
    def span(self, name, **extra):
        rec = {"name": name, "t0": time.perf_counter(), "t1": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op, **extra}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["t1"] = time.perf_counter()

    @contextmanager
    def operation(self, i):
        """The span of operation ``i``; spans opened inside it count
        towards the per-operation totals."""
        self.op = i
        try:
            with self.span("op"):
                yield
        finally:
            self.op = None

    def wrap(self, owner, attr, name=None, before=None, call=None):
        """Record a span around every call of ``owner.attr``.

        ``before(rec, *args)`` annotates the span from the arguments;
        ``call(orig, rec, *args, **kw)`` replaces the plain call when
        the wrapper must also read the result's execution.
        """
        orig = getattr(owner, attr)
        label = name or attr

        def traced(*args, **kw):
            with self.span(label) as rec:
                if before is not None:
                    before(rec, *args)
                if call is not None:
                    return call(orig, rec, *args, **kw)
                return orig(*args, **kw)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self):
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def total(self, name, field=None):
        """Sum of durations (or of ``field``) of spans called ``name``
        inside operations."""
        return sum((s["t1"] - s["t0"]) if field is None else s.get(field, 0)
                   for s in self.spans
                   if s["name"] == name and s["op"] is not None)

    def count(self, name):
        return sum(1 for s in self.spans
                   if s["name"] == name and s["op"] is not None)

    def self_time(self, name):
        """Sum over spans called ``name`` of duration minus the time
        their direct children cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["t1"] - s["t0"])
        return sum(s["t1"] - s["t0"] - child.get(i, 0.0)
                   for i, s in enumerate(self.spans)
                   if s["name"] == name and s["op"] is not None)


def _acc_total(task_info, names):
    out = dict.fromkeys(names, 0)
    for a in task_info.get("Accumulables", ()):
        if a.get("Name") in out:
            try:
                out[a["Name"]] += int(a.get("Update", 0))
            except (TypeError, ValueError):
                pass
    return out


#: SQL metrics of the Python boundary (PythonSQLMetrics), summed over
#: tasks; the timing one is in milliseconds
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_TIME = "time to run Python workers"


def parse_event_log(log_dir: str, t0_ms: float, t1_ms: float) -> dict:
    """Job/stage/task and shuffle totals for the jobs submitted in
    ``[t0_ms, t1_ms]`` (epoch ms) from an uncompressed Spark event log
    directory (one application)."""
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                   key=lambda f: int(os.path.basename(f).split("_")[1]))
    jobs, stages = 0, set()
    tot = {"tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "deser_ms": 0,
           "sh_w_bytes": 0, "sh_w_ns": 0, "sh_r_bytes": 0,
           "sh_fetch_ms": 0, PY_SENT: 0, PY_RECV: 0, PY_TIME: 0}
    tasks = []
    completed = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    if t0_ms <= e["Submission Time"] <= t1_ms:
                        jobs += 1
                        stages.update(e["Stage IDs"])
                elif kind == "SparkListenerStageCompleted":
                    completed.append(e["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(e)
    done_stages = sum(1 for s in completed if s in stages)
    for e in tasks:
        if e["Stage ID"] not in stages:
            continue
        m = e.get("Task Metrics") or {}
        tot["tasks"] += 1
        tot["run_ms"] += m.get("Executor Run Time", 0)
        tot["cpu_ns"] += m.get("Executor CPU Time", 0)
        tot["gc_ms"] += m.get("JVM GC Time", 0)
        tot["deser_ms"] += m.get("Executor Deserialize Time", 0)
        w = m.get("Shuffle Write Metrics", {})
        tot["sh_w_bytes"] += w.get("Shuffle Bytes Written", 0)
        tot["sh_w_ns"] += w.get("Shuffle Write Time", 0)
        r = m.get("Shuffle Read Metrics", {})
        tot["sh_r_bytes"] += (r.get("Local Bytes Read", 0)
                              + r.get("Remote Bytes Read", 0))
        tot["sh_fetch_ms"] += r.get("Fetch Wait Time", 0)
        for k, v in _acc_total(e["Task Info"],
                               (PY_SENT, PY_RECV, PY_TIME)).items():
            tot[k] += v
    tot["jobs"] = jobs
    tot["stages"] = done_stages
    return tot


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the comm field may contain spaces; ppid follows its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes() -> int:
    """Resident set size summed over this process and all its
    descendants (the JVM and the Python workers), read from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background peak sampler of :func:`tree_rss_bytes`; use as a
    context manager, read ``peak`` after it exits."""

    #: one sample costs ~2 ms of driver time on a 4-vCPU VM
    interval = 0.1

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())
        return False
