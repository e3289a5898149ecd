"""Traced-run instruments, all attached from outside the program.

- ``Tracer`` records spans in memory around calls into the program's
  layers by wrapping module or class attributes, and writes them out once
  at exit. Each span has a name, start, end, parent and a key (the query
  name or request id it belongs to).
- ``EventLog`` reads the engine's local event log and sums jobs, stages
  and task metrics (``SparkListenerTaskEnd``) over the jobs submitted
  inside given spans.
- ``ProgressListener`` is a ``StreamingQueryListener`` that keeps every
  ``StreamingQueryProgress.durationMs``.
- ``tree_cpu_s`` reads the CPU time of the benchmark's process tree from
  ``/proc``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.key = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        # A callback thread (foreachBatch) has no open span of its own: its
        # caller is whatever the main thread is blocked in.
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": parent["id"] if parent else None,
                "key": self.key,
                "start": time.time(),
                "end": None,
            }
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        wrapped.__wrapped__ = orig
        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis -------------------------------------------------------
    def closed(self, name: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None and (name is None or s["name"] == name)]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.spans
            if c["parent"] == span["id"] and c["end"] is not None
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class EventLog:
    """Jobs and task metrics from a local event log, attributed to spans by
    time: a job belongs to the span during which it was submitted."""

    FIELDS = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "gc_s", "executor_run_s")

    def __init__(self, log_dir: str) -> None:
        self.jobs: list[tuple[float, list[int]]] = []  # (submit time s, stage ids)
        self.stage: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(self.FIELDS[2:], 0.0))
        # rolling logs are one directory per application
        for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
            if os.path.isfile(path):
                with open(path, errors="replace") as f:
                    for line in f:
                        self._line(line)

    def _line(self, line: str) -> None:
        if '"SparkListenerJobStart"' in line:
            ev = json.loads(line)
            self.jobs.append((ev["Submission Time"] / 1000.0, ev.get("Stage IDs", [])))
        elif '"SparkListenerTaskEnd"' in line:
            ev = json.loads(line)
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            rec = self.stage[ev.get("Stage ID")]
            rec["tasks"] += 1
            rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0

    def window(self, spans: list[dict]) -> dict[str, float]:
        """Totals over the jobs submitted inside any of ``spans``."""
        out = dict.fromkeys(self.FIELDS, 0.0)
        for t, stages in self.jobs:
            if any(s["start"] <= t <= s["end"] for s in spans):
                out["jobs"] += 1
                out["stages"] += len(stages)
                for sid in stages:
                    for k, v in self.stage.get(sid, {}).items():
                        out[k] += v
        return out


def make_progress_listener():
    """A StreamingQueryListener keeping each progress' ``durationMs``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            with self.lock:
                self.progress.append({
                    "id": str(p.id),
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "durationMs": dict(p.durationMs),
                })

        def wait_settled(self, n_before: int, expected: int, timeout: float = 10.0) -> list[dict]:
            """Progress events arrive asynchronously: wait for the ones
            after index ``n_before`` to reach ``expected`` and stop growing."""
            deadline, last = time.monotonic() + timeout, -1
            while time.monotonic() < deadline:
                n = len(self.progress)
                if n - n_before >= expected and n == last:
                    break
                last = n
                time.sleep(0.2)
            with self.lock:
                return self.progress[n_before:]

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressListener()


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default



def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by process ``root`` and all its descendants: the benchmark, the JVM
    that PySpark launched and its Python workers. Time the hypervisor
    steals from this machine's CPUs is not counted, which is why the
    end-to-end metrics are CPU times: on a shared host the wall time of
    the same work moved by 30% or more between runs."""
    root = os.getpid() if root is None else root
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid in cpu:
        p = pid
        while p not in (root, 0, 1) and p in parent:
            p = parent[p]
        if p == root:
            total += cpu[pid]
    return total / os.sysconf("SC_CLK_TCK")
