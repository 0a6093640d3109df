"""Measurement taken from outside the engine.

- ``ProcTree``: CPU seconds and peak RSS of the whole process tree (this
  Python driver, the JVM it launched, the JVM's Python workers), read
  from ``/proc``.
- ``calibrate_ms``: a fixed pure-Python loop that flags a slowed host;
  ``host_steal``: the hypervisor's steal ticks, another such flag.
- ``Tracer``: spans (name, start, end, parent, request id) kept in memory
  and written out once at the end.
- ``JobCounter``: Spark jobs and tasks of one job group, through the
  status tracker.
- ``StreamTimings``: a ``StreamingQueryListener`` recording per-query
  start, trigger and termination times.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from datetime import datetime

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, list[str]] | None:
    """(comm, ppid, fields after comm) of one process, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    lp, rp = raw.index("("), raw.rindex(")")
    rest = raw[rp + 2 :].split()
    return raw[lp + 1 : rp], int(rest[1]), rest


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcTree:
    """CPU and memory of the process tree rooted at this process.

    CPU of a process that exited is counted through its parent's
    ``cutime``/``cstime`` once the parent reaped it, so the sum over the
    live tree includes finished Python workers."""

    def __init__(self):
        self.root = os.getpid()

    def _tree(self) -> dict[int, tuple[str, int, list[str]]]:
        procs = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st is not None:
                    procs[int(d)] = st
        kids: dict[int, list[int]] = {}
        for pid, (_, ppid, _) in procs.items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in procs:
                out[pid] = procs[pid]
                todo.extend(kids.get(pid, []))
        return out

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far: ``driver_py`` (this process), ``jvm`` (the
        JVM's own threads) and ``py_workers`` (everything the JVM started,
        live or reaped)."""
        tree = self._tree()
        out = {"driver_py": 0.0, "jvm": 0.0, "py_workers": 0.0}
        jvms = {pid for pid, (comm, _, _) in tree.items() if comm == "java"}
        for pid, (comm, ppid, f) in tree.items():
            own = (int(f[11]) + int(f[12])) / CLK_TCK
            reaped = (int(f[13]) + int(f[14])) / CLK_TCK
            if pid == self.root:
                out["driver_py"] += own
            elif pid in jvms:
                out["jvm"] += own
                out["py_workers"] += reaped
            else:
                out["py_workers"] += own + reaped
        return out

    def peak_rss_mb(self) -> float:
        """Sum of the live tree's per-process peak RSS (VmHWM)."""
        return sum(_hwm_kb(pid) for pid in self._tree()) / 1024.0


def host_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def calibrate_ms() -> float:
    """Median of three runs of a fixed pure-Python loop, in ms."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t) * 1000.0)
    return statistics.median(times)


class Tracer:
    """In-memory spans. ``enabled`` may be toggled between requests; a
    disabled tracer records nothing and costs one attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (same clock)."""
        if self.enabled:
            self.spans.append(
                {"name": name, "start": start, "end": end,
                 "parent": self._stack[-1] if self._stack else None,
                 "request": self.request, **attrs}
            )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


class JobCounter:
    """Jobs and tasks run under one job group (``sc.setJobGroup``)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._seq = 0

    @contextmanager
    def group(self, rec: dict | None):
        """Run the block in a fresh job group; with a span record, store
        its ``jobs`` and ``tasks`` there."""
        if rec is None:
            yield
            return
        self._seq += 1
        gid = f"perfbench-{self._seq}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            rec["jobs"], rec["tasks"] = self.count(gid)

    def count(self, gid: str) -> tuple[int, int]:
        jobs = self.tracker.getJobIdsForGroup(gid)
        tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                st = self.tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        return len(jobs), tasks


def _iso_s(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class StreamTimings:
    """Per streaming query (by run id): wall-clock start, each trigger's
    start, duration and input rows, and termination — the listener's
    view, keyed so the benchmark can read one drain's record after it
    ends."""

    def __init__(self):
        self.queries: dict[str, dict] = {}
        self._lock = threading.Lock()
        self._done = threading.Condition(self._lock)

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._lock:
                    outer.queries.setdefault(str(event.runId), {"triggers": []})[
                        "start_s"
                    ] = _iso_s(event.timestamp)

            def onQueryProgress(self, event):
                p = event.progress
                with outer._lock:
                    outer.queries.setdefault(str(p.runId), {"triggers": []})[
                        "triggers"
                    ].append(
                        {
                            "start_s": _iso_s(p.timestamp),
                            "ms": float(p.durationMs.get("triggerExecution", 0)),
                            "rows": int(p.numInputRows),
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._done:
                    outer.queries.setdefault(str(event.runId), {"triggers": []})[
                        "terminated"
                    ] = True
                    outer._done.notify_all()

        return _Listener()

    def wait(self, run_id: str) -> dict:
        """The record of one query once its termination event arrived
        (at most 30 s after the query returned)."""
        deadline = time.monotonic() + 30.0
        with self._done:
            while not self.queries.get(run_id, {}).get("terminated"):
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"no termination event for stream run {run_id}")
                self._done.wait(left)
            return self.queries.pop(run_id)
