"""Run state shared by the workloads: the recorder of one timed window,
the run context, and the statistics the result line reports."""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np

from probes import JobCounter, ProcTree, StreamTimings, Tracer, host_steal


def percentile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of percentile ``p`` (0..100) of a non-empty
    list: a mean of all order statistics, weighted by how likely each is
    to sit at that percentile (Beta((n+1)q, (n+1)(1-q)) mass over its
    rank interval).  A sample percentile is one or two order statistics,
    so on a mix of request kinds of different cost it jumps with the
    noise of whichever requests land next to it; on nl_analytics the
    plain median of four runs spanned 15%, this estimate 5%."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    q = p / 100.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    steps = 64  # integration steps per rank interval
    t = (np.arange(steps * n) + 0.5) / (steps * n)
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))))
    weights = np.diff(cdf[::steps] / cdf[-1])
    return float(weights @ x)


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten of ``n`` samples
    beyond it, and never below the median."""
    p = 99
    while p > 50 and n - math.ceil(p / 100.0 * n) < 10:
        p -= 1
    return p


def p50(values: list[float]) -> float:
    return percentile(values, 50) if values else 0.0


@dataclass
class Ctx:
    """One run: the session, its seed and dirs, and the probes."""

    spark: object
    seed: int
    seconds: int
    trace: bool
    proc: ProcTree
    tracer: Tracer
    jobs: JobCounter
    streams: StreamTimings | None = None

    def traced(self, i: int, block: int = 1) -> bool:
        """Traced runs trace every other block of requests; the untraced
        blocks give the overhead baseline in the same process."""
        return self.trace and (i // block) % 2 == 0


class Recorder:
    """Samples of one timed window.  Time spent in ``paused()`` blocks
    (correctness checks, per-cycle fixtures) is excluded from the window
    and from its CPU."""

    def __init__(self, proc: ProcTree):
        self.proc = proc
        self.latency_ms: list[float] = []
        self.traced_ms: list[float] = []
        self.untraced_ms: list[float] = []
        self.read_ms: list[float] = []
        self.rows = 0
        self.attempted = 0
        self.failures: list[str] = []
        self._paused_s = 0.0
        self._paused_cpu = {"driver_py": 0.0, "jvm": 0.0, "py_workers": 0.0}

    def start(self) -> None:
        self.cpu0 = self.proc.cpu()
        self.steal0 = host_steal()
        self.t0 = time.perf_counter()

    def stop(self) -> None:
        self.t1 = time.perf_counter()
        steal1 = host_steal()
        self.steal_pct = 100.0 * (steal1[0] - self.steal0[0]) / max(1, steal1[1] - self.steal0[1])
        self.cpu1 = self.proc.cpu()
        self.rss_mb = self.proc.peak_rss_mb()

    @contextmanager
    def paused(self):
        c0, t0 = self.proc.cpu(), time.perf_counter()
        try:
            yield
        finally:
            self._paused_s += time.perf_counter() - t0
            c1 = self.proc.cpu()
            for k in self._paused_cpu:
                self._paused_cpu[k] += c1[k] - c0[k]

    def request(self, ms: float, traced: bool) -> None:
        self.latency_ms.append(ms)
        (self.traced_ms if traced else self.untraced_ms).append(ms)

    def fail(self, what: str) -> None:
        self.failures.append(what)

    @property
    def window_s(self) -> float:
        return self.t1 - self.t0 - self._paused_s

    def cpu_s(self) -> dict[str, float]:
        return {k: self.cpu1[k] - self.cpu0[k] - self._paused_cpu[k] for k in self._paused_cpu}

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        n = len(self.latency_ms)
        return {
            "setup_s": setup_s,
            "request_ms_p50": p50(self.latency_ms),
            "request_ms_tail": percentile(self.latency_ms, tail_percentile(n)),
            "requests_per_s": n / self.window_s,
            "rows_per_s": self.rows / self.window_s,
            "read_ms_p50": p50(self.read_ms),
            "cpu_s_per_request": sum(self.cpu_s().values()) / n,
            "peak_rss_mb": self.rss_mb,
        }


def warm_up(step, n: int) -> list[float]:
    """Call ``step(j)`` for ``j`` in ``0..n-1``; return each call's
    seconds, so a run can show where its warm-up curve flattens."""
    times = []
    for j in range(n):
        t = time.perf_counter()
        step(j)
        times.append(time.perf_counter() - t)
    return times
