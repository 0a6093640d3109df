"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload nl_analytics --seed 1 --seconds 15 --trace 0

Run from the repository root.  The engine runs on Spark ``local[1]``
(one shuffle partition) in a fresh temp directory
under ``.perfbench/`` that is removed at exit.  A run builds its inputs
from ``--seed``, sets up (session, state build, a fixed-count warm-up),
does a fixed count of requests sized by
``--seconds``, checks every output, and prints one JSON line last:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1`` (spans go to ``.perfbench/traces/``).  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# One task slot: the inputs are kilobytes, so more slots only add
# contention with the driver, GC and JIT threads, and a run that needs
# fewer cores at once loses less when a shared host takes some away.
# On a 4-vCPU host local[1] was as fast as local[2] on every workload,
# and CPU-bound processes running beside it slowed nl_analytics' p50 by
# 6% at local[1] against 20% at local[2]; local[4] ran telco_ingest 20%
# slower than local[2] with 3x the run-to-run spread.
CPUS = 1

E2E_UNITS = {
    "setup_s": "s",
    "request_ms_p50": "ms",
    "request_ms_tail": "ms",
    "requests_per_s": "1/s",
    "rows_per_s": "1/s",
    "read_ms_p50": "ms",
    "cpu_s_per_request": "s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "nl.llm_ms_p50": "ms",
    "nl.llm_calls_per_request": "count",
    "plans.execute_sql_ms_p50": "ms",
    "spark.collect_ms_p50": "ms",
    "spark.jobs_per_request": "count",
    "spark.tasks_per_request": "count",
    "spark.jobs_per_read": "count",
    "catalog.csv_read_ms_p50": "ms",
    "formats.append_ms_p50": "ms",
    "formats.jobs_per_append": "count",
    "formats.maint_ms_p50": "ms",
    "formats.manifest_bytes_max": "bytes",
    "formats.data_files_max": "count",
    "formats.write_amp": "ratio",
    "operators.plan_ms_p50": "ms",
    "cpu.jvm_s": "s",
    "cpu.driver_py_s": "s",
    "cpu.py_workers_s": "s",
    "session.start_s": "s",
    "catalog.register_s": "s",
    "setup.warmup_s": "s",
    "host.calib_ms": "ms",
    "host.steal_pct": "%",
    "trace.overhead_pct": "%",
}


def _isolate(tmp: str) -> None:
    """Point every scratch location of this process, the JVM and the
    Python workers into ``tmp``; workers import the package from ROOT."""
    for sub in ("spark-local", "pytmp", "jtmp"):
        os.makedirs(os.path.join(tmp, sub))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = os.path.join(tmp, "pytmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(tmp, 'jtmp')} -XX:-UsePerfData"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def run(args, tmp: str) -> dict:
    from harness import Ctx, Recorder, p50
    from probes import JobCounter, ProcTree, StreamTimings, Tracer, calibrate_ms
    from workloads import WORKLOADS

    from local_llm_iceberg_cdw_spark.session import build_session

    calib = [calibrate_ms()]
    proc = ProcTree()
    t0 = time.perf_counter()
    spark = build_session(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        warehouse_dir=os.path.join(tmp, "spark-warehouse"),
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        },
    )
    session_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload]()
    try:
        tracer = Tracer(enabled=False)
        ctx = Ctx(spark=spark, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
                  proc=proc, tracer=tracer, jobs=JobCounter(spark))
        if ctx.trace:
            ctx.streams = StreamTimings()
            spark.streams.addListener(ctx.streams.listener())
        t = time.perf_counter()
        wl.build(ctx, os.path.join(tmp, "state"))
        build_s = time.perf_counter() - t
        t = time.perf_counter()
        warm = wl.prepare(ctx)
        warmup_s = time.perf_counter() - t
        setup_s = session_s + build_s + warmup_s
        print(f"[perfbench] setup: session {session_s:.2f}s, build {build_s:.2f}s, "
              f"warm-up {warmup_s:.2f}s; warm-up steps ms: "
              + " ".join(f"{x * 1000:.0f}" for x in warm), file=sys.stderr)

        n = wl.request_count(args.seconds)
        rec = Recorder(proc)
        rec.start()
        wl.run(ctx, rec, n)
        rec.stop()
        calib.append(calibrate_ms())
        metrics = rec.end_to_end(setup_s)
        print(
            f"[perfbench] {args.workload} seed={args.seed} local[{CPUS}] requests="
            f"{len(rec.latency_ms)} window={rec.window_s:.2f}s attempted={rec.attempted} "
            f"failed={len(rec.failures)} error_rate={len(rec.failures) / max(1, rec.attempted):.4f}",
            file=sys.stderr,
        )
        print(f"[perfbench] host calibration {calib[0]:.1f} -> {calib[1]:.1f} ms, steal "
              f"{rec.steal_pct:.1f}%; latencies ms: "
              + " ".join(f"{x:.0f}" for x in rec.latency_ms), file=sys.stderr)
        for f in rec.failures[:20]:
            print(f"[perfbench] FAILED: {f}", file=sys.stderr)
        if ctx.trace:
            layer = {k: 0.0 for k in LAYER_UNITS}
            layer.update(wl.layers(ctx, rec))
            per_req = {k: v / max(1, len(rec.latency_ms)) for k, v in rec.cpu_s().items()}
            traced, plain = rec.traced_ms, rec.untraced_ms
            layer.update({
                "cpu.jvm_s": per_req["jvm"],
                "cpu.driver_py_s": per_req["driver_py"],
                "cpu.py_workers_s": per_req["py_workers"],
                "session.start_s": session_s,
                "catalog.register_s": build_s,
                "setup.warmup_s": warmup_s,
                "host.calib_ms": statistics.mean(calib),
                "host.steal_pct": rec.steal_pct,
                "trace.overhead_pct": 100.0 * (
                    p50(traced) / p50(plain) - 1.0
                ) if traced and plain else 0.0,
            })
            tracer.dump(os.path.join(ROOT, ".perfbench", "traces",
                                     f"{args.workload}-seed{args.seed}.json"))
            # a workload outside the judged set may add figures of its own
            units = {**LAYER_UNITS, **getattr(wl, "extra_layer_units", {})}
            out = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
        else:
            out = {k: {"value": metrics[k], "unit": u} for k, u in E2E_UNITS.items()}
        for k, v in out.items():
            print(f"[perfbench]   {k:40s} {v['value']:.6g} {v['unit']}", file=sys.stderr)
        return {
            "correct": not rec.failures,
            "attempted": rec.attempted,
            "failed": len(rec.failures),
            "metrics": out,
        }
    finally:
        wl.close()
        spark.stop()
        _stop_jvm()


def _stop_jvm() -> None:
    """End the JVM this process launched and wait for it: the gateway
    exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import local_llm_iceberg_cdw_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    # makedirs refuses an existing path, so every run starts empty
    tmp = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(tmp)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup below
    try:
        _isolate(tmp)
        result = run(args, tmp)
    except Exception:  # noqa: BLE001 — report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
