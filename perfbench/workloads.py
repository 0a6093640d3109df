"""The four workloads.  Each is a closed loop with one client: a request
starts when the previous one returned.

A workload has
- ``build(ctx, d)``: the run's state in a fresh directory;
- ``prepare(ctx)``: one-time wiring and a fixed-count warm-up, both in
  set-up; it returns the warm-up step times;
- ``run(ctx, rec, n)``: ``n`` requests in the timed window;
- ``layers(ctx, rec)``: the per-layer figures of a traced run.

Correctness checks run inside ``rec.paused()`` so they stay out of the
window, and every failed check is recorded as a failure.
"""

from __future__ import annotations

import glob
import json
import math
import os
import random
import time
from collections import Counter
from decimal import Decimal

import numpy as np

import fixtures
from harness import Ctx, Recorder, p50, warm_up
from questions import CATALOGUE, CatalogueModel

STAR = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
TELCO = ("customers", "plans", "subscriptions", "usage_records", "recharges")


def _canonical(rows) -> list[tuple]:
    """Order-insensitive form: floats by ``repr`` (exact, as the oracle
    parity tests compare them), decimals by normalised value."""

    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else repr(v)
        if isinstance(v, Decimal):
            return "dec:" + str(v.normalize())
        return repr(v)

    return sorted(tuple(norm(v) for v in r) for r in rows)


def _ms(t0: float, t1: float) -> float:
    return (t1 - t0) * 1000.0


def _dur_ms(spans) -> list[float]:
    return [_ms(s["start"], s["end"]) for s in spans]


def _spans(ctx: Ctx, name: str) -> list[dict]:
    return [s for s in ctx.tracer.spans if s["name"] == name]


def _per(spans, key: str) -> float:
    """Mean of a count stored on spans (0 when there are none)."""
    return sum(s[key] for s in spans) / len(spans) if spans else 0.0


class _TimedClient:
    """The LLM client the benchmark hands to ``AnswerPipeline``: times
    every call (the request needs the plot call's start to split out the
    read step) and records an ``nl.llm`` span on traced requests."""

    def __init__(self, inner, tracer):
        self.inner, self.tracer = inner, tracer
        self.calls: list[tuple[float, float]] = []

    def __call__(self, messages):
        with self.tracer.span("nl.llm"):
            t = time.perf_counter()
            out = self.inner(messages)
            self.calls.append((t, time.perf_counter()))
        return out


class NlAnalytics:
    """One question answered end to end through the NL chain, its three
    LLM round trips served over HTTP by an in-process chat server."""

    name = "nl_analytics"
    sf = 0.01
    rate = 2.8  # requests/s on a 4-core reference box; sizes the fixed count
    warm_rounds = 2  # whole catalogue rounds before the window

    def build(self, ctx: Ctx, d: str) -> None:
        from local_llm_iceberg_cdw_spark.catalog import register_views

        fixtures.write_star(d, ctx.seed, self.sf)
        fixtures.write_telco_parquet(d, fixtures.telco_initial(ctx.seed))
        register_views(ctx.spark, d, tables=STAR, strict=True)
        for t in TELCO:
            ctx.spark.read.parquet(os.path.join(d, f"{t}.parquet")).createOrReplaceTempView(t)
        self.dir = d

    def prepare(self, ctx: Ctx) -> list[float]:
        from local_llm_iceberg_cdw_spark.catalog import table_info
        from local_llm_iceberg_cdw_spark.nl import chain
        from local_llm_iceberg_cdw_spark.nl.openai_client import OpenAICompatClient
        from local_llm_iceberg_cdw_spark.nl.serving import ChatCompletionServer

        self.server = ChatCompletionServer(CatalogueModel()).start()
        self.client = _TimedClient(OpenAICompatClient(self.server.base_url), ctx.tracer)
        self.pipe = chain.AnswerPipeline(ctx.spark, self.client, table_info(ctx.spark, STAR + TELCO))
        if ctx.trace:
            self._orig_execute_sql = chain.execute_sql
            orig, tracer = chain.execute_sql, ctx.tracer

            def timed_execute_sql(*args, **kwargs):
                with tracer.span("plans.execute_sql") as sp:
                    out = orig(*args, **kwargs)
                self.exec_end = sp["end"] if sp else time.perf_counter()
                return out

            chain.execute_sql = timed_execute_sql
        return warm_up(lambda j: self.pipe.run(CATALOGUE[j % len(CATALOGUE)][0]),
                       self.warm_rounds * len(CATALOGUE))

    def close(self) -> None:
        if getattr(self, "server", None) is not None:
            self.server.stop()
        if hasattr(self, "_orig_execute_sql"):
            from local_llm_iceberg_cdw_spark.nl import chain

            chain.execute_sql = self._orig_execute_sql

    def request_count(self, seconds: int) -> int:
        """Whole rounds of the catalogue, so every seed asks every
        question equally often; at least three, because the 14 questions
        differ up to 8x in cost and a median over fewer rounds moves with
        the noise of the few questions next to it."""
        rounds = max(3, math.ceil(seconds * self.rate / len(CATALOGUE)))
        return rounds * len(CATALOGUE)

    def run(self, ctx: Ctx, rec: Recorder, n: int) -> None:
        rng = random.Random(ctx.seed)
        order: list[int] = []
        while len(order) < n:
            rnd = list(range(len(CATALOGUE)))
            rng.shuffle(rnd)
            order.extend(rnd)
        answers = []
        tracer = ctx.tracer
        for i, q in enumerate(order[:n]):
            traced = ctx.traced(i, block=len(CATALOGUE))  # whole rounds: same question mix
            tracer.enabled, tracer.request = traced, i
            self.client.calls.clear()
            self.exec_end = None
            stamps = {}
            rec.attempted += 1
            with tracer.span("nl.request") as sp, ctx.jobs.group(sp):
                t0 = time.perf_counter()
                for state, ans in self.pipe.run_iter(CATALOGUE[q][0]):
                    stamps[state] = time.perf_counter()
                t1 = time.perf_counter()
            rec.request(_ms(t0, t1), traced)
            # the read step: SQL execution + collect, i.e. from
            # running_query until the plot call starts (or the answer)
            q_start = stamps.get("running_query")
            q_end = self.client.calls[1][0] if len(self.client.calls) > 1 else t1
            if q_start is not None:
                rec.read_ms.append(_ms(q_start, q_end))
                if traced and self.exec_end is not None:
                    tracer.add("spark.collect", self.exec_end, q_end)
            rec.rows += len(ans.rows)
            answers.append((q, ans, len(self.client.calls)))
        tracer.enabled = False
        with rec.paused():
            self.check(rec, answers)

    def check(self, rec: Recorder, answers) -> None:
        """Answers against DuckDB over the same parquet files."""
        import duckdb

        from local_llm_iceberg_cdw_spark.nl.chain import NO_RESULTS_ANSWER

        con = duckdb.connect()
        try:
            for t in STAR + TELCO:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.dir, t + '.parquet')}'"
                )
            oracle = {}
            for q in sorted({q for q, _, _ in answers}):
                rel = con.sql(CATALOGUE[q][1])
                oracle[q] = (list(rel.columns), _canonical(rel.fetchall()))
        finally:
            con.close()
        for q, ans, calls in answers:
            cols, rows = oracle[q]
            want_calls = 3 if rows else 1
            if ans.error:
                rec.fail(f"nl q{q}: {ans.error[:200]}")
            elif list(ans.columns) != cols or _canonical(ans.rows) != rows:
                rec.fail(f"nl q{q}: answer rows differ from DuckDB")
            elif calls != want_calls or (not rows and ans.text != NO_RESULTS_ANSWER):
                rec.fail(f"nl q{q}: {calls} LLM calls, expected {want_calls}")

    def layers(self, ctx: Ctx, rec: Recorder) -> dict:
        reqs = _spans(ctx, "nl.request")
        return {
            "nl.llm_ms_p50": p50(_dur_ms(_spans(ctx, "nl.llm"))),
            "nl.llm_calls_per_request": len(_spans(ctx, "nl.llm")) / max(1, len(reqs)),
            "plans.execute_sql_ms_p50": p50(_dur_ms(_spans(ctx, "plans.execute_sql"))),
            "spark.collect_ms_p50": p50(_dur_ms(_spans(ctx, "spark.collect"))),
            "spark.jobs_per_request": _per(reqs, "jobs"),
            "spark.tasks_per_request": _per(reqs, "tasks"),
        }


TELCO_DATE_COLS = {
    "customers": {"registration_date": "yyyy-MM-dd"},
    "subscriptions": {"start_date": "yyyy-MM-dd", "end_date": "yyyy-MM-dd"},
    "usage_records": {},
    "recharges": {"recharge_date": "yyyy-MM-dd"},
}
TELCO_TS_COLS = {"usage_records": {"usage_date": "yyyy-MM-dd HH:mm:ss"}}


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(d, "**", "*"), recursive=True)
               if os.path.isfile(p))


def _manifest(path: str) -> list[dict]:
    with open(os.path.join(path, "_snapshots.json")) as f:
        return json.load(f)


def _as_of_literal(ts_ms: int) -> str:
    """A commit timestamp as an SQL literal, half a millisecond past the
    commit so float truncation of the literal never lands before it."""
    import datetime as dt

    t = dt.datetime.fromtimestamp(ts_ms / 1000.0, tz=dt.timezone.utc).replace(tzinfo=None)
    return t.replace(microsecond=(ts_ms % 1000) * 1000 + 500).isoformat(sep=" ")


class TelcoIngest:
    """CSV ingest batches committed as snapshots, round-robin over the
    telco tables, with a time-travel read between batches and
    compaction plus snapshot expiry closing every cycle."""

    name = "telco_ingest"
    rate = 1.6
    cycle = 8  # ingest batches between maintenance passes (2 per table)
    warm_cycles = 3  # whole maintenance cycles before the window
    tables = fixtures.TELCO_TABLES

    def request_count(self, seconds: int) -> int:
        return max(2, math.ceil(seconds * self.rate / self.cycle)) * self.cycle

    def _stage(self, d: str, n_sets: int) -> None:
        """Initial CSVs plus ``n_sets`` reference append batches, with
        ids continuing across batches."""
        os.makedirs(os.path.join(d, "csv"), exist_ok=True)
        init = fixtures.telco_initial(self.seed)
        self.batches: dict[str, list[tuple[str, list[int]]]] = {t: [] for t in self.tables}
        self.initial: dict[str, tuple[str, list[int]]] = {}
        nxt = {}
        for t in self.tables:
            p = os.path.join(d, "csv", f"{t}-init.csv")
            init[t].to_csv(p, index=False)
            ids = init[t][fixtures.TELCO_IDS[t]].tolist()
            self.initial[t] = (p, ids)
            nxt[t] = max(ids) + 1
        for j in range(n_sets):
            frames = fixtures.telco_append_frames(
                self.seed * 1009 + j, nxt["customers"], fixtures.TELCO_APPEND_ROWS["customers"], nxt
            )
            for t in self.tables:
                p = os.path.join(d, "csv", f"{t}-{j:04d}.csv")
                frames[t].to_csv(p, index=False)
                ids = frames[t][fixtures.TELCO_IDS[t]].tolist()
                self.batches[t].append((p, ids))
                nxt[t] = max(ids) + 1

    def _read_csv(self, spark, t: str, path: str):
        from local_llm_iceberg_cdw_spark.catalog import read_csv_with_casts

        return read_csv_with_casts(spark, path, TELCO_DATE_COLS[t], TELCO_TS_COLS.get(t))

    def _create(self, ctx: Ctx, root: str) -> dict:
        from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

        tabs = {}
        for t in self.tables:
            tbl = SnapshotParquetTable(ctx.spark, os.path.join(root, t))
            tbl.create(self._read_csv(ctx.spark, t, self.initial[t][0]))
            tabs[t] = tbl
        return tabs

    def build(self, ctx: Ctx, d: str) -> None:
        self.seed, self.dir = ctx.seed, d
        n = self.request_count(ctx.seconds)
        self._stage(d, math.ceil(n / len(self.tables)))

    def prepare(self, ctx: Ctx) -> list[float]:
        """Warm-up on a separate table set, so the measured tables follow
        the same state path every run: ``warm_cycles`` whole cycles of
        batch, read and maintenance.  Then the measured tables are
        created."""
        from local_llm_iceberg_cdw_spark.plans.sql import execute_sql

        warm = self._create(ctx, os.path.join(self.dir, "warm"))

        def step(j: int) -> None:
            t = self.tables[j % len(self.tables)]
            path = self.batches[t][(j // len(self.tables)) % len(self.batches[t])][0]
            sid = warm[t].append(self._read_csv(ctx.spark, t, path))
            clause = (
                f"FOR SYSTEM_TIME AS OF '{_as_of_literal(_manifest(warm[t].path)[-1]['timestamp_ms'])}'"
                if j % 2 == 0 else f"VERSION AS OF {sid}"
            )
            execute_sql(ctx.spark, f"SELECT COUNT(*) FROM {t} {clause}",
                        snapshot_tables={t: warm[t]}).collect()
            if (j + 1) % self.cycle == 0:
                for tbl in warm.values():
                    tbl.compact()
                    tbl.expire_snapshots(keep_last=1)

        times = warm_up(step, self.warm_cycles * self.cycle)
        self.tabs = self._create(ctx, os.path.join(self.dir, "warehouse"))
        return times

    def close(self) -> None:
        pass

    def run(self, ctx: Ctx, rec: Recorder, n: int) -> None:
        from local_llm_iceberg_cdw_spark.plans.sql import execute_sql

        rng = random.Random(ctx.seed)
        tracer, spark = ctx.tracer, ctx.spark
        # per table: the snapshots alive since the last maintenance, as
        # (snapshot id, commit ts ms, row count, id sum), and all ids
        ids = {t: list(self.initial[t][1]) for t in self.tables}
        ledger = {}
        for t, tbl in self.tabs.items():
            head = _manifest(tbl.path)[-1]
            ledger[t] = [(head["snapshot_id"], head["timestamp_ms"], len(ids[t]), sum(ids[t]))]
        self.csv_bytes = self.written = 0
        self.manifest_max = self.files_max = 0
        for i in range(n):
            t = self.tables[i % len(self.tables)]
            path, batch_ids = self.batches[t][i // len(self.tables)]
            tbl = self.tabs[t]
            traced = ctx.traced(i, block=self.cycle)  # whole cycles: same state path
            tracer.enabled, tracer.request = traced, i
            rec.attempted += 1
            try:
                t0 = time.perf_counter()
                with tracer.span("catalog.csv_read") as sp, ctx.jobs.group(sp):
                    df = self._read_csv(spark, t, path)
                with tracer.span("formats.append") as sp, ctx.jobs.group(sp):
                    sid = tbl.append(df)
                rec.request(_ms(t0, time.perf_counter()), traced)
            except Exception as exc:  # noqa: BLE001 — a failed op is a counted failure
                rec.fail(f"telco append {t}#{i}: {exc!r}"[:300])
                continue
            rec.rows += len(batch_ids)
            self.csv_bytes += os.path.getsize(path)
            self.written += _dir_bytes(os.path.join(tbl.path, f"data-snap-{sid:06d}"))
            ids[t].extend(batch_ids)
            snap = _manifest(tbl.path)[-1]
            ledger[t].append((sid, snap["timestamp_ms"], len(ids[t]), sum(ids[t])))
            self._read(ctx, rec, execute_sql, rng, ledger, i)
            if (i + 1) % self.cycle == 0:
                self._maintain(ctx, rec, ledger, ids)
        tracer.enabled = False

    def _read(self, ctx: Ctx, rec: Recorder, execute_sql, rng, ledger, i: int) -> None:
        """One time-travel read of a live snapshot: even reads by commit
        time, odd reads by snapshot id."""
        t = rng.choice(self.tables)
        sid, ts_ms, count, idsum = rng.choice(ledger[t])
        clause = (
            f"FOR SYSTEM_TIME AS OF '{_as_of_literal(ts_ms)}'" if i % 2 == 0 else f"VERSION AS OF {sid}"
        )
        sql = f"SELECT COUNT(*) AS n, SUM({fixtures.TELCO_IDS[t]}) AS s FROM {t} {clause}"
        rec.attempted += 1
        try:
            t0 = time.perf_counter()
            with ctx.tracer.span("telco.read") as sp, ctx.jobs.group(sp):
                with ctx.tracer.span("plans.execute_sql"):
                    df = execute_sql(ctx.spark, sql, snapshot_tables={t: self.tabs[t]})
                with ctx.tracer.span("spark.collect"):
                    row = df.collect()[0]
            rec.read_ms.append(_ms(t0, time.perf_counter()))
        except Exception as exc:  # noqa: BLE001
            rec.fail(f"telco read {sql}: {exc!r}"[:300])
            return
        if (row["n"], row["s"]) != (count, idsum):
            rec.fail(f"telco read {sql}: got {(row['n'], row['s'])}, want {(count, idsum)}")

    def _maintain(self, ctx: Ctx, rec: Recorder, ledger, ids) -> None:
        ctx.tracer.enabled, ctx.tracer.request = ctx.trace, None
        for t, tbl in self.tabs.items():
            snaps = _manifest(tbl.path)
            self.manifest_max = max(self.manifest_max, os.path.getsize(
                os.path.join(tbl.path, "_snapshots.json")))
            self.files_max = max(self.files_max, sum(
                len(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))
                for d in snaps[-1]["data_dirs"]))
            with ctx.tracer.span("formats.maint"):
                tbl.compact()
                tbl.expire_snapshots(keep_last=1)
            head = _manifest(tbl.path)[-1]
            self.written += _dir_bytes(os.path.join(tbl.path, f"data-snap-{head['snapshot_id']:06d}"))
            ledger[t] = [(head["snapshot_id"], head["timestamp_ms"], len(ids[t]), sum(ids[t]))]
        with rec.paused():
            for t, tbl in self.tabs.items():
                got = sorted(r[0] for r in tbl.read().select(fixtures.TELCO_IDS[t]).collect())
                if got != sorted(ids[t]):
                    rec.fail(f"telco {t}: id ledger differs after maintenance")

    def layers(self, ctx: Ctx, rec: Recorder) -> dict:
        appends = _spans(ctx, "formats.append")
        reads = _spans(ctx, "telco.read")
        csv = _spans(ctx, "catalog.csv_read")
        return {
            "catalog.csv_read_ms_p50": p50(_dur_ms(csv)),
            "formats.append_ms_p50": p50(_dur_ms(appends)),
            "formats.jobs_per_append": _per(appends, "jobs"),
            "formats.maint_ms_p50": p50(_dur_ms(_spans(ctx, "formats.maint"))),
            "formats.manifest_bytes_max": self.manifest_max,
            "formats.data_files_max": self.files_max,
            "formats.write_amp": self.written / self.csv_bytes,
            "plans.execute_sql_ms_p50": p50(_dur_ms(_spans(ctx, "plans.execute_sql"))),
            "spark.collect_ms_p50": p50(_dur_ms(_spans(ctx, "spark.collect"))),
            "spark.jobs_per_request": _per(csv, "jobs") + _per(appends, "jobs"),
            "spark.tasks_per_request": _per(csv, "tasks") + _per(appends, "tasks"),
            "spark.jobs_per_read": _per(reads, "jobs"),
        }


class StreamPipe:
    """A source commit made visible downstream by an ``availableNow``
    drain of the ``snapshot_table`` stream facade into a second snapshot
    table, one fresh source, target and checkpoint per cycle."""

    name = "stream_pipe"
    rate = 0.3
    cycle = 4  # source commits (requests) per cycle
    init_rows, slice_rows = 1000, 200
    warm_drains = 4
    # not in the judged set (too slow for its run budget), so these
    # streaming figures are in this workload's traced result line only
    extra_layer_units = {
        "streaming.start_to_first_batch_ms_p50": "ms",
        "streaming.trigger_ms_p50": "ms",
        "streaming.terminate_ms_p50": "ms",
        "streaming.batches_per_drain": "count",
        "streaming.empty_drains": "count",
        "spark.jobs_per_drain": "count",
    }

    def request_count(self, seconds: int) -> int:
        return max(2, math.ceil(seconds * self.rate / self.cycle)) * self.cycle

    def build(self, ctx: Ctx, d: str) -> None:
        import pyarrow.parquet as pq

        self.dir = d
        n_cycles = (math.ceil(self.warm_drains / self.cycle)
                    + self.request_count(ctx.seconds) // self.cycle)
        per_cycle = self.init_rows + self.cycle * self.slice_rows
        events = fixtures.events_table(ctx.seed, n_cycles * per_cycle)
        self.slices: list[list[str]] = []
        os.makedirs(os.path.join(d, "slices"), exist_ok=True)
        for c in range(n_cycles):
            base = c * per_cycle
            bounds = [(base, base + self.init_rows)] + [
                (base + self.init_rows + k * self.slice_rows,
                 base + self.init_rows + (k + 1) * self.slice_rows)
                for k in range(self.cycle)
            ]
            paths = []
            for k, (lo, hi) in enumerate(bounds):
                p = os.path.join(d, "slices", f"c{c:03d}-{k}.parquet")
                pq.write_table(events.slice(lo, hi - lo), p)
                paths.append(p)
            self.slices.append(paths)

    def prepare(self, ctx: Ctx) -> list[float]:
        from local_llm_iceberg_cdw_spark.streaming.table_source import SnapshotTableDataSource

        ctx.spark.dataSource.register(SnapshotTableDataSource)
        self._cycle_no = 0
        rounds = []

        def step(j: int) -> None:
            if j % self.cycle == 0:
                rounds.append(self._open(ctx, f"warm{j // self.cycle}"))
            src, tgt, ckpt, paths, qname = rounds[-1]
            src.append(ctx.spark.read.parquet(paths[1 + j % self.cycle]))
            self._drain(ctx, src, tgt, ckpt, qname).awaitTermination()

        return warm_up(step, self.warm_drains)

    def close(self) -> None:
        pass

    def _open(self, ctx: Ctx, tag: str):
        """A fresh source from the next staged cycle, drained once so the
        target holds its initial slice."""
        from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

        paths = self.slices[self._cycle_no]
        self._cycle_no += 1
        root = os.path.join(self.dir, "tables", tag)
        src = SnapshotParquetTable(ctx.spark, os.path.join(root, "src"))
        src.create(ctx.spark.read.parquet(paths[0]))
        tgt, ckpt, qname = os.path.join(root, "tgt"), os.path.join(root, "ckpt"), f"pipe_{tag}"
        self._drain(ctx, src, tgt, ckpt, qname).awaitTermination()
        return src, tgt, ckpt, paths, qname

    @staticmethod
    def _drain(ctx: Ctx, src, tgt: str, ckpt: str, qname: str):
        return (
            ctx.spark.readStream.format("snapshot_table").option("path", src.path).load()
            .writeStream.format("snapshot_table")
            .option("path", tgt).option("queryName", qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )

    def run(self, ctx: Ctx, rec: Recorder, n: int) -> None:
        from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

        tracer, spark = ctx.tracer, ctx.spark
        self.drains: list[dict] = []
        for c in range(n // self.cycle):
            with rec.paused():
                src, tgt, ckpt, paths, qname = self._open(ctx, f"c{c:03d}")
            landed = self.init_rows
            for k in range(self.cycle):
                i = c * self.cycle + k
                traced = ctx.traced(i)
                tracer.enabled, tracer.request = traced, i
                rec.attempted += 1
                try:
                    with tracer.span("formats.append") as sp, ctx.jobs.group(sp):
                        src.append(spark.read.parquet(paths[1 + k]))
                    t0, w0 = time.perf_counter(), time.time()
                    q = self._drain(ctx, src, tgt, ckpt, qname)
                    q.awaitTermination()
                    t1, w1 = time.perf_counter(), time.time()
                except Exception as exc:  # noqa: BLE001
                    rec.fail(f"stream drain c{c}/{k}: {exc!r}"[:300])
                    continue
                rec.request(_ms(t0, t1), traced)
                landed += self.slice_rows
                rec.rows += self.slice_rows
                if traced:
                    self._record_drain(ctx, str(q.runId), w0, w1)
                rec.attempted += 1
                t2 = time.perf_counter()
                with tracer.span("stream.read"):
                    got = SnapshotParquetTable(spark, tgt).read().count()
                rec.read_ms.append(_ms(t2, time.perf_counter()))
                if got != landed:
                    rec.fail(f"stream c{c}/{k}: target has {got} rows, want {landed}")
            tracer.enabled = False
            with rec.paused():
                want = Counter(tuple(r) for r in src.read().collect())
                cols = src.read().columns
                have = Counter(tuple(r) for r in SnapshotParquetTable(spark, tgt).read()
                               .select(*cols).collect())
                if want != have:
                    rec.fail(f"stream c{c}: target rows differ from source")

    def _record_drain(self, ctx: Ctx, run_id: str, w0: float, w1: float) -> None:
        q = ctx.streams.wait(run_id)
        trig = q["triggers"]
        jobs, _ = ctx.jobs.count(run_id)
        self.drains.append(
            {
                "start_to_first_batch_ms": (trig[0]["start_s"] - q["start_s"]) * 1000.0 if trig else 0.0,
                "trigger_ms": [t["ms"] for t in trig],
                "terminate_ms": (w1 - (trig[-1]["start_s"] + trig[-1]["ms"] / 1000.0)) * 1000.0
                if trig else (w1 - w0) * 1000.0,
                "batches": len(trig),
                "rows": sum(t["rows"] for t in trig),
                "jobs": jobs,
            }
        )

    def layers(self, ctx: Ctx, rec: Recorder) -> dict:
        d = self.drains
        appends = _spans(ctx, "formats.append")
        return {
            "streaming.start_to_first_batch_ms_p50": p50([x["start_to_first_batch_ms"] for x in d]),
            "streaming.trigger_ms_p50": p50([m for x in d for m in x["trigger_ms"]]),
            "streaming.terminate_ms_p50": p50([x["terminate_ms"] for x in d]),
            "streaming.batches_per_drain": sum(x["batches"] for x in d) / max(1, len(d)),
            "streaming.empty_drains": sum(1 for x in d if x["rows"] == 0),
            "spark.jobs_per_drain": sum(x["jobs"] for x in d) / max(1, len(d)),
            "formats.append_ms_p50": p50(_dur_ms(appends)),
            "formats.jobs_per_append": _per(appends, "jobs"),
        }


class VectorSearch:
    """One RAG retrieval: ``dense_shortlist`` top-k by cosine over the
    embeddings for a seeded query id, then collect."""

    name = "vector_search"
    rate = 0.6
    n_vectors = 2000  # above the 500-row brute tier: the Arrow scorer runs
    warm_queries = 3

    def request_count(self, seconds: int) -> int:
        return max(6, math.ceil(seconds * self.rate))

    def build(self, ctx: Ctx, d: str) -> None:
        self.dir = d
        self.mat = fixtures.write_embeddings(d, ctx.seed, self.n_vectors)

    def prepare(self, ctx: Ctx) -> list[float]:
        from local_llm_iceberg_cdw_spark.operators.similarity import dense_shortlist

        return warm_up(lambda j: dense_shortlist(ctx.spark, self.dir, j, 10).collect(),
                       self.warm_queries)

    def close(self) -> None:
        pass

    def run(self, ctx: Ctx, rec: Recorder, n: int) -> None:
        from local_llm_iceberg_cdw_spark.operators.similarity import dense_shortlist

        rng = random.Random(ctx.seed)
        tracer = ctx.tracer
        results = []
        for i in range(n):
            # k cycles so every seed returns the same number of rows
            qid, k = rng.randrange(self.n_vectors), (5, 10, 20)[i % 3]
            traced = ctx.traced(i)
            tracer.enabled, tracer.request = traced, i
            rec.attempted += 1
            try:
                t0 = time.perf_counter()
                with tracer.span("operators.plan") as sp, ctx.jobs.group(sp):
                    df = dense_shortlist(ctx.spark, self.dir, qid, k)
                t1 = time.perf_counter()
                with tracer.span("spark.collect") as sp, ctx.jobs.group(sp):
                    rows = df.select("vec_id", "cosine").collect()
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001
                rec.fail(f"vector q{qid} k{k}: {exc!r}"[:300])
                continue
            rec.request(_ms(t0, t2), traced)
            rec.read_ms.append(_ms(t1, t2))
            rec.rows += len(rows)
            results.append((qid, k, [(r[0], r[1]) for r in rows]))
        tracer.enabled = False
        with rec.paused():
            self.check(rec, results)

    def check(self, rec: Recorder, results) -> None:
        """Ids and cosines against a NumPy exact top-k (cosine rounded to
        6 places, ties by vec_id).  Each returned cosine must be its id's
        exact cosine and match the exact top-k's cosine at the same rank,
        within one rounding step, so ids may differ only inside a tie."""
        tol = 1.5e-6
        m = self.mat.astype(np.float64)
        norms = np.linalg.norm(m, axis=1)
        for qid, k, got in results:
            cos = np.round(m @ m[qid] / (norms * norms[qid]), 6)
            order = sorted((j for j in range(len(m)) if j != qid), key=lambda j: (-cos[j], j))
            want = [cos[j] for j in order[:k]]
            ids = [g for g, _ in got]
            ok = (
                len(got) == k
                and len(set(ids)) == k
                and qid not in ids
                and got == sorted(got, key=lambda r: (-r[1], r[0]))
                and all(abs(c - cos[g]) <= tol for g, c in got)
                and all(abs(c - w) <= tol for (_, c), w in zip(got, want))
            )
            if not ok:
                rec.fail(f"vector q{qid} k{k}: top-k differs from NumPy")

    def layers(self, ctx: Ctx, rec: Recorder) -> dict:
        plans = _spans(ctx, "operators.plan")
        collects = _spans(ctx, "spark.collect")
        return {
            "operators.plan_ms_p50": p50(_dur_ms(plans)),
            "spark.collect_ms_p50": p50(_dur_ms(collects)),
            "spark.jobs_per_request": _per(plans, "jobs") + _per(collects, "jobs"),
            "spark.tasks_per_request": _per(plans, "tasks") + _per(collects, "tasks"),
        }


WORKLOADS = {w.name: w for w in (NlAnalytics, TelcoIngest, StreamPipe, VectorSearch)}
