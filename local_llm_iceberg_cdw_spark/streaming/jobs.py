"""Structured Streaming jobs — the incremental form of the batch event ops.

The reference has no streaming code; its only incremental pattern is
batch-append snapshots (``/root/reference/append_iceberg.py:151-155``,
SURVEY §2.9).  For the north star we provide the real streaming
counterparts, built so that **the streaming and batch forms share the same
column expressions** — the batch queries in ``operators/events.py`` are
the correctness oracle for these jobs (tested with the availableNow
trigger, which drains a source exactly once and stops).

Scale notes: watermarks bound state for late data; the tumbling-window agg
keys state by (window, event_type) — small, bounded; streaming dedup keys
state by event_id within the watermark horizon.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events_from_dir(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over µs-normalized events parquet (one file per
    micro-batch by default; schema must be provided for streams)."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def tumbling_event_counts(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming tumbling 1-day aggregate; same expressions as the batch
    q_tumbling_window_daily, plus a watermark to bound late-data state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window(F.col("ts"), "1 day").getField("start").alias("day_start"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def dedup_events_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Exactly-once event stream: drop duplicate event_ids within the
    watermark horizon (streaming dedup keeps per-key state bounded)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


USER_TOTALS_STATE = T.StructType(
    [T.StructField("n_events", T.LongType()), T.StructField("total_value", T.DoubleType())]
)
USER_TOTALS_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def running_user_totals(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, Σvalue) across micro-batches.

    The canonical shape for operators Spark's built-ins can't express
    (arbitrary per-key state machines): state is a tiny tuple per user,
    partitioned by the group key, snapshotted by the checkpoint — at scale
    state volume ∝ |users|, not |events|.  Emits one updated row per user
    per micro-batch (Update mode).
    """
    import pandas as pd  # local import: executors ship their own

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)  # .get is a property
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, round(total, 2)))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]})

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=USER_TOTALS_OUTPUT,
            stateStructType=USER_TOTALS_STATE,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


USER_TOTALS_EXACT_STATE = T.StructType(
    [T.StructField("n_events", T.LongType()), T.StructField("total_micro", T.LongType())]
)
USER_TOTALS_EXACT_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value_micro", T.LongType()),
    ]
)


def running_user_totals_exact(events: DataFrame, watermark: str = "36500 days") -> DataFrame:
    """Hash-deterministic twin of ``running_user_totals``: per-user state
    accumulates value in exact DECIMAL(18,6) micro-units held as int64,
    so state updates commute — micro-batch slicing and state-merge order
    are unobservable, which is what lets the drained result be adjudicated
    against a batch SQL oracle (``stream_user_totals_drained``).

    The snap to micro-units happens as a JVM COLUMN before the stateful
    operator — ``CAST(value AS DECIMAL(18,6)) * 1e6 → BIGINT`` — which is
    byte-identical to the old per-row ``Decimal(repr(v))`` HALF_UP snap:
    Spark's double→DECIMAL cast goes through ``BigDecimal.valueOf``
    (= ``Double.toString``, the SHORTEST round-trip decimal string) with
    HALF_UP rounding, exactly like DuckDB's cast (probed on
    half-tie-adjacent doubles in tests/test_graph_ops.py::
    test_streaming_state_micro_snapping_…).  The state update is then a
    vectorized int64 ``pdf.sum()`` — no per-row Python in the hot path,
    so the drain's per-batch cost is O(rows) Arrow-kernel work, not
    O(rows) interpreter work (the r15 throughput ceiling removed).
    State stays a 2-tuple of int64 per user: at scale, state volume ∝
    |users|, not |events|."""
    import pandas as pd  # local import: executors ship their own

    def update(key, pdfs, state):
        n, micro = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                micro += int(pdf["value_micro"].sum())
        state.update((n, micro))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value_micro": [micro]}
        )

    prepped = events.withColumn(
        "value_micro",
        (F.col("value").cast("decimal(18,6)") * F.lit(1_000_000)).cast("long"),
    )
    return (
        prepped.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=USER_TOTALS_EXACT_OUTPUT,
            stateStructType=USER_TOTALS_EXACT_STATE,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def click_purchase_pairs_stream(
    events: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """Stream-stream inner join: purchases attributed to same-user clicks in
    the preceding hour (streaming form of q_click_purchase_attribution).

    Both sides are watermarked and the join carries a two-sided time bound
    (purchase ∈ [click, click + 1h]), so Spark can expire buffered rows:
    click-side state lives ≤ watermark + 1h, purchase-side ≤ watermark.
    Without the bound the join state would grow unboundedly — the property
    that makes this viable on an infinite stream.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    )


def session_counts_stream(
    events: DataFrame, gap_minutes: int | None = None, watermark: str = "60 days"
) -> DataFrame:
    """Streaming gap-based sessionization via native session windows
    (streaming form of ``events.q_sessionize``, which is its batch
    oracle): a user's session extends while consecutive events arrive
    within the gap; the window closes after ``gap_minutes`` of silence.

    ``session_window`` keeps one state entry per OPEN (user, session) and
    merges/extends it as events arrive — at scale, state ∝ concurrently
    active sessions, not events seen; the watermark closes and evicts
    sessions whose end has passed.  Same money-exact value aggregation as
    the batch twin (decimal sum, rounded, cast double).

    Boundary semantics (empirically pinned, not assumed): an event
    arriving EXACTLY ``gap`` after its predecessor MERGES into the same
    session — ``session_window`` extends each event's window to
    ``[ts, ts + gap]`` and merges on overlap, which at the boundary is
    inclusive.  That matches the batch twin's lag rule (``gap_us > gap``
    ⇒ break, events.py) on every input including exact-gap adjacencies;
    only a strictly-greater gap starts a new session in either engine.
    ``tests/test_streaming_and_multimodal.py::
    test_session_window_exact_gap_boundary`` pins both sides of the
    boundary against the batch rule."""
    from ..operators.events import SESSION_GAP_MINUTES

    gap = f"{gap_minutes or SESSION_GAP_MINUTES} minutes"
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), gap), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("session_value"),
        )
        .select(
            "user_id", "session_start", "session_end", "n_events", "session_value"
        )
    )


def error_rate_stream(events: DataFrame, watermark: str = "60 days") -> DataFrame:
    """Streaming per-day error-rate monitor (streaming form of
    ``analytics.q_error_rate_windows``): windowed conditional counts plus
    the spike flag on the rounded rate.  Watermark bounds window state;
    the default is fixture-wide so availableNow drains match the batch
    twin exactly (production would use the real lateness bound)."""
    from ..operators.analytics import SPIKE_RATE

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), "1 day").getField("start").alias("day_start"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum((F.col("event_type") == "error").cast("long")).alias("n_errors"),
        )
        .select(
            "day_start",
            "n_events",
            "n_errors",
            F.round(F.col("n_errors") / F.col("n_events"), 6).alias("error_rate"),
        )
        .withColumn("is_spike", F.col("error_rate") > SPIKE_RATE)
    )


def enrich_events_stream(events: DataFrame, customer_dim: DataFrame) -> DataFrame:
    """Stream-static enrichment: every micro-batch of events joins the
    (slowly-changing) customer dimension — the standard streaming
    pattern for attaching dimension attributes at ingest.

    The static side is re-resolved each micro-batch (so a snapshot-table
    dim picks up appends between batches) and broadcast — no state, no
    watermark, no shuffle of the stream side; at 100 TB/day the stream
    stays partition-local while the dim rides the broadcast.  Batch twin
    (same expressions, static source) is the oracle in
    ``tests/test_streaming_and_multimodal.py``."""
    dim = F.broadcast(
        customer_dim.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
            F.col("c_nationkey").alias("nationkey"),
        )
    )
    return events.join(dim, "user_id", "left").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        F.coalesce(F.col("segment"), F.lit("UNKNOWN")).alias("segment"),
        "nationkey",
    )


def _checkpoint_run_id(checkpoint_dir: str) -> str | None:
    """Stable run identity of a streaming checkpoint: Spark writes
    ``<checkpoint>/metadata`` (JSON ``{"id": <uuid>}``) when the query
    first starts, and every restart FROM that checkpoint reuses the id —
    exactly the scope within which batch ids are comparable.  ``None``
    until the query has started (the file appears before the first
    micro-batch reaches any sink)."""
    import json as _json

    path = os.path.join(checkpoint_dir, "metadata")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return _json.load(f).get("id")


def _resolve_run_id(state: dict, checkpoint_dir: str | None) -> str | None:
    """Shared run-id resolution for the checkpoint-scoped sinks.  When a
    checkpoint is configured, the run id MUST resolve before the first
    commit: an unscoped batch-0 commit would not match a later scoped
    replay check, re-opening the at-least-once window the scope exists
    to close.  Spark writes ``<checkpoint>/metadata`` at query start —
    before any foreachBatch invocation — so absence here is a transient
    visibility lag (e.g. eventually-consistent storage): retry briefly,
    then FAIL the batch rather than silently commit unscoped (failing
    before the table write loses nothing; the restart replays the
    batch)."""
    if state["run_id"] is not None:
        return state["run_id"]
    if not checkpoint_dir:
        return None
    import time as _time

    for _ in range(20):  # ~1 s of patience for metadata visibility
        rid = _checkpoint_run_id(checkpoint_dir)
        if rid is not None:
            state["run_id"] = rid
            return rid
        _time.sleep(0.05)
    raise RuntimeError(
        f"checkpoint {checkpoint_dir!r} has no readable metadata file; "
        "refusing to commit an unscoped batch (it would not match a "
        "scoped replay check) — retry the query once the checkpoint "
        "directory is visible"
    )


def _ledgered_sink(table, query_id: str, checkpoint_dir: str | None, commit, create_kwargs=None):
    """The run-scoped batch-id ledger both idempotent sinks share: a
    batch the same run already committed is skipped; any other batch is
    committed by ``commit(batch_df, props)`` with its ledger entry in
    ``props``, or creates the table when it does not exist yet."""
    if not hasattr(table, "batch_committed"):
        raise TypeError(
            "table lacks the batch-id ledger surface (batch_committed/"
            "commit_props) — wrap it or write directly via your own "
            "foreachBatch if at-least-once is acceptable"
        )
    state = {"run_id": None if checkpoint_dir else uuid.uuid4().hex}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        rid = _resolve_run_id(state, checkpoint_dir)
        props = {"streaming_query_id": query_id, "batch_id": batch_id}
        if rid is not None:
            props["streaming_run_id"] = rid
        if table.exists():
            if table.batch_committed(query_id, batch_id, run_id=rid):
                return  # replayed micro-batch: already committed
            commit(batch_df, props)
        else:
            table.create(batch_df, commit_props=props, **(create_kwargs or {}))

    return sink


def make_idempotent_snapshot_sink(
    table,
    query_id: str,
    checkpoint_dir: str | None = None,
    create_kwargs: dict | None = None,
):
    """Build a ``foreachBatch`` sink that commits each micro-batch as ONE
    snapshot AND is idempotent under replay: the
    ``(query_id, run_id, batch_id)`` triple is recorded in the snapshot's
    commit properties, and a batch id already committed BY THE SAME RUN
    is skipped.

    Why this matters: foreachBatch is AT-LEAST-ONCE — the checkpoint
    commits only after the sink returns, so a crash between the table
    commit and the checkpoint commit replays the micro-batch on restart.
    A blind append would double-commit those rows; the batch-id ledger in
    the manifest (Iceberg's idempotent-writer pattern) makes the replay a
    no-op, which is what upgrades the end-to-end guarantee from
    at-least-once delivery to exactly-once TABLE STATE.  The check is
    manifest-only (O(snapshots), no data IO) and the manifest commit is
    atomic (write-temp-then-rename), so a crash mid-append never records
    the batch id without its data.

    THE RUN SCOPE IS LOAD-BEARING: Spark batch ids restart at 0 per
    checkpoint, so two independent runs under the same ``query_id`` into
    the same table would otherwise collide — the second run's batch 0
    would be silently skipped as "already committed" (data loss, worse
    than the duplication the ledger exists to prevent).  With
    ``checkpoint_dir`` given, the run id is the checkpoint's own stable
    query id (``<checkpoint>/metadata``): restarts from that checkpoint
    — the only way Spark ever replays a batch across processes — share
    it, while a fresh checkpoint mints a new one and appends cleanly.
    Without a checkpoint the run id is a per-sink-instance nonce: in-run
    retries (same instance) still no-op, and cross-run replay cannot
    happen anyway because a temp checkpoint dies with its query.
    Commits from pre-scoping manifests (no ``streaming_run_id``) never
    match a scoped check — the ambiguous legacy case degrades to
    at-most-duplicate, never to a skipped batch."""

    # create_kwargs lets the FIRST batch fix table-level layout metadata
    # (e.g. partition_by=["cell"] for a streamed ANN index) — later
    # appends inherit the spec as usual
    return _ledgered_sink(
        table,
        query_id,
        checkpoint_dir,
        lambda df, props: table.append(df, commit_props=props),
        create_kwargs,
    )


def make_idempotent_merge_sink(
    table,
    key_cols: list[str],
    query_id: str,
    checkpoint_dir: str | None = None,
):
    """``foreachBatch`` MERGE-upsert sink — the CDC ingestion loop for
    keyed change feeds (the Debezium → lakehouse pattern; Iceberg/Delta
    document it as foreachBatch + MERGE INTO): each micro-batch upserts
    by ``key_cols`` instead of appending, so the table holds the LATEST
    row per key, not an event log.  Each batch commits merge-on-read:
    one equality-delete file + one data file (O(batch) write — the only
    viable shape on a continuous feed).

    Replay safety is the same run-scoped batch-id ledger as the append
    sink: a MERGE re-applied to its own result is value-idempotent, but
    it would still burn a snapshot and a table rewrite per replay — the
    ledger no-op keeps exactly-once TABLE STATE and exactly-one-commit
    per batch.  The batch itself must be key-unique (the MERGE contract);
    compact a multi-event batch to its latest row per key upstream."""
    return _ledgered_sink(
        table,
        query_id,
        checkpoint_dir,
        lambda df, props: table.merge_mor(df, key_cols, commit_props=props),
    )


def _start_foreach_batch(stream_df: DataFrame, sink, query_name: str, checkpoint_dir: str | None):
    """The availableNow ``foreachBatch`` wiring both ingestion jobs use."""
    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .queryName(query_name)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_merge_to_snapshot_table(
    stream_df: DataFrame,
    table,
    key_cols: list[str],
    query_name: str = "snapshot_merge",
    checkpoint_dir: str | None = None,
):
    """Streaming MERGE-upsert ingestion: the keyed-change-feed twin of
    ``stream_append_to_snapshot_table`` — every micro-batch becomes one
    MERGE commit, so downstream readers always see latest-row-per-key
    state with full time travel across batches."""
    return _start_foreach_batch(
        stream_df,
        make_idempotent_merge_sink(table, key_cols, query_name, checkpoint_dir),
        query_name,
        checkpoint_dir,
    )


def _drain_subscription(checkpoint_dir: str, sink, read_batch, groups, start_at=None) -> list[int]:
    """The two-phase offset log both table subscriptions drain through
    (``stream_table_changes``, ``stream_table_cdc``; see the former for
    the contract): mint ``<checkpoint>/metadata``, read ``offsets``,
    replay a pinned group verbatim, then for each planned group pin its
    ``(start, end]`` extent BEFORE the sink runs and commit
    ``last_snapshot_id = end`` after it returns.

    ``groups(last)`` yields ``(end, emit)`` in lineage order — ``emit``
    False advances the offset past a skipped commit with no batch;
    ``read_batch(start, end)`` builds a batch's DataFrame; ``start_at``
    bounds a FRESH checkpoint's catch-up.  Returns the batch ids (group
    END snapshot ids) processed this drain."""
    import json as _json

    os.makedirs(checkpoint_dir, exist_ok=True)
    meta_path = os.path.join(checkpoint_dir, "metadata")
    if not os.path.exists(meta_path):
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            _json.dump({"id": uuid.uuid4().hex}, f)
        os.replace(tmp, meta_path)
    off_path = os.path.join(checkpoint_dir, "offsets")

    def write_state(state: dict) -> None:
        tmp = off_path + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(state, f)
        os.replace(tmp, off_path)

    processed: list[int] = []

    def run_batch(start: int, end: int) -> None:
        sink(read_batch(start, end), end)
        write_state({"last_snapshot_id": end})
        processed.append(end)

    state = {"last_snapshot_id": 0}
    if os.path.exists(off_path):
        with open(off_path) as f:
            state = _json.load(f)
    elif start_at:
        # bounded catch-up applies to fresh checkpoints only; 0 keeps the
        # unbounded start.  Persist immediately — the lineage start is
        # pinned even if this drain delivers nothing, exactly as Spark
        # persists a source's initialOffset
        state = {"last_snapshot_id": start_at}
        write_state(state)
    last = int(state.get("last_snapshot_id", 0))
    pinned = state.get("pending")
    if pinned is not None:
        # phase-2 recovery: a prior drain planned this group and may have
        # crashed anywhere between the plan write and the offset commit.
        # Honor the pinned extent verbatim — regrouping against today's
        # lineage could fold a late commit into the replay and mint a new
        # batch id, double-committing the original rows past the ledger.
        run_batch(int(pinned["start"]), int(pinned["end"]))
        last = int(pinned["end"])
    for end, emit in groups(last):
        if emit:
            # phase 1: pin the planned (start, end] extent BEFORE the sink
            write_state({"last_snapshot_id": last, "pending": {"start": last, "end": end}})
            run_batch(last, end)
        else:
            write_state({"last_snapshot_id": end})
        last = end
    return processed


def stream_table_changes(
    source_table,
    sink,
    checkpoint_dir: str,
    batch_snapshots: int = 1,
    on_non_append: str = "error",
) -> list[int]:
    """TABLE AS A STREAM SOURCE — Iceberg's incremental streaming read
    (``spark.readStream.format("iceberg")``): an availableNow-style
    drain that consumes the source table's snapshot lineage as
    micro-batches — each batch is ``read_incremental`` over the next
    ``batch_snapshots`` append snapshots, delivered to ``sink(batch_df,
    batch_id)`` with ``batch_id`` = the batch's END snapshot id.  A
    downstream consumer (a derived table, an ANN-index maintainer, an
    MV) subscribes to the TABLE instead of a landing directory, so it
    sees exactly the rows each commit added, in commit order.

    The offset model mirrors Structured Streaming's checkpoint:

    - ``<checkpoint>/metadata`` holds the subscription's stable run id
      (minted on first drain, reused by every later drain) — the SAME
      file the idempotent sinks scope their replay ledger by, so
      ``make_idempotent_snapshot_sink(..., checkpoint_dir=ckpt)``
      composes directly;
    - ``<checkpoint>/offsets`` is TWO-PHASE, the same contract as
      Structured Streaming's offset log (plan the batch, THEN run it):
      before the sink is invoked the planned group's ``(start, end]``
      extent is persisted atomically (write-temp-then-rename) alongside
      the last processed snapshot id; after the sink returns, the entry
      is replaced by ``last_snapshot_id = end``.  A crash between sink
      and offset commit therefore replays EXACTLY the pinned group on
      the next drain — even if new snapshots landed in the meantime, the
      replayed batch spans the same snapshots and carries the same batch
      id, so the sink's run-scoped batch-id ledger no-ops it
      (at-least-once delivery upgraded to exactly-once table state for
      EVERY ``batch_snapshots`` value, not just 1 — regrouping a
      replayed batch with a late append would mint a fresh batch id and
      double-commit the original rows).

    ``on_non_append``: ``"error"`` (default) raises on a
    replace/delete/merge snapshot in the unprocessed range — "rows new
    in the range" is no longer well-defined, same contract as
    ``read_incremental``; ``"skip"`` advances the offset past it
    WITHOUT emitting rows — sound ONLY for content-neutral rewrites
    (compaction); skipping a content-changing commit diverges the
    derived state.  Returns the batch ids processed this drain.

    Scale: the drain's driver work is O(snapshots) manifest reads; each
    batch's data flows through Spark's native parquet scan of exactly
    the commit's new files (zero diffing IO) — never through Python."""
    if on_non_append not in ("error", "skip"):
        raise ValueError(f"on_non_append must be 'error' or 'skip', got {on_non_append!r}")

    def read_batch(start: int, end: int) -> DataFrame:
        if start == 0:
            # nothing consumed yet: the first batch IS the table state at
            # `end` (read_incremental needs an anchor snapshot to diff from)
            return source_table.read(version=end)
        return source_table.read_incremental(start, end)

    def groups(last: int):
        # up to batch_snapshots consecutive inserts per batch; the lineage
        # is planned after any pinned replay
        pending = source_table.plan_changes(last)
        i = 0
        while i < len(pending):
            s = pending[i].snap
            if pending[i].kind != "insert":
                if on_non_append == "error":
                    raise ValueError(
                        f"snapshot {s.snapshot_id} is {s.operation!r}, not append — a "
                        "table stream only spans appends (pass on_non_append='skip' "
                        "for content-neutral rewrites like compaction)"
                    )
                yield s.snapshot_id, False
                i += 1
                continue
            n = 1
            while n < batch_snapshots and i + n < len(pending) and pending[i + n].kind == "insert":
                n += 1
            yield pending[i + n - 1].snap.snapshot_id, True
            i += n

    return _drain_subscription(checkpoint_dir, sink, read_batch, groups)


def stream_table_cdc(
    source_table,
    sink,
    checkpoint_dir: str,
    batch_snapshots: int = 1,
    starting_version: int | str | None = None,
) -> list[int]:
    """TABLE AS A CDC STREAM — the changelog twin of
    ``stream_table_changes`` (Iceberg's changelog incremental scan /
    Delta CDF's ``readChangeFeed``): each micro-batch delivers
    ``read_changes`` over the next ``batch_snapshots`` commits, rows
    tagged ``_change_type`` (insert|delete) and ``_commit_version``.
    EVERY verb class flows, not just appends — a MOR/COW DELETE arrives
    as delete-tagged rows, a MERGE as its insert+delete pair, a
    compaction as exactly nothing — so a downstream MV can maintain
    NON-append-only derived state with no ``on_non_append`` escape
    hatch (the append loop's knob exists precisely because "rows new in
    the range" is undefined across rewrites; the changelog defines it).

    A fresh checkpoint's first batch is the INITIAL SNAPSHOT: the table
    state at the ROOT commit tagged insert (``_commit_version`` = root
    id), unioned with the changelog from root to the batch end — the
    accumulated stream replays the table's full logical history
    per commit.

    ``starting_version`` bounds that catch-up (Delta CDF's
    ``startingVersion`` / the facade's ``startingSnapshotId``, VERDICT
    r18 #3): a FRESH checkpoint skips the initial-snapshot batch and
    begins the changelog strictly AFTER version N (exclusive, the same
    ``(start, end]`` convention as the offsets), ``'latest'`` starts at
    main's current head — new commits only.  EXISTING checkpoints are
    unaffected (the option is only consulted when the offset log is
    empty), so adding it to a live pipeline never rewinds or skips.

    Offsets share the append loop's two-phase contract: the planned
    ``(start, end]`` extent is pinned BEFORE the sink runs, so a crash
    between sink and offset commit replays EXACTLY the pinned group
    under the same batch id and the run-scoped sink ledger no-ops it.
    Returns the batch ids (group END snapshot ids) processed this drain.

    Scale: appends flow through ``read_changes``' zero-diff fast path
    (the dominant commit type costs the same as the append loop — the
    commit's new files only); rewrite commits pay one ``exceptAll``
    diff of the two adjacent table states — the price of exact
    row-level semantics, same as Iceberg's changelog procedure."""
    lineage = [c.snap.snapshot_id for c in source_table.plan_changes(0)]
    root = lineage[0] if lineage else 0

    if starting_version is None:
        start_at = None
    elif str(starting_version).lower() == "latest":
        start_at = lineage[-1] if lineage else 0
    else:
        try:
            start_at = int(starting_version)
        except (TypeError, ValueError):
            raise ValueError(
                "starting_version must be an integer or 'latest', "
                f"got {starting_version!r}"
            ) from None

    def read_batch(start: int, end: int) -> DataFrame:
        if start != 0:
            return source_table.read_changes(start, end)
        base = (
            source_table.read(version=root)
            .withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_version", F.lit(root).cast("long"))
        )
        if end == root:
            return base
        return base.unionByName(source_table.read_changes(root, end), allowMissingColumns=True)

    def groups(last: int):
        # every commit flows: fixed runs of batch_snapshots commits (ids
        # grow along the chain; read_changes rejects an expired ``last``)
        pending = [sid for sid in lineage if sid > last]
        for i in range(0, len(pending), batch_snapshots):
            yield pending[i : i + batch_snapshots][-1], True

    return _drain_subscription(checkpoint_dir, sink, read_batch, groups, start_at)


def stream_append_to_snapshot_table(
    stream_df: DataFrame,
    table,
    query_name: str = "snapshot_ingest",
    checkpoint_dir: str | None = None,
):
    """Streaming CDC ingestion into the snapshot table format: every
    micro-batch commits exactly ONE snapshot via ``foreachBatch`` —
    the streaming form of the reference's batch-append pattern
    (``/root/reference/append_iceberg.py:151-155``), which is what makes
    time travel / incremental reads (S2/S7++) work on a live feed.

    At scale this is the standard lakehouse ingestion loop.  Exactly-once
    TABLE STATE needs two pieces, and this job wires both: the stream
    checkpoint (pass a real ``checkpoint_dir`` in production; tests use
    availableNow drains where Spark manages a temp checkpoint) prevents
    RE-READING input, and the idempotent sink
    (``make_idempotent_snapshot_sink``) prevents RE-COMMITTING a replayed
    micro-batch — foreachBatch alone is only at-least-once on
    failure/replay.  Each snapshot's manifest makes the batch immediately
    visible to incremental readers.  ``table`` is any object with the
    shared format surface (``SnapshotParquetTable`` or ``IcebergTable``):
    ``exists``/``create``/``append``/``batch_committed``.

    The sink's replay ledger is scoped to ``checkpoint_dir``'s stable
    query id when one is given (see ``make_idempotent_snapshot_sink``) —
    two independent runs under the same ``query_name`` never collide on
    restarted batch ids."""
    return _start_foreach_batch(
        stream_df,
        make_idempotent_snapshot_sink(table, query_name, checkpoint_dir),
        query_name,
        checkpoint_dir,
    )


DOCUMENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_documents_from_dir(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over documents parquet (one file per
    micro-batch by default; schema must be provided for streams)."""
    return (
        spark.readStream.schema(DOCUMENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def quality_gate_stream(docs: DataFrame, bloom_bits=None, bloom_m: int | None = None) -> DataFrame:
    """Streaming corpus-intake gate — documents arriving continuously are
    scored per micro-batch with the SAME column expressions as the batch
    ops (the module's oracle-by-construction rule):

    - ``operators.text.gopher_signals`` evaluates the Gopher rule set
      (stateless narrow projection → trivially streamable);
    - when a Bloom bitset over the benchmark/eval gram hashes is given
      (offline model state, the ``bloom_decontamination`` build), each
      doc is probed for benchmark contamination in the same Arrow stage
      (``maybe_contaminated``: Bloom has no false negatives, so FALSE is
      a proof of cleanliness; TRUE routes the doc to the exact verify
      path downstream).

    State: none — both signals are per-row, so the stream needs no
    watermark and no state store; at scale this is the shape you want
    for intake gating (the exact contamination verify happens on the
    tiny flagged subset, batch-side)."""
    from ..operators.corpus import DECONTAM_NGRAM_N, _bloom_probe_udf, _gram_array
    from ..operators.text import gopher_signals

    if bloom_bits is None:
        return gopher_signals(docs).withColumn("maybe_contaminated", F.lit(False))
    probe = _bloom_probe_udf(docs.sparkSession, bloom_bits, bloom_m)
    gh_arr = F.transform(
        _gram_array(F.col("text"), DECONTAM_NGRAM_N), lambda g: F.xxhash64(g)
    )
    # ONE projection for both signals (carry threads the Bloom flag
    # through the Gopher select) — no stateful self-join on a stream
    flagged = docs.withColumn("maybe_contaminated", probe(gh_arr))
    return gopher_signals(flagged, carry=("maybe_contaminated",))


def run_to_memory_sink(stream_df: DataFrame, query_name: str, output_mode: str = "append"):
    """Drain the stream with availableNow into an in-memory table —
    deterministic for tests; returns the StreamingQuery (await it)."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
