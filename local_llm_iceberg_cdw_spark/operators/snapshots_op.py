"""Snapshot/time-travel as a judged query (S2/S3/S6 in the driver gate).

Builds a snapshot-versioned table from the `orders` fixture in two
batches (pre-1998 orders, then the rest — mirroring the reference's
two-batch load that makes time travel demonstrable,
``/root/reference/README.md:94-108``), then reads it back at snapshot 1,
snapshot 2, and via wall-clock time travel.  The oracle recomputes the
expected per-snapshot counts and totals directly from `orders`, so the
whole append→manifest→time-travel machinery is hash-verified by the
driver, not just unit-tested.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..formats.snapshot_parquet import SnapshotParquetTable
from . import QuerySpec
from .relational import _money_sum  # exact (order-independent) money aggregation

SPLIT_DATE = "1998-01-01"
T1_MS, T2_MS = 1_000, 2_000


def build_versioned_orders(
    spark: SparkSession, sf_dir: str, path: str
) -> SnapshotParquetTable:
    """The WRITE half: create the two-batch snapshot table at ``path``
    (batch 1 = pre-1998 orders at commit time T1, batch 2 = the rest at
    T2).  Split out from the judged query so bench can time build and
    read separately — a combined number overstated the read path ~4×."""
    orders = load_table(spark, sf_dir, "orders")
    early = orders.filter(F.col("o_orderdate") < F.lit(SPLIT_DATE))
    late = orders.filter(F.col("o_orderdate") >= F.lit(SPLIT_DATE))
    table = SnapshotParquetTable(spark, path)
    table.create(early)
    snaps = table._load()
    snaps[0].timestamp_ms = T1_MS  # deterministic commit times
    table._commit(snaps)
    table.append(late, timestamp_ms=T2_MS)
    return table


def time_travel_states(table: SnapshotParquetTable) -> DataFrame:
    """The READ half: version-1 / version-2 / as-of / current scans,
    aggregated to one row each (lazy; caller materializes)."""

    def state(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("read_mode"),
            F.count("*").alias("n_orders"),
            _money_sum(F.col("o_totalprice")).alias("total_price"),
        )

    return (
        state(table.read(version=1), "version_1")
        .unionByName(state(table.read(version=2), "version_2"))
        .unionByName(state(table.read(as_of_timestamp_ms=T1_MS + 500), "asof_between"))
        .unionByName(state(table.read(), "current"))
    )


def q_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    workdir = tempfile.mkdtemp(prefix="snap_tt_")
    try:
        table = build_versioned_orders(spark, sf_dir, f"{workdir}/orders_versioned")
        result = time_travel_states(table)
        # materialize before the temp table dir disappears
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def q_time_travel_via_sql_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TIME-TRAVEL DIALECT under driver adjudication end to end
    (VERDICT r13 #5) — the reference's prompt contract mandates Impala's
    ``FOR SYSTEM_TIME AS OF`` for historical questions
    (``/root/reference/app-gradio.py:138``; demo ``README.md:100-108``
    counts rows before/after a second load).  Here the model-shaped SQL
    — markdown fence, ``SQLQuery:`` label, a junk second statement, and
    the Impala clause — goes through the FULL guard pipeline
    (`plans.sql.execute_sql`): fence/label strip, first-statement
    truncation, dialect rewrite to ``TIMESTAMP AS OF``, then
    `bind_time_travel` resolves the clause against the snapshot-format
    scratch table (historical read as a deterministic temp view — the
    bridge that runs Iceberg's time-travel contract without the jar).

    The one statement reads BOTH eras — the AS-OF clause must serve the
    v1 state while the bare table name serves the current state — so a
    rewrite that binds the wrong snapshot, drops the clause, or leaks
    the junk statement each changes the hash.  Commit timestamps are
    manifest-pinned (T1=1 s, T2=2 s epoch), and the AS-OF literal lands
    between them; naive literals are UTC by session contract.

    Scale: binding is metadata-only (manifest walk + temp view); the
    executed plan is the same two parquet aggregates any engine would
    run — the guards are string-level, Catalyst sees plain SQL."""
    from ..plans.sql import execute_sql

    workdir = tempfile.mkdtemp(prefix="snap_tt_sql_")
    try:
        table = build_versioned_orders(spark, sf_dir, f"{workdir}/orders_versioned")
        table.read().createOrReplaceTempView("orders_versioned")
        raw = """SQLQuery: ```sql
SELECT 'historical' AS read_mode,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
FROM `orders_versioned` FOR SYSTEM_TIME AS OF '1970-01-01 00:00:01.500'
UNION ALL
SELECT 'current',
       count(*),
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
FROM orders_versioned
ORDER BY read_mode;
DROP TABLE orders_versioned
```"""
        result = execute_sql(
            spark, raw, snapshot_tables={"orders_versioned": table}
        )
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_TT_SQL_ENTRY_ORACLE = f"""
SELECT 'historical' AS read_mode, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
FROM orders WHERE o_orderdate < TIMESTAMP '{SPLIT_DATE}'
UNION ALL
SELECT 'current', CAST(count(*) AS BIGINT),
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
FROM orders
ORDER BY read_mode
"""


SPLIT_DATE_2 = "1998-06-01"


def build_incremental_orders(
    spark: SparkSession, sf_dir: str, path: str
) -> SnapshotParquetTable:
    """The WRITE half of the incremental-read op: the three-append
    versioned table (pre-1998 / H1-1998 / rest).  Split out so bench can
    time build and read separately — the combined judged query's number
    was ~80% write cost (round-5 verdict item 3, the same conflation
    snapshot_time_travel had before its split)."""
    orders = load_table(spark, sf_dir, "orders")
    b1 = orders.filter(F.col("o_orderdate") < F.lit(SPLIT_DATE))
    b2 = orders.filter(
        (F.col("o_orderdate") >= F.lit(SPLIT_DATE))
        & (F.col("o_orderdate") < F.lit(SPLIT_DATE_2))
    )
    b3 = orders.filter(F.col("o_orderdate") >= F.lit(SPLIT_DATE_2))
    table = SnapshotParquetTable(spark, path)
    table.create(b1)
    table.append(b2)
    table.append(b3)
    return table


def incremental_deltas(table: SnapshotParquetTable) -> DataFrame:
    """The READ half: each snapshot-range delta aggregated to one row
    (lazy; caller materializes)."""

    def delta(frm: int, to: int) -> DataFrame:
        return table.read_incremental(frm, to).agg(
            F.lit(f"v{frm}_to_v{to}").alias("increment"),
            F.count("*").alias("n_orders"),
            _money_sum(F.col("o_totalprice")).alias("total_price"),
        )

    return delta(1, 2).unionByName(delta(2, 3)).unionByName(delta(1, 3))


def q_snapshot_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental append scans (Iceberg start/end-snapshot-id reads):
    build the versioned table in three appends, then read each delta.
    The oracle recomputes every delta straight from `orders`, so the
    manifest diffing is hash-verified end to end."""
    workdir = tempfile.mkdtemp(prefix="snap_inc_")
    try:
        table = build_incremental_orders(spark, sf_dir, f"{workdir}/orders_versioned")
        result = incremental_deltas(table)
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def q_snapshot_branch_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style tags & branches, hash-verified end to end: build
    orders as main v1 (pre-1998), TAG it 'initial', BRANCH 'experiment'
    off v1, advance main with H1-1998, advance the branch with the rest —
    then read all three named states.  Main never sees the branch's
    commit and the tag stays frozen while main moves; the oracle
    recomputes each state straight from `orders` date filters.

    The WAP (write-audit-publish) pattern at 100 TB: load into a branch,
    validate there, fast-forward main only when the audit passes — the
    table's consumers never observe a half-loaded state."""
    workdir = tempfile.mkdtemp(prefix="snap_branch_")
    try:
        orders = load_table(spark, sf_dir, "orders")
        b1 = orders.filter(F.col("o_orderdate") < F.lit(SPLIT_DATE))
        b2 = orders.filter(
            (F.col("o_orderdate") >= F.lit(SPLIT_DATE))
            & (F.col("o_orderdate") < F.lit(SPLIT_DATE_2))
        )
        b3 = orders.filter(F.col("o_orderdate") >= F.lit(SPLIT_DATE_2))
        table = SnapshotParquetTable(spark, f"{workdir}/orders_versioned")
        table.create(b1)
        table.create_tag("initial")
        table.create_branch("experiment")
        table.append(b2)                          # main: b1 + b2
        table.append(b3, branch="experiment")     # branch: b1 + b3

        def state(df: DataFrame, label: str) -> DataFrame:
            return df.agg(
                F.lit(label).alias("ref_name"),
                F.count("*").alias("n_orders"),
                _money_sum(F.col("o_totalprice")).alias("total_price"),
            )

        result = (
            state(table.read(ref="initial"), "tag_initial")
            .unionByName(state(table.read(), "main"))
            .unionByName(state(table.read(ref="experiment"), "branch_experiment"))
        )
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def q_incremental_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance over the CDC primitive: a per-priority
    rollup (n_orders, total_price) is materialized from snapshot v1, then
    UPDATED by folding in each append's delta — never re-scanning the
    table — and the final state must equal the full recompute (the
    oracle aggregates `orders` directly, so the delta-merge algebra is
    hash-verified).

    This is the 100 TB reason incremental reads exist: maintaining a
    rollup costs ∝ delta rows per refresh, not table size.  The merge
    is exact because partials stay UNROUNDED (count-sum pairs, money as
    DECIMAL(18,6)) until the final projection — rounding per refresh
    would drift the maintained view off the recompute.  State is k rows
    (one per priority), collected per refresh like any MV commit."""

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("_total"),
        )

    workdir = tempfile.mkdtemp(prefix="snap_mv_")
    try:
        table = build_incremental_orders(spark, sf_dir, f"{workdir}/orders_versioned")
        state = partial(table.read(version=1))
        for frm in (1, 2):
            delta = partial(table.read_incremental(frm, frm + 1))
            state = (
                state.unionByName(delta)
                .groupBy("o_orderpriority")
                .agg(
                    F.sum("n_orders").alias("n_orders"),
                    F.sum("_total").alias("_total"),
                )
            )
            # materialize the refreshed view (tiny: one row per priority)
            # — a real MV commits here; also keeps lineage flat
            state = spark.createDataFrame(state.collect(), state.schema)
        result = state.select(
            "o_orderpriority",
            F.col("n_orders").cast("long").alias("n_orders"),
            F.round(F.col("_total"), 2).cast("double").alias("total_price"),
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def q_partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive/Iceberg-style partitioned layout, judged end to end: documents
    are written PARTITIONED BY (source) into a snapshot table, then a
    single-partition read aggregates one source's docs.  The scan must
    touch only that partition's directory — partition pruning is asserted
    on the physical plan IN-QUERY (a `_pruned_ok` column), so the driver
    hash-check covers the layout behavior, not just the numbers.

    At 100 TB this is the difference between a full-table read and a
    per-source read: the partition column never appears in the data
    files, only in directory names, and filters on it prune before any
    footer is opened."""
    workdir = tempfile.mkdtemp(prefix="part_prune_")
    try:
        docs = load_table(spark, sf_dir, "documents")
        table = SnapshotParquetTable(spark, f"{workdir}/docs_by_source")
        table.create(docs, partition_by=["source"])
        scan = table.read().filter(F.col("source") == "src1")
        plan = scan._jdf.queryExecution().executedPlan().toString()
        pruned_ok = ("PartitionFilters: [isnotnull(source" in plan) and (
            "src1" in plan
        )
        result = scan.agg(
            F.lit("src1").alias("source"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.lit(pruned_ok).alias("_pruned_ok"),
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


CDC_CUT1 = "1997-01-01"
CDC_CUT2 = "1999-01-01"
CDC_DELETE_ABOVE = 400000.0


def q_snapshot_changelog_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CHANGELOG across every verb class — the Iceberg
    changelog-view / Delta CDF analog, judged end to end: a table
    accrues create + append + MOR equality-DELETE + append, and
    ``read_changes(v1, v4)`` must reconstruct each commit's logical row
    changes — the appends via the zero-diff fast path (new files only),
    the delete via the generic multiset diff — tagged with
    ``_change_type``/``_commit_version``.  The hashed result aggregates
    the changelog per (commit, change type); the oracle recomputes each
    commit's delta from the raw table with the same static cuts, so a
    changelog that misses the delete, double-counts a file, or leaks a
    post-delete append as deleted flips the hash.

    Note the sequence-number subtlety the oracle pins: the final append
    lands AFTER the delete, so its rows above the delete threshold are
    inserts and never deletions — exactly Iceberg's rule.

    At 100 TB the fast path serves the dominant commit type (appends)
    with no diffing I/O; rewrite commits fall back to the exceptAll
    diff, which emits compactions as nothing (physical, not logical,
    changes)."""
    workdir = tempfile.mkdtemp(prefix="snap_cdc_")
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderdate", "o_totalprice"
        )
        table = SnapshotParquetTable(spark, f"{workdir}/orders_cdc")
        table.create(orders.filter(F.col("o_orderdate") < CDC_CUT1))
        table.append(
            orders.filter(
                (F.col("o_orderdate") >= CDC_CUT1) & (F.col("o_orderdate") < CDC_CUT2)
            )
        )
        table.delete_where_mor(
            f"o_totalprice > {CDC_DELETE_ABOVE}", key_cols=["o_orderkey"]
        )
        table.append(orders.filter(F.col("o_orderdate") >= CDC_CUT2))
        changes = table.read_changes(1, 4)
        result = (
            changes.groupBy("_commit_version", "_change_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                _money_sum(F.col("o_totalprice")).alias("sum_total"),
            )
            .orderBy("_commit_version", "_change_type")
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_CDC_SQL = f"""
WITH deltas AS (
  SELECT 2 AS _commit_version, 'insert' AS _change_type, o_totalprice
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '{CDC_CUT1}' AND o_orderdate < TIMESTAMP '{CDC_CUT2}'
  UNION ALL
  SELECT 3, 'delete', o_totalprice
  FROM orders
  WHERE o_orderdate < TIMESTAMP '{CDC_CUT2}' AND o_totalprice > {CDC_DELETE_ABOVE}
  UNION ALL
  SELECT 4, 'insert', o_totalprice
  FROM orders WHERE o_orderdate >= TIMESTAMP '{CDC_CUT2}'
)
SELECT CAST(_commit_version AS BIGINT) AS _commit_version, _change_type,
       count(*) AS n_rows,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_total
FROM deltas
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_stream_table_cdc_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TABLE AS A CDC STREAM, judged end to end (r18):
    ``stream_table_cdc`` (streaming/jobs.py) is the changelog twin of
    the append subscription — each micro-batch is ``read_changes`` over
    the next commit(s), rows tagged ``_change_type``/``_commit_version``,
    so EVERY verb class flows (a MOR delete arrives as delete-tagged
    rows; the append loop's ``on_non_append`` escape hatch does not
    exist here because the changelog DEFINES "what changed" across
    rewrites).  Iceberg's changelog incremental scan / Delta CDF's
    ``readChangeFeed``, as a drainable subscription.

    The journey, all judged in-hash:

      1. source = create (< {CDC_CUT1}); a fresh-checkpoint drain
         delivers the INITIAL SNAPSHOT (state at the root, tagged
         insert, ``_commit_version`` = 1) into a derived changelog
         table via the run-scoped idempotent sink;
      2. live commits land: append ∈ [CUT1, CUT2), MOR equality-DELETE
         (> {CDC_DELETE_ABOVE}), append ≥ CUT2; one re-drain consumes
         them as THREE per-commit batches (``_batch_per_commit``) —
         inserts via the zero-diff fast path, the delete via the
         multiset diff;
      3. an idle re-drain delivers nothing (``_idle_noop``);
      4. ``_matches_one_shot``: the accumulated derived changelog
         equals initial-state-tagged ∪ ``read_changes(1, 4)`` as a
         multiset — micro-batching loses/duplicates nothing vs the
         batch CDC read (``snapshot_changelog_read``'s surface);
      5. ``_bounded_catchup`` (r19): a FRESH checkpoint with
         ``starting_version='latest'`` (Delta CDF's ``startingVersion``
         / the facade's ``startingSnapshotId``) delivers ZERO batches —
         no initial snapshot, no backlog replay — then exactly the one
         commit that lands after it, with exactly its rows.

    The hashed payload aggregates the derived changelog per (commit,
    change type) — the oracle recomputes every commit's delta from raw
    ``orders`` with the same static cuts, INCLUDING the initial
    snapshot (commit 1) and Iceberg's sequence-number rule (the final
    append's rows are never retro-deleted).

    Scale: per-commit cost is the append loop's for appends (new files
    only, no diffing IO) and one ``exceptAll`` of adjacent states for
    rewrite commits — the same price Iceberg's changelog procedure
    pays; the derived table is a sink like any other (idempotent under
    replay via the two-phase pinned offsets)."""
    import uuid as _uuid

    from ..streaming.jobs import make_idempotent_snapshot_sink, stream_table_cdc

    workdir = tempfile.mkdtemp(prefix="stream_cdc_")
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderdate", "o_totalprice"
        )
        table = SnapshotParquetTable(spark, f"{workdir}/orders_cdc_src")
        table.create(orders.filter(F.col("o_orderdate") < CDC_CUT1))

        derived = SnapshotParquetTable(spark, f"{workdir}/changelog")
        ckpt = f"{workdir}/ckpt"
        sink = make_idempotent_snapshot_sink(
            derived, f"cdc_{_uuid.uuid4().hex[:8]}", checkpoint_dir=ckpt
        )
        first = stream_table_cdc(table, sink, ckpt)  # initial snapshot

        table.append(
            orders.filter(
                (F.col("o_orderdate") >= CDC_CUT1) & (F.col("o_orderdate") < CDC_CUT2)
            )
        )
        table.delete_where_mor(
            f"o_totalprice > {CDC_DELETE_ABOVE}", key_cols=["o_orderkey"]
        )
        table.append(orders.filter(F.col("o_orderdate") >= CDC_CUT2))
        live = stream_table_cdc(table, sink, ckpt)
        batch_per_commit = first == [1] and live == [2, 3, 4]
        idle_noop = stream_table_cdc(table, sink, ckpt) == []

        acc = derived.read().localCheckpoint(eager=True)
        one_shot = (
            table.read(version=1)
            .withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_version", F.lit(1).cast("long"))
            .unionByName(table.read_changes(1, 4), allowMissingColumns=True)
            .select(*acc.columns)
        )
        matches_one_shot = _multiset_equal(acc, one_shot)  # one job (r19 opt)

        # stage 5: bounded catch-up — a fresh subscription over the
        # now-4-commit table, starting at the head, must see nothing
        # until a 5th commit lands, then exactly that commit's rows
        seen: list[tuple[int, int]] = []
        ckpt2 = f"{workdir}/ckpt_bounded"

        def counting_sink(batch_df, version: int) -> None:
            seen.append((version, batch_df.count()))

        empty_first = (
            stream_table_cdc(table, counting_sink, ckpt2, starting_version="latest")
            == []
        )
        tail = orders.filter(F.col("o_orderdate") < CDC_CUT1)
        table.append(tail)
        after = stream_table_cdc(
            table, counting_sink, ckpt2, starting_version="latest"
        )
        bounded_catchup = (
            empty_first and after == [5] and seen == [(5, tail.count())]
        )

        result = (
            acc.groupBy("_commit_version", "_change_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                _money_sum(F.col("o_totalprice")).alias("sum_total"),
            )
            .select(
                "_commit_version",
                "_change_type",
                "n_rows",
                "sum_total",
                F.lit(bool(batch_per_commit)).alias("_batch_per_commit"),
                F.lit(bool(idle_noop)).alias("_idle_noop"),
                F.lit(bool(matches_one_shot)).alias("_matches_one_shot"),
                F.lit(bool(bounded_catchup)).alias("_bounded_catchup"),
            )
            .orderBy("_commit_version", "_change_type")
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_STREAM_CDC_SQL = f"""
WITH deltas AS (
  SELECT 1 AS _commit_version, 'insert' AS _change_type, o_totalprice
  FROM orders WHERE o_orderdate < TIMESTAMP '{CDC_CUT1}'
  UNION ALL
  SELECT 2, 'insert', o_totalprice
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '{CDC_CUT1}' AND o_orderdate < TIMESTAMP '{CDC_CUT2}'
  UNION ALL
  SELECT 3, 'delete', o_totalprice
  FROM orders
  WHERE o_orderdate < TIMESTAMP '{CDC_CUT2}' AND o_totalprice > {CDC_DELETE_ABOVE}
  UNION ALL
  SELECT 4, 'insert', o_totalprice
  FROM orders WHERE o_orderdate >= TIMESTAMP '{CDC_CUT2}'
)
SELECT CAST(_commit_version AS BIGINT) AS _commit_version, _change_type,
       count(*) AS n_rows,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_total,
       true AS _batch_per_commit,
       true AS _idle_noop,
       true AS _matches_one_shot,
       true AS _bounded_catchup
FROM deltas
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_stream_table_cdc_facade_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE CDC FACADE TWIN (r19, VERDICT r18 #7): ``readStream.format(
    "snapshot_table").option("changelog", "true")`` — the sessionless-
    PLANNABLE subset of the CDC surface as a real Structured Streaming
    source, composed facade→facade (writeStream into a derived snapshot
    table, zero glue code).  The facade's ``partitions`` tags files from
    the format's one change planner (``SnapshotParquetTable.plan_changes``,
    the same one ``read_changes`` and ``stream_table_cdc`` use), from the
    manifest alone: the root commit and every append deliver their new
    files as
    ``insert`` rows; a full-scope MOR equality-delete commit delivers
    its delete-keys parquet as ``delete_key`` rows — the distinct key
    tuples of rows that MATCHED in the table (the format's
    equality-delete contract), non-key columns NULL.  COW rewrites /
    merges / compaction raise at planning, naming the driver-loop
    ``stream_table_cdc`` as the full surface — at 100 TB the dominant
    stream IS appends + MOR deletes, so the plannable subset is the
    operating envelope.

    The journey mirrors the driver-loop CDC op: create (< {CDC_CUT1}),
    append ∈ [CUT1, CUT2), MOR equality-DELETE (> {CDC_DELETE_ABOVE}),
    append ≥ CUT2; two availableNow pipes drain it all.  Judged
    in-hash: the derived changelog per (commit, change type) over the
    KEY column (delete rows carry keys only), plus
    ``_matches_driver_surface`` — the accumulated facade changelog
    equals initial-state-tagged ∪ ``read_changes(1, 4)`` with delete
    rows PROJECTED to their keys, as a multiset (the facade loses /
    duplicates nothing vs the session-full batch CDC read) — and
    ``_nonplannable_rejected`` (a compacted source makes a fresh
    changelog stream fail loudly at planning, never silently skip).

    Scale: planning is manifest-metadata only (zero data IO); inserts
    stream the commit's new files exactly like the append facade (no
    diffing); a delete batch reads ONE small key file — no exceptAll,
    no session, no driver hop anywhere in the loop."""
    import uuid as _uuid

    from ..streaming.table_source import SnapshotTableDataSource

    spark.dataSource.register(SnapshotTableDataSource)
    workdir = tempfile.mkdtemp(prefix="stream_cdc_facade_")
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderdate", "o_totalprice"
        )
        table = SnapshotParquetTable(spark, f"{workdir}/orders_src")
        table.create(orders.filter(F.col("o_orderdate") < CDC_CUT1))

        tgt_path = f"{workdir}/changelog_tgt"
        qname = f"cdcf_{_uuid.uuid4().hex[:8]}"
        ckpt = f"{workdir}/ckpt"

        def pipe() -> None:
            q = (
                spark.readStream.format("snapshot_table")
                .option("path", table.path)
                .option("changelog", "true")
                .load()
                .writeStream.format("snapshot_table")
                .option("path", tgt_path)
                .option("queryName", qname)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        pipe()  # initial snapshot
        table.append(
            orders.filter(
                (F.col("o_orderdate") >= CDC_CUT1) & (F.col("o_orderdate") < CDC_CUT2)
            )
        )
        table.delete_where_mor(
            f"o_totalprice > {CDC_DELETE_ABOVE}", key_cols=["o_orderkey"]
        )
        table.append(orders.filter(F.col("o_orderdate") >= CDC_CUT2))
        pipe()  # live commits

        derived = SnapshotParquetTable(spark, tgt_path)
        acc = derived.read().localCheckpoint(eager=True)
        cols = ["o_orderkey", "o_orderdate", "o_totalprice"]
        deletes_projected = (
            table.read_changes(1, 4)
            .withColumn(
                "_change_type",
                F.when(F.col("_change_type") == "delete", F.lit("delete_key"))
                .otherwise(F.col("_change_type")),
            )
        )
        expected = (
            table.read(version=1)
            .withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_version", F.lit(1).cast("long"))
            .unionByName(deletes_projected, allowMissingColumns=True)
            .select(
                *[
                    F.when(
                        (F.col("_change_type") == "delete_key")
                        & F.lit(c != "o_orderkey"),
                        F.lit(None),
                    )
                    .otherwise(F.col(c))
                    .alias(c)
                    for c in cols
                ],
                "_change_type",
                "_commit_version",
            )
        )
        acc_cmp = acc.select(*expected.columns)
        matches = _multiset_equal(acc_cmp, expected)  # one job (r19 opt)

        # a non-plannable verb must fail a FRESH changelog stream loudly
        table.compact()
        rejected = False
        try:
            q = (
                spark.readStream.format("snapshot_table")
                .option("path", table.path)
                .option("changelog", "true")
                .load()
                .writeStream.format("snapshot_table")
                .option("path", f"{workdir}/reject_tgt")
                .option("queryName", f"{qname}_r")
                .option("checkpointLocation", f"{workdir}/ckpt_r")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        except Exception as e:  # noqa: BLE001 - Spark wraps the planner error
            rejected = "not plannable" in str(e)

        result = (
            acc.groupBy("_commit_version", "_change_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_orderkey").cast("long").alias("sum_key"),
            )
            .select(
                "_commit_version",
                "_change_type",
                "n_rows",
                "sum_key",
                F.lit(bool(matches)).alias("_matches_driver_surface"),
                F.lit(bool(rejected)).alias("_nonplannable_rejected"),
            )
            .orderBy("_commit_version", "_change_type")
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_STREAM_CDC_FACADE_SQL = f"""
WITH deltas AS (
  SELECT 1 AS _commit_version, 'insert' AS _change_type, o_orderkey
  FROM orders WHERE o_orderdate < TIMESTAMP '{CDC_CUT1}'
  UNION ALL
  SELECT 2, 'insert', o_orderkey
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '{CDC_CUT1}' AND o_orderdate < TIMESTAMP '{CDC_CUT2}'
  UNION ALL
  SELECT 3, 'delete_key', o_orderkey
  FROM orders
  WHERE o_orderdate < TIMESTAMP '{CDC_CUT2}' AND o_totalprice > {CDC_DELETE_ABOVE}
  UNION ALL
  SELECT 4, 'insert', o_orderkey
  FROM orders WHERE o_orderdate >= TIMESTAMP '{CDC_CUT2}'
)
SELECT CAST(_commit_version AS BIGINT) AS _commit_version, _change_type,
       count(*) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
       true AS _matches_driver_surface,
       true AS _nonplannable_rejected
FROM deltas
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_stream_cdc_mv_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MV MAINTENANCE THROUGH THE CDC STREAM (r18): the
    capstone use of ``stream_table_cdc`` — a per-priority aggregate MV
    (n_orders, total) is maintained by folding SIGNED deltas (insert
    +1 / delete −1) from each CDC micro-batch, so a MOR DELETE
    DECREMENTS the view — the maintenance class the append-only
    subscription (``incremental_rollup_maintenance``'s algebra) cannot
    express.  Each refresh persists the MV as ONE ledger-stamped
    ``replace`` commit on a snapshot table, so the view itself has time
    travel and replays no-op.

    The journey, all judged in-hash:

      1. source create (< {CDC_CUT1}); a CDC drain bootstraps the MV
         from the initial-snapshot batch;
      2. live commits (append ∈ [CUT1, CUT2), MOR delete >
         {CDC_DELETE_ABOVE}, append ≥ CUT2); one drain folds three more
         per-commit refreshes — the delete batch shrinks the view;
      3. an idle drain leaves the MV's lineage unchanged
         (``_idle_noop``);
      4. a REPLAYED batch no-ops against the replace ledger — same
         (query, batch) → same state, no double-fold
         (``_replay_noop``);
      5. ``_matches_recompute``: the maintained view equals the full
         recompute over the source's final state — the delta-fold
         algebra is exact because partials stay unrounded
         (count + DECIMAL(18,6) sums) until the final projection.

    Scale: each refresh costs ∝ CDC delta rows (one groupBy of the
    batch) + a replace of the k-row view — never a source re-scan;
    exactly Iceberg's changelog-view → MERGE maintenance loop, with
    the idempotence Iceberg gets from snapshot summary props."""
    import uuid as _uuid

    from ..streaming.jobs import stream_table_cdc

    workdir = tempfile.mkdtemp(prefix="stream_cdc_mv_")
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
        )
        table = SnapshotParquetTable(spark, f"{workdir}/orders_src")
        table.create(orders.filter(F.col("o_orderdate") < CDC_CUT1))

        mv = SnapshotParquetTable(spark, f"{workdir}/mv_priority")
        # create EMPTY up front: every refresh is then a ledger-stamped
        # replace — a create-then-crash before the offset commit could
        # not be told apart from an unapplied batch otherwise
        mv.create(
            spark.createDataFrame(
                [], "o_orderpriority string, n_orders long, _total decimal(18,6)"
            )
        )
        qname = f"cdc_mv_{_uuid.uuid4().hex[:8]}"
        ckpt = f"{workdir}/ckpt"

        def mv_sink(batch_df, batch_id: int) -> None:
            if mv.batch_committed(qname, batch_id):
                return  # replayed epoch: state already reflects this delta
            signed = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
                F.lit(-1)
            )
            delta = batch_df.groupBy("o_orderpriority").agg(
                F.sum(signed).cast("long").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,6)") * signed).alias(
                    "_total"
                ),
            )
            state = (
                mv.read()
                .unionByName(delta)
                .groupBy("o_orderpriority")
                .agg(
                    F.sum("n_orders").cast("long").alias("n_orders"),
                    F.sum("_total").cast("decimal(18,6)").alias("_total"),
                )
                .filter(F.col("n_orders") > 0)
            )
            # materialize the k-row view before replace (the replace
            # would otherwise re-read the MV it is swapping out)
            state_df = spark.createDataFrame(state.collect(), state.schema)
            mv.replace(
                state_df,
                commit_props={"streaming_query_id": qname, "batch_id": batch_id},
            )

        stream_table_cdc(table, mv_sink, ckpt)  # bootstrap from snapshot
        table.append(
            orders.filter(
                (F.col("o_orderdate") >= CDC_CUT1) & (F.col("o_orderdate") < CDC_CUT2)
            )
        )
        table.delete_where_mor(
            f"o_totalprice > {CDC_DELETE_ABOVE}", key_cols=["o_orderkey"]
        )
        table.append(orders.filter(F.col("o_orderdate") >= CDC_CUT2))
        stream_table_cdc(table, mv_sink, ckpt)

        commits = len(mv._load())
        idle_noop = (
            stream_table_cdc(table, mv_sink, ckpt) == [] and len(mv._load()) == commits
        )
        # replay the LAST epoch verbatim: the ledger must no-op it
        mv_sink(table.read_changes(3, 4), 4)
        replay_noop = len(mv._load()) == commits

        maintained = mv.read().localCheckpoint(eager=True)
        recompute = table.read().groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("decimal(18,6)")
            .alias("_total"),
        )
        matches = _multiset_equal(
            maintained.select(*recompute.columns), recompute
        )  # one job (r19 opt)

        result = (
            maintained.select(
                "o_orderpriority",
                "n_orders",
                F.round(F.col("_total"), 2).cast("double").alias("total_price"),
                F.lit(bool(idle_noop)).alias("_idle_noop"),
                F.lit(bool(replay_noop)).alias("_replay_noop"),
                F.lit(bool(matches)).alias("_matches_recompute"),
            )
        ).orderBy("o_orderpriority")
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_STREAM_CDC_MV_SQL = f"""
WITH final_state AS (
  SELECT o_orderpriority, o_totalprice FROM orders
  WHERE o_orderdate < TIMESTAMP '{CDC_CUT2}' AND o_totalprice <= {CDC_DELETE_ABOVE}
  UNION ALL
  SELECT o_orderpriority, o_totalprice FROM orders
  WHERE o_orderdate >= TIMESTAMP '{CDC_CUT2}'
)
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price,
       true AS _idle_noop,
       true AS _replay_noop,
       true AS _matches_recompute
FROM final_state
GROUP BY 1 ORDER BY 1
"""

SCD2_UPDATE_DELTA = -2000.0  # v2 MERGE shifts updated balances by this
SCD2_DELETE_BELOW = 0.0  # v3 MOR delete: current rows with bal < this


def scd2_apply_changes(
    history,
    batch_df: DataFrame,
    version: int,
    *,
    key_col: str,
    attr_cols: list[str],
    query_id: str,
    compact_every: int | None = None,
) -> bool:
    """One SCD2 fold of a ``stream_table_cdc`` micro-batch into a
    ``(key, attrs…, valid_from, valid_to)`` history table — the
    scale-safe refresh VERDICT r18 #1 prescribes: ONE ``merge_mor``
    snapshot keyed on ``(key_col, valid_from)`` whose equality-delete
    file masks the batch's now-closed OPEN rows and whose single new
    data file holds ONLY their closed replacements plus the batch's
    freshly-opened rows.  Write cost O(delta); read cost the OPEN slice
    (broadcast-semi-joined against the batch's delete keys) — never a
    collect or rewrite of the accumulated history.  Ledger-stamped and
    replay-idempotent via ``batch_committed``; returns True when the
    fold committed, False when the batch was already in the ledger.

    A MERGE's delete+insert pair for one key folds into exactly one
    transition: the delete tuple ``(k, old_valid_from)`` masks only the
    key's open row (closed intervals carry earlier ``valid_from``s, the
    replacement row postdates the delete file per the sequence-number
    rule), and the insert opens ``(k, version)`` which masks nothing.

    ``compact_every``: MOR maintenance cadence — every fold adds one
    pending equality-delete file, and the open-slice read pays one
    anti-join per pending file, so the per-fold cost GROWS in versions-
    since-compaction if never materialized (measured: 6.7 s at 10
    pending, 22.8 s at 20 — super-linear; tools/probe_scd2_history.py).
    With ``compact_every=10`` the fold is FLAT ~1 s regardless of
    accumulated history length (same probe: 1.00 s at 10 versions /
    21.8k rows vs 1.03 s at 40 versions / 27.8k rows) — compaction is
    Iceberg's rewrite_data_files cadence, here wired into the fold so
    the knob ships with the operator."""
    if history.batch_committed(query_id, version):
        return False
    batch = batch_df.localCheckpoint(eager=True)
    del_keys = (
        batch.filter(F.col("_change_type") == "delete").select(key_col).distinct()
    )
    ins = batch.filter(F.col("_change_type") == "insert").select(
        key_col,
        *attr_cols,
        F.lit(version).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    open_rows = history.read().filter(F.col("valid_to").isNull())
    to_close = open_rows.join(F.broadcast(del_keys), key_col, "left_semi").withColumn(
        "valid_to", F.lit(version).cast("long")
    )
    # materialize the O(delta) upsert source executor-side ONCE:
    # merge_mor evaluates its source twice (key file + data file) and
    # the closed rows are derived from the pre-commit head
    delta = to_close.unionByName(ins).localCheckpoint(eager=True)
    history.merge_mor(
        delta,
        key_cols=[key_col, "valid_from"],
        commit_props={"streaming_query_id": query_id, "batch_id": version},
    )
    if compact_every and version % compact_every == 0:
        history.compact()
    return True


def q_stream_cdc_scd2_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 DIMENSION MAINTENANCE FROM THE CDC STREAM (r18): the classic
    warehouse pipeline — a slowly-changing-dimension HISTORY table
    (``valid_from``/``valid_to`` in COMMIT VERSIONS, not wall time, so
    the whole journey is deterministic) maintained from
    ``stream_table_cdc`` micro-batches: each batch's deletes CLOSE the
    key's open row (``valid_to = version``), its inserts OPEN a new one
    — a MERGE's delete+insert pair for an updated key becomes exactly
    one SCD2 transition.  Every refresh persists as ONE ledger-stamped
    ``merge_mor`` snapshot keyed on ``(c_custkey, valid_from)``: the
    equality-delete file masks the batch's now-closed OPEN rows, the
    new data file holds only their closed replacements plus the batch's
    freshly-opened rows — write cost O(delta), never a history rewrite
    (VERDICT r18 #1: the previous shape collected and ``replace``d the
    FULL history per refresh, the driver-collect scale-killer).

    The journey: v1 = customers with even keys; v2 = COW MERGE (updates
    every key %4==0 by {SCD2_UPDATE_DELTA:+} AND inserts the odd keys);
    v3 = MOR DELETE of current rows below {SCD2_DELETE_BELOW}.  Judged
    in-hash: the history aggregated per (valid_from, valid_to) interval
    — the oracle derives every interval's membership from the raw
    customer table with the same static rules — plus
    ``_history_matches_time_travel``: for EVERY version v, the rows
    valid at v (``valid_from <= v < valid_to``) equal
    ``table.read(version=v)`` as a multiset — SCD2 reconstruction ≡
    time travel, the strongest invariant the history can satisfy —
    and the idle/replay no-op flags.

    Scale: per refresh the fold semi-joins the OPEN slice (broadcast
    delete keys — the delta side is always the small side) and writes
    ONE data file of |closed ∪ opened| rows + one tiny key file — read
    cost ∝ open-dimension slice + delta, write cost ∝ delta,
    INDEPENDENT of accumulated history length; ``compact()`` is the
    standard MOR maintenance when the pending-delete anti-join
    accretes.  Zero driver-side collects in the maintenance path (the
    one ``collect`` below materializes the judged k-row RESULT before
    the scratch dir is removed)."""
    import uuid as _uuid

    from ..streaming.jobs import stream_table_cdc

    workdir = tempfile.mkdtemp(prefix="stream_cdc_scd2_")
    try:
        cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
        src = SnapshotParquetTable(spark, f"{workdir}/dim_src")
        src.create(cust.filter(F.col("c_custkey") % 2 == 0))

        scd2 = SnapshotParquetTable(spark, f"{workdir}/dim_history")
        scd2.create(
            spark.createDataFrame(
                [], "c_custkey long, c_acctbal double, valid_from long, valid_to long"
            )
        )
        qname = f"scd2_{_uuid.uuid4().hex[:8]}"
        ckpt = f"{workdir}/ckpt"

        def scd2_sink(batch_df, version: int) -> None:
            scd2_apply_changes(
                scd2,
                batch_df,
                version,
                key_col="c_custkey",
                attr_cols=["c_acctbal"],
                query_id=qname,
            )

        stream_table_cdc(src, scd2_sink, ckpt)  # v1 bootstrap
        src.merge(
            cust.filter(F.col("c_custkey") % 4 == 0)
            .withColumn("c_acctbal", F.col("c_acctbal") + SCD2_UPDATE_DELTA)
            .unionByName(cust.filter(F.col("c_custkey") % 2 == 1)),
            key_cols=["c_custkey"],
        )
        src.delete_where_mor(
            f"c_acctbal < {SCD2_DELETE_BELOW}", key_cols=["c_custkey"]
        )
        stream_table_cdc(src, scd2_sink, ckpt)

        commits = len(scd2._load())
        idle_noop = (
            stream_table_cdc(src, scd2_sink, ckpt) == []
            and len(scd2._load()) == commits
        )
        scd2_sink(src.read_changes(2, 3), 3)  # replay the last epoch verbatim
        replay_noop = len(scd2._load()) == commits

        hist = scd2.read().localCheckpoint(eager=True)
        tt_ok = True
        for v in (1, 2, 3):
            at_v = hist.filter(
                (F.col("valid_from") <= v)
                & (F.col("valid_to").isNull() | (F.col("valid_to") > v))
            ).select("c_custkey", "c_acctbal")
            state_v = src.read(version=v).select("c_custkey", "c_acctbal")
            tt_ok = tt_ok and _multiset_equal(at_v, state_v)  # one job (r19 opt)

        result = (
            hist.groupBy("valid_from", "valid_to")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                _money_sum(F.col("c_acctbal")).alias("sum_bal"),
            )
            .select(
                "valid_from",
                "valid_to",
                "n_rows",
                "sum_bal",
                F.lit(bool(tt_ok)).alias("_history_matches_time_travel"),
                F.lit(bool(idle_noop)).alias("_idle_noop"),
                F.lit(bool(replay_noop)).alias("_replay_noop"),
            )
            .orderBy("valid_from", "valid_to")
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_STREAM_CDC_SCD2_SQL = f"""
WITH intervals AS (
  -- v1-opened rows: even keys at their ORIGINAL balance
  SELECT c_custkey, c_acctbal,
         1 AS valid_from,
         CASE WHEN c_custkey % 4 = 0 THEN 2                -- updated at v2
              WHEN c_acctbal < {SCD2_DELETE_BELOW} THEN 3  -- deleted at v3
              ELSE NULL END AS valid_to
  FROM customer WHERE c_custkey % 2 = 0
  UNION ALL
  -- v2-opened rows: updated evens (shifted balance) + inserted odds
  SELECT c_custkey, c_acctbal + {SCD2_UPDATE_DELTA},
         2,
         CASE WHEN c_acctbal + {SCD2_UPDATE_DELTA} < {SCD2_DELETE_BELOW}
              THEN 3 ELSE NULL END
  FROM customer WHERE c_custkey % 4 = 0
  UNION ALL
  SELECT c_custkey, c_acctbal,
         2,
         CASE WHEN c_acctbal < {SCD2_DELETE_BELOW} THEN 3 ELSE NULL END
  FROM customer WHERE c_custkey % 2 = 1
)
SELECT CAST(valid_from AS BIGINT) AS valid_from,
       CAST(valid_to AS BIGINT) AS valid_to,
       count(*) AS n_rows,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_bal,
       true AS _history_matches_time_travel,
       true AS _idle_noop,
       true AS _replay_noop
FROM intervals
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_snapshot_expire_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention verb judged end to end — the last maintenance verb
    without a driver row: a table accrues three appends and a sorted-rewrite
    compaction, then ``expire_snapshots(keep_last=2)`` drops the old
    metadata and physically removes data dirs nothing live references.
    The hashed result carries the current-state aggregate (must be
    UNCHANGED by expiry — retention must never touch visible data) plus
    the retention identities: exact expired-dir count, post-expiry
    history length, time travel to the kept predecessor still working,
    and time travel to an expired snapshot now raising.

    At 100 TB expiry is what bounds metadata and orphaned-file growth
    under continuous ingestion; the compact-then-expire pair is the
    standard storage-reclaim cycle (rewrite_data_files +
    expire_snapshots)."""
    workdir = tempfile.mkdtemp(prefix="snap_expire_")
    try:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars"
        )
        table = SnapshotParquetTable(spark, f"{workdir}/docs_feed")
        thirds = (
            docs.filter(F.col("doc_id") % 3 == 0),
            docs.filter(F.col("doc_id") % 3 == 1),
            docs.filter(F.col("doc_id") % 3 == 2),
        )
        table.create(thirds[0], sort_order=["doc_id"])
        table.append(thirds[1])
        table.append(thirds[2])
        table.compact(target_file_count=2, sort=True)
        # keep only the compaction: every append snapshot still references
        # the original dirs, so retention can reclaim storage only once a
        # rewrite exists that doesn't — the compact-then-expire cycle
        n_removed = table.expire_snapshots(keep_last=1)
        snaps = table._load()
        history_len = len(snaps)
        head_ok = table.read(version=snaps[-1].snapshot_id).count() == docs.count()
        try:
            table.read(version=1)
            expired_gone = False
        except ValueError:
            expired_gone = True
        identities = (
            n_removed == 3  # the three append dirs, now unreferenced
            and history_len == 1
            and head_ok
            and expired_gone
        )
        result = (
            table.read()
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
            .select(
                "source",
                "n_docs",
                "sum_chars",
                F.lit(bool(identities)).alias("_retention_ok"),
            )
            .orderBy("source")
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# drift-monitor fixture constants: price histogram of 10 static 50k bins,
# snapshot cut at the date below, PSI alert threshold 0.1 (the standard
# "moderate shift" rule of thumb)
PSI_CUT = "1999-01-01"
PSI_BIN_WIDTH = 50000.0
PSI_N_BINS = 10
PSI_ALERT = 0.1


def q_snapshot_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring × time travel: orders are ingested
    into a snapshot table in two commits (before/after a date cut); the
    query reads snapshot v1 via TIME TRAVEL and the current state, bins
    ``o_totalprice`` into PSI_N_BINS static buckets, and computes the
    Population Stability Index between the two snapshots — the standard
    ingest-monitoring statistic ("did today's feed shift the
    distribution?"), here driven entirely by the table format's own
    history instead of a side-channel baseline.  Output: one row per
    bin with both shares and the PSI term, plus the exact total and the
    alert flag on every row.

    Determinism (ln-rule ladder): each smoothed share is ONE division of
    exact integers (identical doubles both engines); the log ratio is
    ln of ONE division of exact integer products; per-bin terms quantize
    to DECIMAL(30,12) and sum exactly, so the total and the threshold
    compare are bit-stable.  Laplace +1 smoothing keeps empty bins
    finite.  At 100 TB the per-snapshot bin counts come from one
    map-side-combined aggregate per side — cost ∝ bins, not rows."""
    workdir = tempfile.mkdtemp(prefix="drift_psi_")
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderdate", "o_totalprice"
        )
        table = SnapshotParquetTable(spark, f"{workdir}/orders_feed")
        table.create(orders.filter(F.col("o_orderdate") < PSI_CUT))
        table.append(orders.filter(F.col("o_orderdate") >= PSI_CUT))
        v1 = table._load()[0].snapshot_id

        def binned_counts(df: DataFrame, name: str) -> DataFrame:
            b = F.least(
                F.lit(PSI_N_BINS - 1),
                F.floor(F.col("o_totalprice") / F.lit(PSI_BIN_WIDTH)),
            ).cast("int")
            return df.select(b.alias("bin")).groupBy("bin").agg(
                F.count(F.lit(1)).alias(name)
            )

        before = binned_counts(table.read(version=v1), "n_before")
        after = binned_counts(table.read(), "n_after")
        spine = spark.range(PSI_N_BINS).select(F.col("id").cast("int").alias("bin"))
        counts = (
            spine.join(before, "bin", "left")
            .join(after, "bin", "left")
            .select(
                "bin",
                F.coalesce("n_before", F.lit(0)).cast("long").alias("n_before"),
                F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
            )
        )
        totals = counts.agg(
            F.sum("n_before").alias("t1"), F.sum("n_after").alias("t2")
        )
        k = F.lit(PSI_N_BINS)
        enriched = counts.crossJoin(F.broadcast(totals)).select(
            "bin",
            "n_before",
            "n_after",
            ((F.col("n_before") + 1) / (F.col("t1") + k)).alias("p"),
            ((F.col("n_after") + 1) / (F.col("t2") + k)).alias("q"),
            F.log(
                ((F.col("n_before") + 1) * (F.col("t2") + k)).cast("double")
                / ((F.col("n_after") + 1) * (F.col("t1") + k))
            ).alias("lnr"),
        )
        terms = enriched.select(
            "bin",
            "n_before",
            "n_after",
            F.round("p", 6).alias("share_before"),
            F.round("q", 6).alias("share_after"),
            F.round((F.col("p") - F.col("q")) * F.col("lnr"), 8).alias("psi_term"),
            ((F.col("p") - F.col("q")) * F.col("lnr"))
            .cast("decimal(30,12)")
            .alias("_term_exact"),
        )
        total = terms.agg(
            F.round(F.sum("_term_exact"), 8).cast("double").alias("psi_total")
        )
        result = (
            terms.crossJoin(F.broadcast(total))
            .select(
                "bin",
                "n_before",
                "n_after",
                "share_before",
                "share_after",
                "psi_term",
                "psi_total",
                (F.col("psi_total") > PSI_ALERT).alias("drift_alert"),
            )
            .orderBy("bin")
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_PSI_SQL = f"""
WITH b1 AS (
  SELECT least({PSI_N_BINS - 1}, CAST(floor(o_totalprice / {PSI_BIN_WIDTH}) AS INT)) AS bin,
         count(*) AS n_before
  FROM orders WHERE o_orderdate < TIMESTAMP '{PSI_CUT}' GROUP BY 1
), b2 AS (
  SELECT least({PSI_N_BINS - 1}, CAST(floor(o_totalprice / {PSI_BIN_WIDTH}) AS INT)) AS bin,
         count(*) AS n_after
  FROM orders GROUP BY 1
), spine AS (SELECT CAST(range AS INT) AS bin FROM range({PSI_N_BINS})),
counts AS (
  SELECT spine.bin,
         CAST(coalesce(n_before, 0) AS BIGINT) AS n_before,
         CAST(coalesce(n_after, 0) AS BIGINT) AS n_after
  FROM spine LEFT JOIN b1 ON spine.bin = b1.bin LEFT JOIN b2 ON spine.bin = b2.bin
), tot AS (SELECT sum(n_before) AS t1, sum(n_after) AS t2 FROM counts),
terms AS (
  SELECT bin, n_before, n_after,
         (n_before + 1) / (t1 + {PSI_N_BINS}) AS p,
         (n_after + 1) / (t2 + {PSI_N_BINS}) AS q,
         ln(CAST((n_before + 1) * (t2 + {PSI_N_BINS}) AS DOUBLE)
            / ((n_after + 1) * (t1 + {PSI_N_BINS}))) AS lnr
  FROM counts, tot
), terms2 AS (
  SELECT bin, n_before, n_after,
         round(p, 6) AS share_before,
         round(q, 6) AS share_after,
         round((p - q) * lnr, 8) AS psi_term,
         CAST((p - q) * lnr AS DECIMAL(30,12)) AS term_exact
  FROM terms
), total AS (
  SELECT CAST(round(sum(term_exact), 8) AS DOUBLE) AS psi_total FROM terms2
)
SELECT bin, n_before, n_after, share_before, share_after, psi_term,
       psi_total, psi_total > {PSI_ALERT} AS drift_alert
FROM terms2, total
ORDER BY bin
"""


# static l_shipdate bucket boundaries for the stats-pruning fixture
# (fixture range 1995-01 .. 2001-11 at every SF); full ISO form so the
# manifest's normalized timestamp bounds compare lexicographically
STATS_BUCKETS = ["1997-01-01T00:00:00", "1998-01-01T00:00:00", "2000-01-01T00:00:00"]
STATS_PRED_LO = "1997-03-01T00:00:00"
STATS_PRED_HI = "1997-09-01T00:00:00"


def q_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-statistics data skipping (Iceberg lower_bounds /
    upper_bounds), judged end to end: lineitem is appended into a
    snapshot table as four date-bucketed files (one append per static
    l_shipdate range, so every file's manifest bounds are known by
    construction); a ``read_pruned`` scan with a predicate inside the
    second bucket must plan exactly 1 of the 4 files from the manifest
    alone — no footer or data I/O — and its aggregate must equal the
    oracle's WHERE over the raw table.  The planned file counts ride in
    the result (`_n_files_total`, `_n_files_read`, `_skipped_ok`), so
    the driver's hash adjudicates the skipping itself.

    At 100 TB this is the pruning lever for the UNPARTITIONED dimension:
    time-ordered facts cluster naturally, so per-file bounds turn a date
    predicate into a sliver scan even without a partition spec — and
    unlike partitioning it costs nothing at write time beyond footer
    metadata the files already carry."""
    workdir = tempfile.mkdtemp(prefix="stats_prune_")
    try:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_shipdate", "l_returnflag", "l_quantity"
        )
        table = SnapshotParquetTable(spark, f"{workdir}/lineitem_buckets")
        b1, b2, b3 = STATS_BUCKETS
        buckets = [
            li.filter(F.col("l_shipdate") < b1),
            li.filter((F.col("l_shipdate") >= b1) & (F.col("l_shipdate") < b2)),
            li.filter((F.col("l_shipdate") >= b2) & (F.col("l_shipdate") < b3)),
            li.filter(F.col("l_shipdate") >= b3),
        ]
        table.create(buckets[0].coalesce(1))
        for b in buckets[1:]:
            table.append(b.coalesce(1))
        preds = [("l_shipdate", ">=", STATS_PRED_LO), ("l_shipdate", "<", STATS_PRED_HI)]
        scan, n_read, n_total = table.read_pruned(preds)
        result = (
            scan.groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum(F.col("l_quantity").cast("decimal(18,6)")), 2)
                .cast("double")
                .alias("sum_qty"),
            )
            .select(
                "l_returnflag",
                "n_rows",
                "sum_qty",
                F.lit(n_total).cast("long").alias("_n_files_total"),
                F.lit(n_read).cast("long").alias("_n_files_read"),
                F.lit(n_total == 4 and n_read == 1).alias("_skipped_ok"),
            )
            .orderBy("l_returnflag")
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


N_CORRUPT_LINES = 7


def q_jsonl_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-tolerant JSONL ingestion, hash-verified: the documents
    corpus round-trips through line-delimited JSON (the de-facto LLM
    training-data drop format) with N_CORRUPT_LINES garbage lines
    injected; the PERMISSIVE read with an explicit schema +
    columnNameOfCorruptRecord must land every good row intact and
    quarantine exactly the garbage.  Oracle: per-source stats straight
    from `documents` plus the constant corrupt count.

    Scale notes in `sources/jsonl.py`: explicit schema (no inference
    scan), line-splittable files, quarantine column instead of job
    failure — a 100 TB drop with a few bad lines must not abort."""
    from ..sources import read_jsonl, write_jsonl

    docs = load_table(spark, sf_dir, "documents")
    workdir = tempfile.mkdtemp(prefix="jsonl_audit_")
    try:
        path = f"{workdir}/docs_jsonl"
        write_jsonl(docs, path)
        with open(f"{path}/part-corrupt.json", "w") as fh:
            for i in range(N_CORRUPT_LINES):
                fh.write(f'{{"doc_id": "not-a-number", "text": [broken {i}\n')
        back = read_jsonl(spark, path, docs.schema, corrupt_column="_bad")
        result = (
            back.withColumn(
                "bucket",
                F.when(F.col("_bad").isNotNull(), F.lit("_corrupt")).otherwise(
                    F.col("source")
                ),
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias("sum_chars"),
            )
        )
        rows = result.collect()  # materialize before the tmp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)




def q_incremental_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-driven incremental curation: documents land in the snapshot
    table in three deterministic batches (``doc_id % 3``), and each
    APPEND DELTA — never the whole table — is re-gated with the Gopher
    rule set (``text.gopher_signals``, the exact expressions the batch
    op and the streaming intake gate share).  Output: one audit row per
    increment with pass/fail counts.

    This is the batch-CDC third of the intake-gating triptych
    (batch: `gopher_quality_rules`; streaming: `quality_gate_stream`;
    CDC: this) — at 100 TB a curation pipeline re-gates only what the
    snapshot diff says is new, so gate cost tracks ingest rate, not
    table size.  The oracle recomputes each delta straight from
    `documents` with the same modulo batching and rule expressions, so
    manifest diffing AND the gate are hash-verified together."""
    from .text import gopher_signals

    workdir = tempfile.mkdtemp(prefix="snap_gate_")
    try:
        docs = load_table(spark, sf_dir, "documents")
        table = SnapshotParquetTable(spark, f"{workdir}/documents_versioned")
        table.create(docs.filter(F.col("doc_id") % 3 == 0))
        table.append(docs.filter(F.col("doc_id") % 3 == 1))
        table.append(docs.filter(F.col("doc_id") % 3 == 2))

        def gate(frm: int, to: int) -> DataFrame:
            delta = table.read_incremental(frm, to).select("doc_id", "text")
            return gopher_signals(delta).agg(
                F.lit(f"v{frm}_to_v{to}").alias("increment"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(F.col("passes_gopher").cast("long")).alias("n_pass"),
                F.sum((~F.col("passes_gopher")).cast("long")).alias("n_fail"),
            )

        result = gate(1, 2).unionByName(gate(2, 3))
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _gate_sql() -> str:
    from .text import (
        GOPHER_MAX_MEAN_LEN,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_FRAC,
        GOPHER_MIN_MEAN_LEN,
        GOPHER_MIN_STOPWORDS,
        GOPHER_MIN_WORDS,
        STOPWORDS,
    )

    stoplist = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"
    return rf"""
WITH t AS (
  SELECT doc_id, text, doc_id % 3 AS batch,
         regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
  WHERE doc_id % 3 IN (1, 2)
), s AS (
  SELECT batch,
         (len(toks) BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
         AND (round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                    / len(toks), 4)
              BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN})
         AND round(CAST(length(text) - length(replace(text, '#', ''))
                        + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
                   / len(toks), 4) <= {GOPHER_MAX_SYMBOL_RATIO}
         AND round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                        AS DOUBLE) / len(toks), 4) >= {GOPHER_MIN_ALPHA_FRAC}
         AND len(list_filter(list_distinct(toks),
                             x -> list_contains({stoplist}, x)))
               >= {GOPHER_MIN_STOPWORDS} AS ok
  FROM t
)
SELECT CASE batch WHEN 1 THEN 'v1_to_v2' ELSE 'v2_to_v3' END AS increment,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE ok) AS BIGINT) AS n_pass,
       CAST(count(*) FILTER (WHERE NOT ok) AS BIGINT) AS n_fail
FROM s GROUP BY batch ORDER BY increment
"""


def q_incremental_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-driven incremental exact-dedup index maintenance: documents
    land in three deterministic batches (``doc_id % 3``); for each
    APPEND DELTA, new docs are fingerprinted (md5 of normalized text —
    the `exact_dedup_docs` key) and probed against the fingerprint
    index of everything the PRIOR snapshot already holds.  Output: one
    audit row per increment — docs arriving, distinct fingerprints,
    hits against the index (cross-batch duplicates a full-corpus rescan
    would otherwise be needed to find), and genuinely new fingerprints
    the index grows by.

    This composes the CDC surface with the dedup family: at 100 TB a
    dedup pipeline cannot re-fingerprint the corpus per ingest — it
    probes the delta against a maintained index, so dedup cost tracks
    ingest rate.  The probe is a digest-keyed join: delta side ∝
    ingest batch, index side shuffles ONLY its 16-byte digests (the
    text never moves), and at scale the index side would be bucketed by
    digest so the probe co-locates without a shuffle (see SCALING.md).
    The oracle recomputes batches and cross-batch hits straight from
    `documents`, so manifest diffing AND the index probe are
    hash-verified together.

    Each delta additionally RE-INGESTS a deterministic ``doc_id % 10``
    slice of the previous batch — the crawler re-crawl that makes
    incremental dedup necessary in the first place.  The fixture has no
    exact duplicate texts at small SF, so without the overlap the
    index-probe hit path would go unexercised at the judged scale;
    with it, hits are guaranteed by construction (same doc ⇒ same
    fingerprint) and the oracle counts them exactly."""
    from .text import fingerprint

    workdir = tempfile.mkdtemp(prefix="snap_dedup_")
    try:
        docs = load_table(spark, sf_dir, "documents")
        m3 = F.col("doc_id") % 3
        m10 = F.col("doc_id") % 10
        table = SnapshotParquetTable(spark, f"{workdir}/documents_versioned")
        table.create(docs.filter(m3 == 0))
        table.append(docs.filter((m3 == 1) | ((m3 == 0) & (m10 == 0))))
        table.append(docs.filter((m3 == 2) | ((m3 == 1) & (m10 == 1))))

        def audit(frm: int, to: int) -> DataFrame:
            delta = table.read_incremental(frm, to).select(
                "doc_id", fingerprint(F.col("text")).alias("fp")
            )
            index = (
                table.read(version=frm)
                .select(fingerprint(F.col("text")).alias("fp"))
                .distinct()
                .withColumn("hit", F.lit(1))
            )
            probed = delta.join(index, "fp", "left")
            return probed.agg(
                F.lit(f"v{frm}_to_v{to}").alias("increment"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.countDistinct("fp").cast("long").alias("n_unique_fp"),
                F.sum(F.col("hit").isNotNull().cast("long")).alias("n_hit_index"),
                F.countDistinct(
                    F.when(F.col("hit").isNull(), F.col("fp"))
                ).cast("long").alias("n_new_unique"),
            )

        result = audit(1, 2).unionByName(audit(2, 3))
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_DEDUP_INDEX_SQL = r"""
WITH f AS (
  SELECT doc_id, doc_id % 3 AS m3, doc_id % 10 AS m10,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
  FROM documents
), b0 AS (
  SELECT fp FROM f WHERE m3 = 0
), d1 AS (
  SELECT fp FROM f WHERE m3 = 1 OR (m3 = 0 AND m10 = 0)
), d2 AS (
  SELECT fp FROM f WHERE m3 = 2 OR (m3 = 1 AND m10 = 1)
), u AS (
  SELECT 'v1_to_v2' AS increment, d1.fp,
         EXISTS (SELECT 1 FROM b0 WHERE b0.fp = d1.fp) AS hit
  FROM d1
  UNION ALL
  SELECT 'v2_to_v3' AS increment, d2.fp,
         EXISTS (SELECT 1 FROM (SELECT fp FROM b0 UNION ALL SELECT fp FROM d1) p
                 WHERE p.fp = d2.fp) AS hit
  FROM d2
)
SELECT increment,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_fp,
       CAST(count(*) FILTER (WHERE hit) AS BIGINT) AS n_hit_index,
       CAST(count(DISTINCT fp) FILTER (WHERE NOT hit) AS BIGINT) AS n_new_unique
FROM u GROUP BY increment ORDER BY increment
"""


def q_incremental_dhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC × MEDIA dedup: incremental perceptual-hash index maintenance —
    the multimodal twin of `incremental_dedup_index`.  Media documents
    land in three deterministic batches (``doc_id % 3``, each delta
    re-ingesting a ``doc_id % 10`` slice of the previous batch — the
    re-crawl that makes incremental dedup necessary); for each APPEND
    DELTA, only the NEW payloads are dHashed and their LSH bands probed
    against the band index of everything the PRIOR snapshot holds.
    Output per increment: delta size, index size, band-join candidate
    pairs, verified near-dups (hamming ≤ radius), and exact-duplicate
    hits (hamming 0 — guaranteed by the re-ingest overlap, so the probe
    path is exercised at every SF).

    At 100 TB a multimodal corpus cannot re-hash every asset per
    ingest: the delta side is ∝ ingest batch, the index side shuffles
    only 8-byte hashes + band keys (payloads never move), and at scale
    the index would be bucketed by (band_idx, band_val) so the probe
    co-locates without a shuffle — exactly the text tier's story with
    digests swapped for perceptual hashes.  Counts are one pass over
    the DISTINCT candidate pairs (no countDistinct mixed into the agg —
    the Expand-plan hazard `approx_distinct` r11 eliminated)."""
    from .multimodal import DHASH_MAX_HAMMING, dhash_bands, media_dhash

    workdir = tempfile.mkdtemp(prefix="snap_dhash_")
    try:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        m3 = F.col("doc_id") % 3
        m10 = F.col("doc_id") % 10
        table = SnapshotParquetTable(spark, f"{workdir}/media_versioned")
        table.create(docs.filter(m3 == 0))
        table.append(docs.filter((m3 == 1) | ((m3 == 0) & (m10 == 0))))
        table.append(docs.filter((m3 == 2) | ((m3 == 1) & (m10 == 1))))

        def hashes_of(df: DataFrame) -> DataFrame:
            media = df.select(
                "doc_id", F.encode(F.col("text"), "UTF-8").alias("media")
            )
            return media_dhash(media)

        def audit(frm: int, to: int) -> DataFrame:
            delta_h = hashes_of(table.read_incremental(frm, to)).localCheckpoint(
                eager=True
            )
            index_h = hashes_of(table.read(version=frm)).localCheckpoint(eager=True)
            db = dhash_bands(delta_h).select(
                F.col("doc_id").alias("d_id"),
                F.col("dhash").alias("d_h"),
                "band_idx",
                "band_val",
            )
            ib = dhash_bands(index_h).select(
                F.col("doc_id").alias("i_id"),
                F.col("dhash").alias("i_h"),
                "band_idx",
                "band_val",
            )
            pairs = (
                db.join(ib, ["band_idx", "band_val"])
                .select("d_id", "i_id", "d_h", "i_h")
                .distinct()  # multi-band collisions + re-ingested index rows
                .withColumn(
                    "hamming", F.bit_count(F.col("d_h").bitwiseXOR(F.col("i_h")))
                )
            )
            counts = pairs.agg(
                F.count(F.lit(1)).cast("long").alias("n_band_candidates"),
                F.coalesce(
                    F.sum((F.col("hamming") <= DHASH_MAX_HAMMING).cast("long")),
                    F.lit(0),
                ).cast("long").alias("n_near_dups"),
                F.coalesce(
                    F.sum((F.col("hamming") == 0).cast("long")), F.lit(0)
                ).cast("long").alias("n_exact_dups"),
            )
            nd = delta_h.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            ni = index_h.agg(F.count(F.lit(1)).cast("long").alias("n_index_docs"))
            return (
                nd.crossJoin(ni)
                .crossJoin(counts)
                .select(
                    F.lit(f"v{frm}_to_v{to}").alias("increment"),
                    "n_docs",
                    "n_index_docs",
                    "n_band_candidates",
                    "n_near_dups",
                    "n_exact_dups",
                )
            )

        result = audit(1, 2).unionByName(audit(2, 3))
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _dhash_index_sql() -> str:
    from .multimodal import (
        DHASH_BANDS,
        DHASH_BITS,
        DHASH_GRID,
        DHASH_MAX_HAMMING,
        DHASH_ROW_BITS,
        DHASH_STRIPES,
    )

    band_share = " OR ".join(
        f"((d.dhash >> {DHASH_ROW_BITS * r}) & {(1 << DHASH_ROW_BITS) - 1}) = "
        f"((i.dhash >> {DHASH_ROW_BITS * r}) & {(1 << DHASH_ROW_BITS) - 1})"
        for r in range(DHASH_BANDS)
    )
    return f"""
WITH px AS (
  SELECT doc_id, doc_id % 3 AS m3, doc_id % 10 AS m10,
         list_transform(range(0, {DHASH_STRIPES}), s ->
           coalesce(list_sum(list_transform(
             range((s * n) // {DHASH_STRIPES} + 1,
                   ((s + 1) * n) // {DHASH_STRIPES} + 1),
             i -> unicode(text[i]))), 0) % 256
         ) AS px
  FROM (SELECT doc_id, text, length(text) AS n FROM documents)
), h AS (
  SELECT doc_id, m3, m10,
         CAST(list_sum(list_transform(range(0, {DHASH_BITS}), b ->
           CAST(px[(b // {DHASH_ROW_BITS}) * {DHASH_GRID} + (b % {DHASH_ROW_BITS}) + 2]
              > px[(b // {DHASH_ROW_BITS}) * {DHASH_GRID} + (b % {DHASH_ROW_BITS}) + 1]
              AS BIGINT)
           * (CAST(1 AS BIGINT) << CAST(b AS INT)))) AS BIGINT) AS dhash
  FROM px
), b0 AS (
  SELECT doc_id, dhash FROM h WHERE m3 = 0
), d1 AS (
  SELECT doc_id, dhash FROM h WHERE m3 = 1 OR (m3 = 0 AND m10 = 0)
), d2 AS (
  SELECT doc_id, dhash FROM h WHERE m3 = 2 OR (m3 = 1 AND m10 = 1)
), i2 AS (
  SELECT doc_id, dhash FROM b0 UNION ALL SELECT doc_id, dhash FROM d1
), p1 AS (
  SELECT DISTINCT d.doc_id AS d_id, i.doc_id AS i_id, d.dhash AS d_h, i.dhash AS i_h
  FROM d1 d JOIN b0 i ON ({band_share})
), p2 AS (
  SELECT DISTINCT d.doc_id AS d_id, i.doc_id AS i_id, d.dhash AS d_h, i.dhash AS i_h
  FROM d2 d JOIN i2 i ON ({band_share})
)
SELECT 'v1_to_v2' AS increment,
       (SELECT count(*) FROM d1) AS n_docs,
       (SELECT count(*) FROM b0) AS n_index_docs,
       count(*) AS n_band_candidates,
       CAST(coalesce(sum(CASE WHEN bit_count(xor(d_h, i_h)) <= {DHASH_MAX_HAMMING}
                         THEN 1 END), 0) AS BIGINT) AS n_near_dups,
       CAST(coalesce(sum(CASE WHEN d_h = i_h THEN 1 END), 0) AS BIGINT) AS n_exact_dups
FROM p1
UNION ALL
SELECT 'v2_to_v3' AS increment,
       (SELECT count(*) FROM d2) AS n_docs,
       (SELECT count(*) FROM i2) AS n_index_docs,
       count(*) AS n_band_candidates,
       CAST(coalesce(sum(CASE WHEN bit_count(xor(d_h, i_h)) <= {DHASH_MAX_HAMMING}
                         THEN 1 END), 0) AS BIGINT) AS n_near_dups,
       CAST(coalesce(sum(CASE WHEN d_h = i_h THEN 1 END), 0) AS BIGINT) AS n_exact_dups
FROM p2
ORDER BY increment
"""


def _multiset_equal(a: DataFrame, b: DataFrame) -> bool:
    """Multiset equality in ONE job: signed-weight union → group → any
    nonzero residual row.  Replaces the two ``exceptAll`` passes the
    identity audits used (each exceptAll is its own shuffle + count, and
    both sides were scanned twice); this shuffles each side once and
    short-circuits on the first residual."""
    cols = a.columns
    # a pre-existing __w column would be silently overwritten by the
    # weight tag, collapsing rows that differ only in it — fail loudly
    # instead (ADVICE r19); no audited frame carries one today
    assert "__w" not in cols, "_multiset_equal: column name __w collides"
    signed = a.select(*cols).withColumn("__w", F.lit(1)).unionByName(
        b.select(*cols).withColumn("__w", F.lit(-1))
    )
    return (
        signed.groupBy(*cols)
        .agg(F.sum("__w").alias("__s"))
        .filter(F.col("__s") != 0)
        .limit(1)
        .count()
        == 0
    )


def _ann_encode(spark: SparkSession, df: DataFrame, cents) -> DataFrame:
    """SQ8×IVF index row for each embedding: (vec_id, cell, m, codes).

    cell = fold-exact argmax-cosine centroid (the same Arrow assignment
    the kmeans/semantic ops hash against DuckDB — ``_assign_clusters``),
    m = max|x| (greatest: fold-order-free),
    codes = floor(x·127/m + 0.5) per dimension (floor on identical
    doubles carries no half-tie semantics).  Everything downstream of
    the narrow Arrow stage is JVM-side array expressions."""
    from .quantization import _sq8_max_abs
    from .similarity import _assign_clusters, _norm

    assigned = _assign_clusters(
        df.select("vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")),
        cents,
        ("cluster_id", "vec_id", "embedding"),
    )
    with_m = assigned.select(
        "vec_id",
        F.col("cluster_id").alias("cell"),
        "embedding",
        _sq8_max_abs(F.col("embedding")).alias("m"),
    )
    return with_m.select(
        "vec_id",
        "cell",
        "m",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(127.0) / F.col("m") + F.lit(0.5)),
        ).alias("codes"),
    )


def ann_build_maintained_index(spark: SparkSession, sf_dir: str, workdir: str):
    """The production ANN maintenance loop, shared by the judged op and
    the bench's per-stage timing (VERDICT r14 #7): embeddings land in
    three deterministic batches into a versioned corpus table; the
    cell-PARTITIONED SQ8×IVF index is CREATED from v1's encoding and
    APPENDED each ``read_incremental`` delta's encoding (cell-clustered
    writes — one file per touched cell per commit).  Returns
    ``(corpus, index, cents)``."""
    from .similarity import collect_centroids

    cents = collect_centroids(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    m3 = F.col("vec_id") % 3
    corpus = SnapshotParquetTable(spark, f"{workdir}/embeddings_versioned")
    corpus.create(emb.filter(m3 == 0))
    corpus.append(emb.filter(m3 == 1))
    corpus.append(emb.filter(m3 == 2))

    index = SnapshotParquetTable(spark, f"{workdir}/ann_sq8_index")
    # repartition("cell") clusters each delta so every cell lands as
    # one file per commit — the partitioned layout a probe prunes on
    index.create(
        _ann_encode(spark, corpus.read(version=1), cents).repartition("cell"),
        partition_by=["cell"],
    )
    index.append(
        _ann_encode(spark, corpus.read_incremental(1, 2), cents).repartition("cell")
    )
    index.append(
        _ann_encode(spark, corpus.read_incremental(2, 3), cents).repartition("cell")
    )
    return corpus, index, cents


def ann_probe_topk(spark: SparkSession, sf_dir: str, idx: DataFrame, cents) -> DataFrame:
    """The production ANN read path over a persisted index scan: nprobe
    cells per query by the matmul probe (`_probe_cells_udf`), then
    `_sq8_probe_topk` — (query_id, neighbor_id, rank)."""
    from .similarity import IVF_NPROBE, N_QUERIES, _probe_cells_udf

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probes = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        .withColumn("cell", F.explode(_probe_cells_udf(cents, IVF_NPROBE)(F.col("qv"))))
    )
    return _sq8_probe_topk(idx, probes).select("query_id", "neighbor_id", "rank")


def _sq8_probe_topk(idx: DataFrame, probes: DataFrame) -> DataFrame:
    """SQ8-ADC search of a persisted SQ8×IVF index scan ``idx`` (vec_id,
    cell, m, codes) for a prebuilt probe frame ``probes`` (query_id,
    cell, qv): the probe rows broadcast into a cell-keyed join, each
    candidate scores ``sq8_score`` = round6((m/127)·Σ qv_d·code_d) from
    the stored codes (left fold from 0.0, the oracle's order), and the
    per-query top-k ranks by (sq8_score desc, neighbor_id).  Returns
    (query_id, neighbor_id, sq8_score, rank).  Candidate rows ∝ probed
    cells; vectors never shuffle (codes ride the scan)."""
    from pyspark.sql.window import Window

    from .similarity import TOP_K

    adc = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("codes"),
            lambda q, c: q.cast("double") * c.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sq8_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        idx.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round((F.col("m") / F.lit(127.0)) * adc, 6).alias("sq8_score"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


def _ann_increment_audit(index: SnapshotParquetTable) -> DataFrame:
    """Per-increment audit frame of a 3-commit ANN index table (shared
    by the batch-maintained and table-stream-maintained judged ops):
    delta size, cells touched, exact integer code checksum (Σᵢ i·codeᵢ —
    pins the persisted code content bit-for-bit), exact DECIMAL scale
    sum, cumulative index size.  ONE job: the three delta scans are
    tagged, unioned, and grouped — instead of three agg jobs each
    paying scan setup on the partitioned dirs."""
    from pyspark.sql.window import Window

    labels = {1: "v1_base", 2: "v1_to_v2", 3: "v2_to_v3"}
    checksum = F.aggregate(
        F.transform("codes", lambda c, i: c * (i + F.lit(1)).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    tagged = None
    for v, df in (
        (1, index.read(version=1)),
        (2, index.read_incremental(1, 2)),
        (3, index.read_incremental(2, 3)),
    ):
        part = df.withColumn("increment", F.lit(labels[v]))
        tagged = part if tagged is None else tagged.unionByName(part)
    audit = tagged.groupBy("increment").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.countDistinct("cell").cast("long").alias("n_cells_touched"),
        F.sum(checksum).cast("long").alias("codes_checksum"),
        F.round(F.sum(F.col("m").cast("decimal(30,12)")), 6)
        .cast("double")
        .alias("m_sum"),
    )
    # cumulative size from the delta counts themselves — an append-only
    # index's size IS the running sum, so no extra per-version reads
    w_cum = Window.orderBy("increment").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return audit.withColumn(
        "index_size_after", F.sum("n_vectors").over(w_cum).cast("long")
    )


def q_ann_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED ANN INDEX with CDC maintenance (VERDICT r12 #3): the
    SQ8×IVF index lives as a snapshot table and is maintained from
    append deltas instead of rebuilt per query — the 100 TB
    index-as-table story, composing the snapshot format's incremental
    scan with the quantization tier the way ``incremental_dhash_index``
    does for perceptual hashes.

    Flow: embeddings land in three deterministic batches (vec_id % 3)
    into a versioned corpus table; the index table is CREATED from v1's
    encoding and then APPENDED the encoding of each ``read_incremental``
    delta only — vectors are never re-encoded.  (Cell assignment uses the
    FIXED seed coarse quantizer — ``collect_centroids`` — which is what
    makes delta maintenance valid: a vector's cell never changes when
    the corpus grows.  Re-fitting the quantizer is an offline model
    refresh that triggers a full re-index in any ANN system.)

    Hashed audit, one row per index snapshot: delta size, cells touched,
    an exact integer checksum of the stored codes (Σᵢ i·codeᵢ summed over
    the delta — pins the persisted code content bit-for-bit), the exact
    DECIMAL sum of the stored scales, and the cumulative index size.  Two
    in-query identity booleans complete VERDICT's 'Done' criterion:
    ``index_equals_rebuild`` (the delta-maintained index equals a
    one-pass full rebuild, row-for-row including codes) and
    ``search_results_identical`` (IVF-probed SQ8-ADC top-k over the
    maintained index == over the rebuild).

    Scale shape: encoding is a narrow Arrow stage ∝ ingest batch; index
    maintenance is pure append commits (the only exchange is the
    cell-clustering repartition of each O(delta) encoding); search scans
    the INDEX (8-byte codes + 1 scale per vector, ~4× less IO than
    floats) with candidate rows ∝ probed cells only.  The index table IS
    ``PARTITIONED BY (cell)`` (r13 verdict #3 — no longer prose): every
    commit lands hive cell directories, so a probe prunes to nprobe
    partitions before any footer is opened; the pruning itself is judged
    with files-scanned evidence by `ann_index_partitioned_probe`."""
    workdir = tempfile.mkdtemp(prefix="snap_ann_")
    try:
        corpus, index, cents = ann_build_maintained_index(spark, sf_dir, workdir)

        maintained = index.read().localCheckpoint(eager=True)
        rebuilt = _ann_encode(spark, corpus.read(), cents).localCheckpoint(eager=True)
        index_equals_rebuild = _multiset_equal(maintained, rebuilt)

        # the one-job multiset check scans each search pipeline exactly
        # once, so no localCheckpoint is needed on the search results
        search_results_identical = _multiset_equal(
            ann_probe_topk(spark, sf_dir, maintained, cents),
            ann_probe_topk(spark, sf_dir, rebuilt, cents),
        )

        result = _ann_increment_audit(index).withColumn(
            "index_equals_rebuild", F.lit(index_equals_rebuild)
        ).withColumn(
            "search_results_identical", F.lit(search_results_identical)
        ).select(
            "increment",
            "n_vectors",
            "n_cells_touched",
            "codes_checksum",
            "m_sum",
            "index_size_after",
            "index_equals_rebuild",
            "search_results_identical",
        ).orderBy("increment")
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _sql_dot64(a: str, b: str) -> str:
    """Left-folded 64-term dot — same fold order as the Spark/Arrow side."""
    from .similarity import DIM

    expr = f"(CAST({a}[1] AS DOUBLE) * CAST({b}[1] AS DOUBLE))"
    for i in range(2, DIM + 1):
        expr = f"({expr} + (CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)))"
    return expr


def _sql_ann_enc_ctes() -> str:
    """Shared oracle CTE chain: seed-centroid cell assignment (fold-exact
    argmax cosine, tie → lowest id) + SQ8 scale and integer code checksum
    per vector — mirrors ``_ann_encode`` bit-for-bit."""
    from .similarity import DIM, IVF_N_CENTROIDS

    max_abs = "greatest(" + ", ".join(
        f"abs(CAST(embedding[{i}] AS DOUBLE))" for i in range(1, DIM + 1)
    ) + ")"
    checksum = " + ".join(
        f"({i} * CAST(floor(CAST(embedding[{i}] AS DOUBLE) * 127.0 / m + 0.5) AS BIGINT))"
        for i in range(1, DIM + 1)
    )
    return f"""cents AS (
  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < {IVF_N_CENTROIDS}
), cscored AS (
  SELECT e.vec_id, e.embedding, e.vec_id % 3 AS m3, c.cid,
         ({_sql_dot64('e.embedding', 'c.cemb')})
           / (sqrt({_sql_dot64('e.embedding', 'e.embedding')}) * sqrt({_sql_dot64('c.cemb', 'c.cemb')})) AS cos
  FROM embeddings e CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, embedding, m3, cid AS cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
  FROM cscored
), enc AS (
  SELECT vec_id, m3, cell, {max_abs} AS m, embedding
  FROM assigned WHERE rn = 1
), enc2 AS (
  SELECT vec_id, m3, cell, m, ({checksum}) AS checksum FROM enc
)"""


def _ann_index_sql() -> str:
    return f"""
WITH {_sql_ann_enc_ctes()}
SELECT CASE m3 WHEN 0 THEN 'v1_base' WHEN 1 THEN 'v1_to_v2' ELSE 'v2_to_v3' END AS increment,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(DISTINCT cell) AS BIGINT) AS n_cells_touched,
       CAST(sum(checksum) AS BIGINT) AS codes_checksum,
       CAST(round(sum(CAST(m AS DECIMAL(30,12))), 6) AS DOUBLE) AS m_sum,
       CAST(sum(count(*)) OVER (ORDER BY m3 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS index_size_after,
       true AS index_equals_rebuild,
       true AS search_results_identical
FROM enc2 GROUP BY m3 ORDER BY increment
"""


def q_stream_table_to_ann_index_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The table-as-a-stream source's NATURAL IN-REPO CUSTOMER (VERDICT
    r15 #4): the ANN index maintainer SUBSCRIBES to the corpus snapshot
    table instead of being hand-driven batch by batch — the end-to-end
    table→table incremental pipeline.

    Flow: embeddings land in three commits into a versioned corpus
    table (same slices as ``ann_index_maintenance``); a
    ``stream_table_changes`` subscription delivers each commit as one
    micro-batch to a sink that ENCODES the delta (``_ann_encode``,
    SQ8×IVF), cell-clusters it, and commits it through the run-scoped
    idempotent append sink — the index table is CREATED
    ``PARTITIONED BY (cell)`` by the first batch
    (``create_kwargs``) and appended one cell-clustered commit per
    corpus commit after that.

    Judged in-hash: the same per-increment audit as the batch twin
    (delta sizes, cells touched, exact code checksums, DECIMAL scale
    sums, cumulative size — so the streamed index's CONTENT is pinned
    commit-for-commit against the oracle's SQL re-encoding), plus
    ``n_batches`` (= 3 corpus commits) and three booleans (oracle:
    literal true): ``_replay_noop`` — the offset file is REWOUND to
    simulate a crash after batch 1's sink but before its offset commit,
    and the re-drain's redelivered batches all no-op via the ledger
    (index unchanged, snapshot count unchanged); ``_equals_rebuild`` —
    the subscription-maintained index equals a one-pass full re-encode,
    row-for-row including codes; ``_search_identical`` — the IVF-probed
    SQ8-ADC top-k over both is identical.

    Scale: this is the MV-maintenance shape at 100 TB — the index
    maintainer polls the corpus table's manifest (O(snapshots) driver
    work), encodes only each commit's new files through one narrow
    Arrow stage, and pays one O(delta) cell-clustered append; no
    landing-dir duplicate of the corpus, no re-encode, and replay
    safety comes from the same ledger the file-stream sinks use."""
    import uuid as _uuid

    from ..streaming.jobs import make_idempotent_snapshot_sink, stream_table_changes
    from .similarity import collect_centroids

    workdir = tempfile.mkdtemp(prefix="snap_ann_sub_")
    try:
        cents = collect_centroids(spark, sf_dir)
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        m3 = F.col("vec_id") % 3
        corpus = SnapshotParquetTable(spark, f"{workdir}/embeddings_versioned")
        corpus.create(emb.filter(m3 == 0))
        corpus.append(emb.filter(m3 == 1))
        corpus.append(emb.filter(m3 == 2))

        index = SnapshotParquetTable(spark, f"{workdir}/ann_sq8_index_sub")
        ckpt = f"{workdir}/ckpt"
        qname = f"ann_subscribe_{_uuid.uuid4().hex[:8]}"

        def encoding_sink():
            base = make_idempotent_snapshot_sink(
                index, qname, checkpoint_dir=ckpt,
                create_kwargs={"partition_by": ["cell"]},
            )

            def sink(batch_df: DataFrame, batch_id: int) -> None:
                base(_ann_encode(spark, batch_df, cents).repartition("cell"), batch_id)

            return sink

        batches = stream_table_changes(corpus, encoding_sink(), ckpt)
        n_commits = len(index._load())
        n_rows = index.read().count()
        # crash window: batch 1's sink committed but its offset write was
        # lost — rewind and re-drain; every redelivered batch must no-op
        import json as _json

        with open(os.path.join(ckpt, "offsets"), "w") as fh:
            _json.dump({"last_snapshot_id": 1}, fh)
        replayed = stream_table_changes(corpus, encoding_sink(), ckpt)
        replay_noop = (
            replayed == [2, 3]
            and len(index._load()) == n_commits
            and index.read().count() == n_rows
        )

        maintained = index.read().localCheckpoint(eager=True)
        rebuilt = _ann_encode(spark, corpus.read(), cents).localCheckpoint(eager=True)
        equals_rebuild = _multiset_equal(maintained, rebuilt)
        search_identical = _multiset_equal(
            ann_probe_topk(spark, sf_dir, maintained, cents),
            ann_probe_topk(spark, sf_dir, rebuilt, cents),
        )

        result = (
            _ann_increment_audit(index)
            .withColumn("n_batches", F.lit(len(batches)).cast("long"))
            .withColumn("_replay_noop", F.lit(bool(replay_noop)))
            .withColumn("_equals_rebuild", F.lit(bool(equals_rebuild)))
            .withColumn("_search_identical", F.lit(bool(search_identical)))
            .orderBy("increment")
        )
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _ann_table_stream_sql() -> str:
    return f"""
WITH {_sql_ann_enc_ctes()}
SELECT CASE m3 WHEN 0 THEN 'v1_base' WHEN 1 THEN 'v1_to_v2' ELSE 'v2_to_v3' END AS increment,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(DISTINCT cell) AS BIGINT) AS n_cells_touched,
       CAST(sum(checksum) AS BIGINT) AS codes_checksum,
       CAST(round(sum(CAST(m AS DECIMAL(30,12))), 6) AS DOUBLE) AS m_sum,
       CAST(sum(count(*)) OVER (ORDER BY m3 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS index_size_after,
       CAST(3 AS BIGINT) AS n_batches,
       true AS _replay_noop,
       true AS _equals_rebuild,
       true AS _search_identical
FROM enc2 GROUP BY m3 ORDER BY increment
"""


def _exact_probes(spark: SparkSession, emb: DataFrame, cents):
    """Driver-side FOLD-EXACT probe for hashed results: per query, the
    ``IVF_NPROBE`` best cells by `_fold_cosines_np` — the rule that
    assigns index rows to cells (`_assign_clusters`) and the SQL
    oracle's ranked-cosine CTE, ties → lowest centroid id.  The matmul
    probe (`_probe_cells_udf`) may flip a near-tie, which is fine for
    self-validated ops but not for a probe whose CELL SET is part of the
    driver hash.  Bounded model state: |queries| × k folds over DIM.

    Returns ``(probes, cells)``: the broadcastable (query_id, cell, qv)
    frame for `_sq8_probe_topk` and each query's list of probed cells."""
    from .similarity import (
        IVF_NPROBE,
        _collect_query_vectors,
        _fold_cosines_np,
        _fold_norms_np,
    )

    q_ids, qmat, _ = _collect_query_vectors(emb)
    cos = _fold_cosines_np(qmat, _fold_norms_np(qmat), cents)
    cent_ids = [cid for cid, _ in cents]
    cells = [
        [cent_ids[k] for k in row[:IVF_NPROBE]]
        for row in (-cos).argsort(axis=1, kind="stable")
    ]
    probes = spark.createDataFrame(
        [
            (int(qid), cell, [float(x) for x in qv])
            for qid, qv, q_cells in zip(q_ids, qmat, cells)
            for cell in q_cells
        ],
        "query_id long, cell long, qv array<float>",
    )
    return probes, cells


def q_ann_index_partitioned_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-PRUNED probe of the persisted ANN index (VERDICT r13
    #3 made judged): the SQ8×IVF index table is ``PARTITIONED BY
    (cell)`` — one hive directory per IVF cell, one file per cell
    (cell-clustered write) — and a query's probe reads ONLY its nprobe
    cells' partitions.  The hashed result is the per-query SQ8-ADC
    top-k itself (query_id, neighbor_id, rounded score, rank — a full
    value oracle, not a recall shape) PLUS the pruning evidence the way
    `stats_pruned_scan` carries it:

    - ``n_cells_scanned`` / ``n_cells_total``: probed vs existing cells
      — the oracle recomputes both from the same fold-exact probe and
      assignment, so a probe that reads a wrong cell set flips the hash;
    - ``_partition_pruned``: the physical plan's FileScan carries the
      probe's IN-list as a PartitionFilter (pruned before footer IO);
    - ``_layout_files_match_cells``: on-disk parquet files under probed
      partitions == n_cells_scanned and total files == n_cells_total
      (the one-file-per-cell clustered layout held);
    - ``_matches_unpruned``: the pruned-scan top-k equals the full-scan
      top-k row-for-row (pruning is an optimization, never a filter).

    Probe cells are computed with the fold-exact driver-side quantizer
    (`_exact_probes`) so the cell set is bit-identical to the SQL
    oracle's ranked-cosine CTE — the `_assign_clusters` rule from the
    determinism ladder applied to the probe side.

    Scale: this is the lever that makes a persisted 100 TB index
    searchable — a probe opens nprobe partitions (manifest-planned, no
    listing of the other k−nprobe), and candidate rows ∝ probed cells;
    without the spec the same probe scans every index file and filters
    in-plan."""
    from .similarity import collect_centroids

    workdir = tempfile.mkdtemp(prefix="snap_ann_probe_")
    try:
        cents = collect_centroids(spark, sf_dir)
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        index = SnapshotParquetTable(spark, f"{workdir}/ann_idx_by_cell")
        index.create(
            _ann_encode(spark, emb, cents).repartition("cell"),
            partition_by=["cell"],
        )
        probes, cells = _exact_probes(spark, emb, cents)
        probe_cells = sorted({c for q_cells in cells for c in q_cells})
        pruned_scan = index.read().filter(F.col("cell").isin(probe_cells))
        plan = pruned_scan._jdf.queryExecution().executedPlan().toString()
        # Catalyst renders a one-element IN-list as EqualTo and the exact
        # rendering is version-dependent — accept any non-empty partition
        # filter on `cell` (IN, =, or the expression form); the physical
        # evidence that the RIGHT partitions were selected is carried by
        # `_layout_files_match_cells` below (on-disk file enumeration),
        # so this boolean only pins that pruning happens plan-side at all.
        partition_pruned = bool(
            re.search(
                r"PartitionFilters: \[[^\]]*cell#\d+L?\s*(IN\s*\(|=\s|IN\b)",
                plan,
            )
        )
        topk = _sq8_probe_topk(pruned_scan, probes).localCheckpoint(eager=True)
        matches_unpruned = _multiset_equal(topk, _sq8_probe_topk(index.read(), probes))
        import glob as _glob

        data_dir = index._head(index._load()).data_dirs[0]
        files = _glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
        scanned = [
            f for f in files if any(f"{os.sep}cell={c}{os.sep}" in f for c in probe_cells)
        ]
        n_cells_total = index.read().select("cell").distinct().count()
        layout_ok = len(files) == n_cells_total and len(scanned) == len(probe_cells)
        result = topk.select(
            "query_id",
            "neighbor_id",
            "sq8_score",
            "rank",
            F.lit(len(probe_cells)).cast("long").alias("n_cells_scanned"),
            F.lit(n_cells_total).cast("long").alias("n_cells_total"),
            F.lit(bool(partition_pruned)).alias("_partition_pruned"),
            F.lit(bool(layout_ok)).alias("_layout_files_match_cells"),
            F.lit(bool(matches_unpruned)).alias("_matches_unpruned"),
        ).orderBy("query_id", "rank")
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _ann_probe_sql() -> str:
    """Full value oracle for the partitioned probe: ranked-cosine probe
    cells (rn ≤ nprobe, ties → lowest cid — identical doubles to the
    fold-exact driver probe), corpus cell assignment + SQ8 codes via the
    shared enc CTEs, ADC scores re-derived per dimension."""
    from .quantization import DIM
    from .similarity import IVF_N_CENTROIDS, IVF_NPROBE, N_QUERIES, TOP_K

    def fold(expr_fn, start=1):
        e = expr_fn(start)
        for i in range(start + 1, DIM + 1):
            e = f"({e} + {expr_fn(i)})"
        return e

    adc_term = (
        lambda i: f"(CAST(p.qemb[{i}] AS DOUBLE) * "
        f"floor(CAST(c.embedding[{i}] AS DOUBLE) * 127.0 / c.m + 0.5))"
    )
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < {IVF_N_CENTROIDS}
), cscored AS (
  SELECT e.vec_id, e.embedding, c.cid,
         ({_sql_dot64('e.embedding', 'c.cemb')})
           / (sqrt({_sql_dot64('e.embedding', 'e.embedding')}) * sqrt({_sql_dot64('c.cemb', 'c.cemb')})) AS cos
  FROM embeddings e CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, embedding, cid AS cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
  FROM cscored
), corpus AS (
  SELECT vec_id AS neighbor_id, embedding, cell,
         greatest({", ".join(f"abs(CAST(embedding[{i}] AS DOUBLE))" for i in range(1, DIM + 1))}) AS m
  FROM assigned WHERE rn = 1
), probed AS (
  SELECT vec_id AS query_id, embedding AS qemb, cid AS cell
  FROM (
    SELECT vec_id, embedding, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS prn
    FROM cscored WHERE vec_id < {N_QUERIES}
  ) WHERE prn <= {IVF_NPROBE}
), scored AS (
  SELECT p.query_id, c.neighbor_id,
         round((c.m / 127.0) * {fold(adc_term)}, 6) AS sq8_score
  FROM probed p JOIN corpus c ON c.cell = p.cell AND c.neighbor_id <> p.query_id
), ranked AS (
  SELECT query_id, neighbor_id, sq8_score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sq8_score DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, sq8_score, rank,
       (SELECT CAST(count(DISTINCT cell) AS BIGINT) FROM probed) AS n_cells_scanned,
       (SELECT CAST(count(DISTINCT cell) AS BIGINT) FROM corpus) AS n_cells_total,
       true AS _partition_pruned,
       true AS _layout_files_match_cells,
       true AS _matches_unpruned
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def q_ann_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTIZER-REFRESH re-index (VERDICT r13 #4): re-fitting the IVF
    coarse quantizer invalidates delta maintenance — a vector's cell is
    a function of the centroids — so the refresh path is an OFFLINE full
    re-encode committed as ONE ``replace`` snapshot on the index table
    (REPLACE TABLE AS SELECT): history keeps the seed-quantizer index
    for time travel, consumers atomically flip to the fitted-quantizer
    index.

    Hashed audit, one row per index generation ('1_seed_index',
    '2_refreshed'): n_vectors, the exact integer code checksum and the
    DECIMAL scale sum — which must be IDENTICAL across generations,
    because SQ8 codes and scales depend only on the vectors, never on
    the quantizer (the refresh moves rows BETWEEN cells; it must not
    touch a single code byte).  In-query booleans (oracle: literal
    true):

    - ``_some_cells_reassigned``: the fitted quantizer moved ≥1 vector —
      the refresh was not a no-op;
    - ``_changelog_matches_reassignment``: ``read_changes`` over the
      replace shows deletes == inserts == exactly the reassigned
      vectors (rows whose cell is unchanged are bit-identical across
      generations and cancel in the multiset diff — the changelog is
      LOGICAL, so an unchanged-cell vector never appears);
    - ``_refresh_equals_rebuild``: the replaced index equals a
      from-scratch encode on the fitted centroids, row-for-row;
    - ``_search_identical``: IVF-probed SQ8-ADC top-k (fitted probe)
      over the refreshed index == over the from-scratch build.

    Scale: the refresh is one full-scan encode (narrow Arrow stage) +
    one cell-clustered write — the same cost as the initial build, run
    offline; the replace commit is atomic metadata, and CDC consumers
    see the rewrite as a clean delete+insert set bounded by the
    reassigned fraction, not the table size."""
    from .similarity import collect_centroids, fitted_centroids

    workdir = tempfile.mkdtemp(prefix="snap_ann_refresh_")
    try:
        seed = collect_centroids(spark, sf_dir)
        fitted = fitted_centroids(spark, sf_dir)
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        index = SnapshotParquetTable(spark, f"{workdir}/ann_idx_refresh")
        index.create(
            _ann_encode(spark, emb, seed).repartition("cell"), partition_by=["cell"]
        )
        v1 = index._head(index._load()).snapshot_id
        refreshed_enc = _ann_encode(spark, emb, fitted).repartition("cell")
        v2 = index.replace(refreshed_enc)

        gen1 = index.read(version=v1).localCheckpoint(eager=True)
        gen2 = index.read(version=v2).localCheckpoint(eager=True)
        rebuilt = _ann_encode(spark, emb, fitted).localCheckpoint(eager=True)
        refresh_equals_rebuild = _multiset_equal(gen2, rebuilt)
        n_reassigned = (
            gen1.select("vec_id", "cell")
            .join(
                gen2.select("vec_id", F.col("cell").alias("cell2")), "vec_id"
            )
            .filter(F.col("cell") != F.col("cell2"))
            .count()
        )
        changes = index.read_changes(v1, v2).localCheckpoint(eager=True)
        n_del = changes.filter(F.col("_change_type") == "delete").count()
        n_ins = changes.filter(F.col("_change_type") == "insert").count()
        changelog_ok = n_del == n_reassigned and n_ins == n_reassigned

        probes, _ = _exact_probes(spark, emb, fitted)
        search_identical = _multiset_equal(
            _sq8_probe_topk(gen2, probes), _sq8_probe_topk(rebuilt, probes)
        )

        checksum = F.aggregate(
            F.transform("codes", lambda c, i: c * (i + F.lit(1)).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        audit = None
        for label, gen in (("1_seed_index", gen1), ("2_refreshed", gen2)):
            row = gen.agg(
                F.lit(label).alias("generation"),
                F.count(F.lit(1)).cast("long").alias("n_vectors"),
                F.sum(checksum).cast("long").alias("codes_checksum"),
                F.round(F.sum(F.col("m").cast("decimal(30,12)")), 6)
                .cast("double")
                .alias("m_sum"),
                F.lit(n_reassigned > 0).alias("_some_cells_reassigned"),
                F.lit(bool(changelog_ok)).alias("_changelog_matches_reassignment"),
                F.lit(bool(refresh_equals_rebuild)).alias("_refresh_equals_rebuild"),
                F.lit(bool(search_identical)).alias("_search_identical"),
            )
            audit = row if audit is None else audit.unionByName(row)
        result = audit.orderBy("generation")
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _ann_refresh_sql() -> str:
    """Oracle: both generations carry identical vector-derived content
    (codes/scales are quantizer-independent), so one enc pass serves
    both audit rows; the reassignment/changelog/search identities are
    in-query booleans (literal true)."""
    from .quantization import DIM

    max_abs = "greatest(" + ", ".join(
        f"abs(CAST(embedding[{i}] AS DOUBLE))" for i in range(1, DIM + 1)
    ) + ")"
    checksum = " + ".join(
        f"({i} * CAST(floor(CAST(embedding[{i}] AS DOUBLE) * 127.0 / m + 0.5) AS BIGINT))"
        for i in range(1, DIM + 1)
    )
    return f"""
WITH enc AS (
  SELECT vec_id, {max_abs} AS m, embedding FROM embeddings
), enc2 AS (
  SELECT vec_id, m, ({checksum}) AS checksum FROM enc
), one AS (
  SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         CAST(sum(checksum) AS BIGINT) AS codes_checksum,
         CAST(round(sum(CAST(m AS DECIMAL(30,12))), 6) AS DOUBLE) AS m_sum
  FROM enc2
)
SELECT g.generation, o.n_vectors, o.codes_checksum, o.m_sum,
       true AS _some_cells_reassigned,
       true AS _changelog_matches_reassignment,
       true AS _refresh_equals_rebuild,
       true AS _search_identical
FROM (SELECT '1_seed_index' AS generation UNION ALL SELECT '2_refreshed') g
CROSS JOIN one o
ORDER BY g.generation
"""


def _files_per_cell(data_dirs: list[str]) -> dict[int, int]:
    """On-disk parquet-file count per hive ``cell=N`` partition across
    ``data_dirs`` — the physical layout evidence the compaction op hashes
    (no data IO: directory listing only, bounded by files × commits)."""
    import glob as _glob

    counts: dict[int, int] = {}
    for d in data_dirs:
        for f in _glob.glob(os.path.join(d, "cell=*", "*.parquet")):
            cell = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
            counts[cell] = counts.get(cell, 0) + 1
    return counts


def q_ann_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-INDEX FILE COMPACTION (VERDICT r14 #3) — the last verb in the
    persisted-index lifecycle: delta maintenance writes one file per
    cell PER COMMIT (`ann_index_maintenance`'s cell-clustered appends),
    so a long-lived index accumulates O(commits × cells) small files and
    the probe's one-file-per-cell property decays.  ``compact()`` on the
    ``PARTITIONED BY (cell)`` table bin-packs PER PARTITION (each cell
    hash-clusters to one task → exactly one file in its hive dir,
    written with up-to-``target_file_count``-way parallelism — never the
    unpartitioned coalesce(1) single task) and commits one atomic
    ``replace`` snapshot; history keeps the fragmented layout for time
    travel.

    Hashed result, one row per IVF cell: vector count, the exact integer
    code checksum (content unchanged bit-for-bit), ``files_before`` (==
    #delta commits that touched the cell — pins BOTH the fragmentation
    being real and each commit's clustered write having produced exactly
    one file per touched cell; the oracle recomputes it as
    count(DISTINCT batch slice)) and ``files_after`` (the on-disk count,
    oracle: literal 1).  Structural booleans (oracle: literal true):

    - ``_layout_one_file_per_cell``: every cell dir in the compacted
      snapshot holds exactly one parquet file;
    - ``_search_identical``: IVF-probed SQ8-ADC top-k over the compacted
      index == over the fragmented head (compaction is layout, never
      content);
    - ``_changelog_neutral``: ``read_changes`` across the compaction
      emits ZERO rows — CDC consumers never see a rewrite (the Iceberg
      replace-commit contract, same machinery `rewrite_position_deletes`
      relies on for delete files).

    Scale: compaction cost is one index scan + one clustered write, all
    cells rewritten in parallel; at 100 TB you run it on cadence (e.g.
    every N deltas) to hold probe planning at one footer per probed
    cell.  Reference parity: Iceberg's ``rewrite_data_files`` bin-pack,
    which the reference invokes via Impala/Spark maintenance jobs."""
    from .similarity import collect_centroids

    workdir = tempfile.mkdtemp(prefix="snap_ann_compact_")
    try:
        cents = collect_centroids(spark, sf_dir)
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        m3 = F.col("vec_id") % 3
        index = SnapshotParquetTable(spark, f"{workdir}/ann_idx_compact")
        # three delta commits, each cell-clustered → one file per touched
        # cell per commit (the maintenance loop's layout after 3 batches)
        index.create(
            _ann_encode(spark, emb.filter(m3 == 0), cents).repartition("cell"),
            partition_by=["cell"],
        )
        index.append(
            _ann_encode(spark, emb.filter(m3 == 1), cents).repartition("cell")
        )
        index.append(
            _ann_encode(spark, emb.filter(m3 == 2), cents).repartition("cell")
        )
        head_before = index._head(index._load())
        v_before = head_before.snapshot_id
        files_before = _files_per_cell(head_before.data_dirs)

        fragmented = index.read(version=v_before).localCheckpoint(eager=True)
        v_after = index.compact(target_file_count=8)
        head_after = index._head(index._load())
        compacted = index.read(version=v_after).localCheckpoint(eager=True)
        files_after = _files_per_cell(head_after.data_dirs)
        layout_ok = bool(files_after) and all(n == 1 for n in files_after.values())

        search_identical = _multiset_equal(
            ann_probe_topk(spark, sf_dir, compacted, cents),
            ann_probe_topk(spark, sf_dir, fragmented, cents),
        )
        changelog_neutral = (
            index.read_changes(v_before, v_after).limit(1).count() == 0
        )

        checksum = F.aggregate(
            F.transform("codes", lambda c, i: c * (i + F.lit(1)).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        fb = spark.createDataFrame(
            [(c, n) for c, n in sorted(files_before.items())],
            "cell long, files_before long",
        )
        fa = spark.createDataFrame(
            [(c, n) for c, n in sorted(files_after.items())],
            "cell long, files_after long",
        )
        result = (
            compacted.groupBy("cell")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_vectors"),
                F.sum(checksum).cast("long").alias("codes_checksum"),
            )
            .join(fb, "cell")
            .join(fa, "cell")
            .select(
                "cell",
                "n_vectors",
                "files_before",
                "files_after",
                "codes_checksum",
                F.lit(bool(layout_ok)).alias("_layout_one_file_per_cell"),
                F.lit(bool(search_identical)).alias("_search_identical"),
                F.lit(bool(changelog_neutral)).alias("_changelog_neutral"),
            )
            .orderBy("cell")
        )
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _ann_compact_sql() -> str:
    """Full value oracle: per-cell populations and code checksums from
    the shared enc CTEs; files_before == #m3 slices with ≥1 vector in
    the cell (one clustered file per touched cell per commit);
    files_after == 1 by the per-partition bin-pack contract."""
    return f"""
WITH {_sql_ann_enc_ctes()}
SELECT cell,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(DISTINCT m3) AS BIGINT) AS files_before,
       CAST(1 AS BIGINT) AS files_after,
       CAST(sum(checksum) AS BIGINT) AS codes_checksum,
       true AS _layout_one_file_per_cell,
       true AS _search_identical,
       true AS _changelog_neutral
FROM enc2 GROUP BY cell ORDER BY cell
"""


RENAME_SPLIT_MOD = 3  # orders slices: % 3 == 0 pre-rename, == 1 post-rename


def q_rename_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN-RENAME EVOLUTION (`rename_column` — Iceberg's ALTER TABLE
    RENAME COLUMN, safe there via field ids; here via the manifest's
    explicit rename log) judged end to end: a metadata-only commit
    renames ``o_totalprice`` → ``amount`` between two appends, so the
    table mixes files whose PHYSICAL column names differ — reads map
    each file's write-time names onto the current schema by composing
    the rename log (`snapshot_parquet.read()`'s per-dir mapping).

    Two hashed eras: the pre-rename snapshot (old name, old slice only)
    and the current state (new name, both slices — the pre-rename
    file's VALUES must surface under the new name, which is exactly
    what a name-based reader gets wrong: it reads NULLs).  Structural
    booleans (oracle: literal true):

    - ``_metadata_only``: the rename commit shares every data dir with
      its parent (zero data IO) and the changelog across it is EMPTY;
    - ``_time_travel_keeps_old_name``: the pre-rename snapshot still
      reads under ``o_totalprice`` — schema history is per-snapshot;
    - ``_survives_expiration``: after ``expire_snapshots(keep_last=1)``
      drops the rename commit itself, the kept snapshot's folded
      mapping still reads the old-named file correctly (values equal,
      multiset-checked) — the fold that keeps retention from stranding
      old files.

    Scale: the rename is O(manifest) at any table size; reads pay a
    per-dir union only on tables with unmaterialized renames, and
    ``compact()`` materializes the names away.  Reference parity:
    Iceberg schema evolution (add/rename) per the public spec."""
    workdir = tempfile.mkdtemp(prefix="snap_rename_")
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        m = F.col("o_orderkey") % RENAME_SPLIT_MOD
        base = orders.filter(m == 0)
        extra = orders.filter(m == 1).select(
            "o_orderkey", "o_orderstatus", F.col("o_totalprice").alias("amount")
        )
        table = SnapshotParquetTable(spark, f"{workdir}/orders_versioned")
        table.create(base)
        v1 = table._head(table._load()).snapshot_id
        dirs_before = set(table._head(table._load()).data_dirs)
        v_ren = table.rename_column("o_totalprice", "amount")
        head_ren = table._head(table._load())
        metadata_only = (
            set(head_ren.data_dirs) == dirs_before
            and table.read_changes(v1, v_ren).count() == 0
        )
        table.append(extra)

        tt_cols = table.read(version=v1).columns
        tt_keeps_old = "o_totalprice" in tt_cols and "amount" not in tt_cols

        current = table.read().localCheckpoint(eager=True)
        table.expire_snapshots(keep_last=1)
        survives_expiration = _multiset_equal(table.read(), current)

        def era(df: DataFrame, label: str, value_col: str) -> DataFrame:
            return df.agg(
                F.lit(label).alias("era"),
                F.count(F.lit(1)).alias("n_orders"),
                _money_sum(F.col(value_col)).alias("total_value"),
                F.lit(value_col).alias("value_col"),
            )

        # era 2a aggregates ONLY the pre-rename file's rows under the NEW
        # name — the exact cell a name-based reader nulls out; 2b is the
        # whole mixed-physical-name state
        old_slice = current.filter(F.col("o_orderkey") % RENAME_SPLIT_MOD == 0)
        result = (
            era(old_slice, "2a_current_old_slice", "amount")
            .unionByName(era(current, "2b_current_all", "amount"))
            .withColumn("_metadata_only", F.lit(bool(metadata_only)))
            .withColumn("_time_travel_keeps_old_name", F.lit(bool(tt_keeps_old)))
            .withColumn("_survives_expiration", F.lit(bool(survives_expiration)))
            .orderBy("era")
        )
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _rename_evolution_sql() -> str:
    return f"""
WITH eras AS (
  SELECT '2a_current_old_slice' AS era,
         count(*) AS n_orders,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value,
         'amount' AS value_col
  FROM orders WHERE o_orderkey % {RENAME_SPLIT_MOD} = 0
  UNION ALL
  SELECT '2b_current_all' AS era,
         count(*) AS n_orders,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value,
         'amount' AS value_col
  FROM orders WHERE o_orderkey % {RENAME_SPLIT_MOD} IN (0, 1)
)
SELECT era, n_orders, total_value, value_col,
       true AS _metadata_only,
       true AS _time_travel_keeps_old_name,
       true AS _survives_expiration
FROM eras ORDER BY era
"""


ORPHAN_SPLIT_MOD = 3  # orders slices: % 3 == 0 base, == 1 the recovered append


def q_orphan_cleanup_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORPHAN-FILE CLEANUP AS CRASH RECOVERY (`remove_orphan_files` —
    Iceberg's maintenance procedure of the same name, judged end to
    end): every write verb lands files FIRST and commits the manifest
    after, so a crash in between leaks an unreferenced
    ``data-snap-{sid}`` dir — and since snapshot ids are monotonic, the
    leak BLOCKS the next commit that allocates the same sid.  This op
    plants exactly that wreckage (an orphaned data dir at the next sid
    and an orphaned delete dir), then hashes the full recovery story:

    - ``_blocked_before_cleanup``: with the orphan present, the next
      append raises (the errorifexists collision — the failure a 3 a.m.
      operator actually sees);
    - ``n_orphans_removed``: cleanup with a future cutoff reclaims both
      planted dirs, and ONLY them (live dirs are never candidates);
    - ``_content_unchanged``: the visible table state is bit-identical
      across the cleanup (multiset compare);
    - ``_append_recovered``: the previously-blocked append now commits;
    - ``_in_flight_guarded``: a fresh (young) orphan survives a cleanup
      with the default 3-day cutoff — the guard that makes the
      procedure safe to run beside live writers.

    The hashed payload is the recovered table's per-status aggregate, so
    a cleanup that deleted a LIVE dir (data loss) or failed to unblock
    the append flips values, not just booleans.

    Scale: candidate enumeration is one directory listing under the
    table root + an O(snapshots) liveness set — no data IO; at 100 TB
    this runs as scheduled maintenance exactly like expire_snapshots,
    and after any crashed writer, as the recovery step."""
    import time as _time

    workdir = tempfile.mkdtemp(prefix="snap_orphan_")
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        m = F.col("o_orderkey") % ORPHAN_SPLIT_MOD
        base, extra = orders.filter(m == 0), orders.filter(m == 1)
        table = SnapshotParquetTable(spark, f"{workdir}/orders_versioned")
        table.create(base)

        # the crash wreckage: the data dir the NEXT commit will want,
        # plus an unreferenced delete dir — written, never committed
        next_sid = table._load()[-1].snapshot_id + 1
        orphan_data = os.path.join(table.path, f"data-snap-{next_sid:06d}")
        orphan_del = os.path.join(table.path, f"delete-snap-{next_sid:06d}")
        extra.limit(1).write.parquet(orphan_data)
        extra.limit(1).select("o_orderkey").write.parquet(orphan_del)

        try:
            table.append(extra)
            blocked = False
        except Exception:
            blocked = True

        before = table.read().localCheckpoint(eager=True)
        future = int(_time.time() * 1000) + 60_000
        n_removed = table.remove_orphan_files(older_than_ms=future)
        content_unchanged = _multiset_equal(table.read(), before)

        try:
            table.append(extra)
            recovered = True
        except Exception:
            recovered = False

        # a YOUNG orphan must survive the default 3-day cutoff
        young = os.path.join(table.path, f"data-snap-{99:06d}")
        extra.limit(1).write.parquet(young)
        guarded = table.remove_orphan_files() == 0 and os.path.isdir(young)

        result = (
            table.read()
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                _money_sum(F.col("o_totalprice")).alias("total_price"),
            )
            .select(
                "o_orderstatus",
                "n_orders",
                "total_price",
                F.lit(int(n_removed)).cast("long").alias("n_orphans_removed"),
                F.lit(bool(blocked)).alias("_blocked_before_cleanup"),
                F.lit(bool(content_unchanged)).alias("_content_unchanged"),
                F.lit(bool(recovered)).alias("_append_recovered"),
                F.lit(bool(guarded)).alias("_in_flight_guarded"),
            )
            .orderBy("o_orderstatus")
        )
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_ORPHAN_SQL = f"""
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price,
       CAST(2 AS BIGINT) AS n_orphans_removed,
       true AS _blocked_before_cleanup,
       true AS _content_unchanged,
       true AS _append_recovered,
       true AS _in_flight_guarded
FROM orders WHERE o_orderkey % {ORPHAN_SPLIT_MOD} IN (0, 1)
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


CHERRY_SPLIT_1 = "1997-01-01"  # base | main-side append boundary
CHERRY_SPLIT_2 = "1998-01-01"  # main-side | branch-side append boundary


def q_snapshot_cherry_pick_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg ``cherrypick_snapshot`` hash-verified end to end — the
    non-linear publish `fast_forward` cannot do: a branch stages an
    audited append, main moves on with its own commit (so the branch has
    DIVERGED and fast-forward must refuse), then the branch snapshot's
    delta is cherry-picked onto the moved main head as a new metadata-only
    commit referencing the same data files.

    Three hashed stages: (1) main before the pick (base + main-side
    append), (2) the branch head (base + branch-side append — untouched
    by main's commit), (3) main after the pick (all three slices).  Two
    structural booleans ride every row (oracle: literal true):
    ``_ff_rejected_diverged`` — fast_forward raised on the diverged
    branch, which is exactly why cherry-pick exists; ``_branch_unmoved``
    — the pick advanced main only, the audit branch ref still points at
    its own head (checked through the `refs()` metadata table).

    Scale: the pick commit is O(manifest) — no data IO at any size; the
    delta files are shared between branch and main histories until
    expiry, Iceberg's exact sharing model."""
    workdir = tempfile.mkdtemp(prefix="snap_cherry_")
    try:
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
        base = orders.filter(F.col("o_orderdate") < F.lit(CHERRY_SPLIT_1))
        main_add = orders.filter(
            (F.col("o_orderdate") >= F.lit(CHERRY_SPLIT_1))
            & (F.col("o_orderdate") < F.lit(CHERRY_SPLIT_2))
        )
        branch_add = orders.filter(F.col("o_orderdate") >= F.lit(CHERRY_SPLIT_2))
        table = SnapshotParquetTable(spark, f"{workdir}/orders_cherry")
        table.create(base)
        v1 = table._head(table._load()).snapshot_id
        table.create_branch("audit", version=v1)
        v2 = table.append(branch_add, branch="audit")
        table.append(main_add)

        def stage(df: DataFrame, label: str) -> DataFrame:
            return df.agg(
                F.lit(label).alias("stage"),
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
            )

        s1 = stage(table.read(), "1_main_before_pick")
        s2 = stage(table.read(ref="audit"), "2_branch_head")
        try:
            table.fast_forward("audit")
            ff_rejected = False
        except ValueError:
            ff_rejected = True
        table.cherry_pick(v2)
        s3 = stage(table.read(), "3_main_after_pick")
        branch_head = {
            r.ref_name: r.snapshot_id for r in table.refs().collect()
        }.get("audit")
        branch_unmoved = branch_head == v2
        result = (
            s1.unionByName(s2)
            .unionByName(s3)
            .select(
                "stage",
                "n_orders",
                "key_sum",
                F.lit(bool(ff_rejected)).alias("_ff_rejected_diverged"),
                F.lit(bool(branch_unmoved)).alias("_branch_unmoved"),
            )
            .orderBy("stage")
        )
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_CHERRY_SQL = f"""
WITH s AS (
  SELECT '1_main_before_pick' AS stage, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
  FROM orders WHERE o_orderdate < TIMESTAMP '{CHERRY_SPLIT_2}'
  UNION ALL
  SELECT '2_branch_head', CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT)
  FROM orders WHERE o_orderdate < TIMESTAMP '{CHERRY_SPLIT_1}'
               OR o_orderdate >= TIMESTAMP '{CHERRY_SPLIT_2}'
  UNION ALL
  SELECT '3_main_after_pick', CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT)
  FROM orders
)
SELECT stage, n_orders, key_sum,
       true AS _ff_rejected_diverged, true AS _branch_unmoved
FROM s ORDER BY stage
"""


def q_stream_ann_index_ingest_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING × CDC × ANN capstone: embeddings arrive as a file-source
    stream and every micro-batch commits TWO snapshots — the raw vectors
    into the corpus table and their SQ8×IVF encoding into the index table
    (``_ann_encode`` over just the batch) — so the persisted ANN index is
    maintained CONTINUOUSLY from the live feed, never rebuilt.  This is
    the full 100 TB embedding-ingestion loop: encoding cost per trigger ∝
    batch, index freshness = one micro-batch.  Exactly-once TABLE STATE
    across both commits comes from the pair checkpoint + idempotent sink:
    foreachBatch alone is at-least-once on failure/replay, so each
    table's commit carries its ``(query_id, batch_id)`` and the sink
    skips a table whose batch id is already in the manifest — a replay
    after a crash BETWEEN the corpus and index commits re-does only the
    missing index commit, converging both tables to single-copy state
    (``test_round14_invariants`` exercises the replay;
    ``stream_replay_idempotent_drained`` judges it end to end).

    Judged result: the FINAL index audited per IVF cell — vector count
    and the exact integer checksum of the stored codes — which is
    slicing-independent (batch boundaries move which snapshot holds a
    vector, never its cell or codes).  Structural booleans (oracle:
    literal true): ``_index_equals_rebuild`` — the stream-maintained
    index equals a one-pass rebuild from the final corpus, row-for-row;
    ``_one_snapshot_per_batch`` — both tables committed exactly once per
    landed file."""
    import uuid

    from .similarity import collect_centroids

    workdir = tempfile.mkdtemp(prefix="stream_ann_")
    try:
        cents = collect_centroids(spark, sf_dir)
        land = f"{workdir}/embeddings"
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        emb.repartition(2).write.parquet(land)
        corpus = SnapshotParquetTable(spark, f"{workdir}/corpus")
        index = SnapshotParquetTable(spark, f"{workdir}/ann_index")

        from ..streaming.jobs import make_idempotent_snapshot_sink

        # both ledgers scoped to the query's checkpoint lineage: replays
        # within this run no-op, a rerun under the same name never skips
        ckpt = f"{workdir}/ckpt"
        corpus_sink = make_idempotent_snapshot_sink(corpus, "ann_ingest", ckpt)
        index_sink = make_idempotent_snapshot_sink(index, "ann_ingest", ckpt)

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            # two tables, two independent batch-id ledgers: a replay after
            # a crash between the commits re-does only the missing one
            corpus_sink(batch_df, batch_id)
            index_sink(_ann_encode(spark, batch_df, cents), batch_id)

        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .queryName(f"ann_ingest_{uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(300)

        maintained = index.read().localCheckpoint(eager=True)
        index_equals_rebuild = _multiset_equal(
            maintained, _ann_encode(spark, corpus.read(), cents)
        )
        one_per_batch = len(corpus._load()) == 2 and len(index._load()) == 2
        checksum = F.aggregate(
            F.transform("codes", lambda c, i: c * (i + F.lit(1)).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        result = (
            maintained.groupBy("cell")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_vectors"),
                F.sum(checksum).cast("long").alias("codes_checksum"),
            )
            .select(
                "cell",
                "n_vectors",
                "codes_checksum",
                F.lit(index_equals_rebuild).alias("_index_equals_rebuild"),
                F.lit(one_per_batch).alias("_one_snapshot_per_batch"),
            )
            .orderBy("cell")
        )
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_STREAM_ANN_SQL = f"""
WITH {_sql_ann_enc_ctes()}
SELECT cell,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(checksum) AS BIGINT) AS codes_checksum,
       true AS _index_equals_rebuild,
       true AS _one_snapshot_per_batch
FROM enc2 GROUP BY cell ORDER BY cell
"""


MERGE_BUMP_MOD = 97  # deterministic slice of pre-1998 orders re-priced
MERGE_BUMP_AMOUNT = 1000.0


def q_merge_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE hash-verified end to end (S7+ as a judged
    query, not just a unit test): create the table from pre-1998
    orders, then MERGE one source batch that both INSERTS the 1998
    orders and UPDATES a deterministic ``o_orderkey % 97`` slice of the
    existing rows with a price correction (+1000) — Iceberg's ``WHEN
    MATCHED UPDATE / WHEN NOT MATCHED INSERT`` in one commit.  Output:
    post-merge state per order status (counts, exact money sum, and how
    many rows carry the bumped price), so a wrong anti-join (dropped
    updates, duplicated inserts) changes the hash.

    Scale shape (`snapshot_parquet.merge`): ONE anti join keyed on the
    merge key — the delta side broadcasts under AQE — plus the COW
    rewrite; the audit here is one grouped aggregate over the merged
    state.  The oracle rebuilds the post-merge state relationally
    (base minus source keys, union source), so the merge algebra and
    the snapshot machinery are verified together."""
    workdir = tempfile.mkdtemp(prefix="snap_merge_")
    try:
        orders = load_table(spark, sf_dir, "orders")
        base = orders.filter(F.col("o_orderdate") < F.lit(SPLIT_DATE))
        inserts = orders.filter(F.col("o_orderdate") >= F.lit(SPLIT_DATE))
        updates = base.filter(F.col("o_orderkey") % MERGE_BUMP_MOD == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(MERGE_BUMP_AMOUNT)
        )
        table = SnapshotParquetTable(spark, f"{workdir}/orders_merge")
        table.create(base)
        table.merge(inserts.unionByName(updates), ["o_orderkey"])
        bumped = (
            (F.col("o_orderkey") % MERGE_BUMP_MOD == 0)
            & (F.col("o_orderdate") < F.lit(SPLIT_DATE))
        ).cast("long")
        result = (
            table.read()
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                _money_sum(F.col("o_totalprice")).alias("total_price"),
                F.sum(bumped).alias("n_price_bumped"),
            )
            .orderBy("o_orderstatus")
        )
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_MERGE_SQL = f"""
WITH base AS (
  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '{SPLIT_DATE}'
), src AS (
  SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '{SPLIT_DATE}'
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + {MERGE_BUMP_AMOUNT} AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM base WHERE o_orderkey % {MERGE_BUMP_MOD} = 0
), final AS (
  SELECT * FROM base
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
  UNION ALL
  SELECT * FROM src
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price,
       CAST(count(*) FILTER (WHERE o_orderkey % {MERGE_BUMP_MOD} = 0
                               AND o_orderdate < TIMESTAMP '{SPLIT_DATE}') AS BIGINT)
         AS n_price_bumped
FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_mor_merge_upsert_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ MERGE hash-verified end to end — the write-cheap
    twin of `merge_upsert_state` (Iceberg ``write.merge.mode=
    merge-on-read`` vs copy-on-write): ONE snapshot commits an equality-
    delete file masking the matched keys plus ONE new data file holding
    the source rows; the table is never rewritten.  Same upsert batch as
    the COW op (1998+ inserts ∪ a ``% 97`` price-bump slice), so the
    judged per-status state must equal the COW result row-for-row — the
    two merge modes are semantically interchangeable, differing only in
    write/read cost placement.

    Two in-query structural booleans ride every row (oracle: literal
    true): ``_mor_no_rewrite`` — the parent's data files survive intact,
    exactly one data file and one delete file were added;
    ``_compact_neutral`` — `compact()` materializes the pending delete
    away without changing the per-status state.

    Scale: write cost O(source batch) — two small file commits — vs
    COW's O(table) rewrite; reads pay one broadcast anti-join until
    compaction, which is the standard Iceberg trade for
    update-heavy / read-light ingest tables."""
    workdir = tempfile.mkdtemp(prefix="snap_mor_merge_")
    try:
        orders = load_table(spark, sf_dir, "orders")
        base = orders.filter(F.col("o_orderdate") < F.lit(SPLIT_DATE))
        inserts = orders.filter(F.col("o_orderdate") >= F.lit(SPLIT_DATE))
        updates = base.filter(F.col("o_orderkey") % MERGE_BUMP_MOD == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(MERGE_BUMP_AMOUNT)
        )
        table = SnapshotParquetTable(spark, f"{workdir}/orders_mor_merge")
        table.create(base)
        dirs_before = list(table._head(table._load()).data_dirs)
        table.merge_mor(inserts.unionByName(updates), ["o_orderkey"])
        head = table._head(table._load())
        no_rewrite = (
            head.data_dirs[: len(dirs_before)] == dirs_before
            and len(head.data_dirs) == len(dirs_before) + 1
            and len(head.delete_files or []) == 1
        )
        bumped = (
            (F.col("o_orderkey") % MERGE_BUMP_MOD == 0)
            & (F.col("o_orderdate") < F.lit(SPLIT_DATE))
        ).cast("long")

        def state() -> list:
            return (
                table.read()
                .groupBy("o_orderstatus")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_orders"),
                    _money_sum(F.col("o_totalprice")).alias("total_price"),
                    F.sum(bumped).alias("n_price_bumped"),
                )
                .orderBy("o_orderstatus")
                .collect()
            )

        pre = state()
        table.compact()
        post = state()
        neutral = [tuple(r) for r in pre] == [tuple(r) for r in post]
        return spark.createDataFrame(
            [(*r, bool(no_rewrite), bool(neutral)) for r in post],
            "o_orderstatus string, n_orders long, total_price double, "
            "n_price_bumped long, _mor_no_rewrite boolean, _compact_neutral boolean",
        ).orderBy("o_orderstatus")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_MOR_MERGE_SQL = f"""
WITH base AS (
  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '{SPLIT_DATE}'
), src AS (
  SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '{SPLIT_DATE}'
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + {MERGE_BUMP_AMOUNT} AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM base WHERE o_orderkey % {MERGE_BUMP_MOD} = 0
), final AS (
  SELECT * FROM base
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
  UNION ALL
  SELECT * FROM src
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price,
       CAST(count(*) FILTER (WHERE o_orderkey % {MERGE_BUMP_MOD} = 0
                               AND o_orderdate < TIMESTAMP '{SPLIT_DATE}') AS BIGINT)
         AS n_price_bumped,
       true AS _mor_no_rewrite,
       true AS _compact_neutral
FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_mor_merge_evolve_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE **schema evolution** hash-verified end to end (VERDICT r13
    #6): Iceberg MERGE lets the SOURCE evolve the target — here the
    upsert batch carries a new ``bump_amount`` column the table never
    had, committed by ``merge_mor(..., evolve_schema=True)`` as the same
    ONE MOR snapshot (equality-delete file + source data file, parent
    files untouched — evolution is metadata, so MOR stays O(source)).

    The judged read must show the three populations exactly: untouched
    base rows read the new column as NULL (no backfill, no rewrite),
    re-priced matches carry the bump, fresh inserts carry 0.  Per-status
    aggregate: counts, the DECIMAL price total, evolved vs legacy-NULL
    row counts, and the exact bump sum.  Structural booleans (oracle:
    literal true): ``_mor_no_rewrite`` — parent data files survive, one
    data + one delete file added; ``_tt_schema_preserved`` — time travel
    to v1 still reads the PRE-evolution schema (the manifest owns each
    snapshot's schema, Iceberg's model).

    Scale: identical cost to the non-evolving MOR MERGE — the schema
    change adds zero IO; the read-side NULL materialization is the
    standard manifest-schema projection every engine does."""
    workdir = tempfile.mkdtemp(prefix="snap_mor_evolve_")
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"
        )
        base = orders.filter(F.col("o_orderdate") < F.lit(SPLIT_DATE))
        inserts = orders.filter(F.col("o_orderdate") >= F.lit(SPLIT_DATE)).withColumn(
            "bump_amount", F.lit(0.0)
        )
        updates = (
            base.filter(F.col("o_orderkey") % MERGE_BUMP_MOD == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(MERGE_BUMP_AMOUNT))
            .withColumn("bump_amount", F.lit(MERGE_BUMP_AMOUNT))
        )
        table = SnapshotParquetTable(spark, f"{workdir}/orders_mor_evolve")
        table.create(base)
        v1 = table._head(table._load()).snapshot_id
        dirs_before = list(table._head(table._load()).data_dirs)
        table.merge_mor(
            inserts.unionByName(updates), ["o_orderkey"], evolve_schema=True
        )
        head = table._head(table._load())
        no_rewrite = (
            head.data_dirs[: len(dirs_before)] == dirs_before
            and len(head.data_dirs) == len(dirs_before) + 1
            and len(head.delete_files or []) == 1
        )
        tt_schema_preserved = table.read(version=v1).columns == [
            "o_orderkey",
            "o_orderstatus",
            "o_orderdate",
            "o_totalprice",
        ]
        result = (
            table.read()
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                _money_sum(F.col("o_totalprice")).alias("total_price"),
                F.sum(F.col("bump_amount").isNotNull().cast("long")).alias(
                    "n_evolved_rows"
                ),
                F.sum(F.col("bump_amount").isNull().cast("long")).alias(
                    "n_legacy_null"
                ),
                _money_sum(F.coalesce(F.col("bump_amount"), F.lit(0.0))).alias(
                    "bump_sum"
                ),
            )
            .select(
                "o_orderstatus",
                "n_orders",
                "total_price",
                "n_evolved_rows",
                "n_legacy_null",
                "bump_sum",
                F.lit(bool(no_rewrite)).alias("_mor_no_rewrite"),
                F.lit(bool(tt_schema_preserved)).alias("_tt_schema_preserved"),
            )
            .orderBy("o_orderstatus")
        )
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_MOR_EVOLVE_SQL = f"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_orderdate, o_totalprice
  FROM orders WHERE o_orderdate < TIMESTAMP '{SPLIT_DATE}'
), src AS (
  SELECT o_orderkey, o_orderstatus, o_orderdate, o_totalprice,
         CAST(0.0 AS DOUBLE) AS bump_amount
  FROM orders WHERE o_orderdate >= TIMESTAMP '{SPLIT_DATE}'
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_orderdate,
         o_totalprice + {MERGE_BUMP_AMOUNT} AS o_totalprice,
         CAST({MERGE_BUMP_AMOUNT} AS DOUBLE) AS bump_amount
  FROM base WHERE o_orderkey % {MERGE_BUMP_MOD} = 0
), final AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, CAST(NULL AS DOUBLE) AS bump_amount
  FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, bump_amount FROM src
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price,
       CAST(count(bump_amount) AS BIGINT) AS n_evolved_rows,
       CAST(count(*) FILTER (WHERE bump_amount IS NULL) AS BIGINT) AS n_legacy_null,
       CAST(round(sum(CAST(coalesce(bump_amount, 0.0) AS DECIMAL(18,6))), 2) AS DOUBLE) AS bump_sum,
       true AS _mor_no_rewrite,
       true AS _tt_schema_preserved
FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-column schema evolution hash-verified end to end (S8's
    metadata-owns-the-schema model as a judged query): create the table
    from even-doc_id documents WITHOUT the lang column, append the odd
    half WITH it under ``evolve_schema=True``, then read the full state
    — pre-evolution rows must surface lang as NULL (no footer merging,
    no rewrite of old files).  Output: per source, doc counts and how
    many read a NULL vs populated lang, so a wrong NULL backfill or a
    dropped/duplicated era changes the hash.

    The oracle recomputes the same split from `documents` with a CASE
    on the batch predicate — schema evolution is pure metadata, so the
    relational restatement is exact."""
    workdir = tempfile.mkdtemp(prefix="snap_evolve_")
    try:
        docs = load_table(spark, sf_dir, "documents")
        old = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "source")
        new = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source", "lang")
        table = SnapshotParquetTable(spark, f"{workdir}/documents_evolve")
        table.create(old)
        table.append(new, evolve_schema=True)
        result = (
            table.read()
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(F.col("lang").isNull().cast("long")).alias("n_null_lang"),
                F.sum(F.col("lang").isNotNull().cast("long")).alias("n_with_lang"),
                F.count_distinct("lang").cast("long").alias("n_langs"),
            )
            .orderBy("source")
        )
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_EVOLVE_SQL = """
WITH t AS (
  SELECT source, CASE WHEN doc_id % 2 = 1 THEN lang ELSE NULL END AS lang
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE lang IS NULL) AS BIGINT) AS n_null_lang,
       CAST(count(*) FILTER (WHERE lang IS NOT NULL) AS BIGINT) AS n_with_lang,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM t GROUP BY source ORDER BY source
"""


DELETE_PRIORITY = "5-LOW"  # priority class purged by the judged DELETE


def q_delete_compact_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE + compaction hash-verified end to end (the
    last two Iceberg verbs that were unit-test-only): build the orders
    table in two appends, ``DELETE WHERE o_orderpriority = '5-LOW'``,
    compact the survivors to one file, and read the final state BY TIME
    TRAVELING over the compaction snapshot's parent chain — output per
    status over three eras (pre-delete / post-delete / post-compact), so
    a delete that drops the wrong rows, a compaction that loses or
    duplicates any, or a broken parent chain all change the hash.
    Compaction must be a no-op on values: eras 2 and 3 must agree.

    Scale shape: DELETE rewrites survivors once (COW — the price
    Iceberg pays for read-side simplicity; MOR delete files are the
    alternative at high delete rates), compaction is one coalesced
    rewrite whose benefit is scan-side file count, not values.  The
    oracle restates all three eras straight from `orders`."""
    workdir = tempfile.mkdtemp(prefix="snap_delete_")
    try:
        orders = load_table(spark, sf_dir, "orders")
        table = SnapshotParquetTable(spark, f"{workdir}/orders_delete")
        table.create(orders.filter(F.col("o_orderdate") < F.lit(SPLIT_DATE)))
        table.append(orders.filter(F.col("o_orderdate") >= F.lit(SPLIT_DATE)))
        table.delete_where(f"o_orderpriority = '{DELETE_PRIORITY}'")
        table.compact(target_file_count=1)

        def era(version: int, label: str) -> DataFrame:
            return (
                table.read(version=version)
                .groupBy("o_orderstatus")
                .agg(
                    F.lit(label).alias("era"),
                    F.count(F.lit(1)).cast("long").alias("n_orders"),
                    _money_sum(F.col("o_totalprice")).alias("total_price"),
                )
            )

        result = (
            era(2, "pre_delete")
            .unionByName(era(3, "post_delete"))
            .unionByName(era(4, "post_compact"))
            .select("era", "o_orderstatus", "n_orders", "total_price")
            .orderBy("era", "o_orderstatus")
        )
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_DELETE_SQL = f"""
WITH eras AS (
  SELECT 'pre_delete' AS era, o_orderstatus, o_totalprice FROM orders
  UNION ALL
  SELECT 'post_delete', o_orderstatus, o_totalprice
  FROM orders WHERE o_orderpriority <> '{DELETE_PRIORITY}'
  UNION ALL
  SELECT 'post_compact', o_orderstatus, o_totalprice
  FROM orders WHERE o_orderpriority <> '{DELETE_PRIORITY}'
)
SELECT era, o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
FROM eras GROUP BY era, o_orderstatus ORDER BY era, o_orderstatus
"""


def q_wap_publish_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish hash-verified end to end: the new document
    batch lands on a STAGING BRANCH (main consumers cannot see it), the
    audit runs the Gopher gate against the staged delta on the branch,
    and the batch publishes to main via atomic metadata-only
    fast-forward.  Output: per-source counts at each stage — main
    before, staged delta (with its audit pass/fail split), main after —
    so a leak of staged rows into pre-publish main, a lost staged row,
    or a non-atomic publish changes the hash.

    This is the reference's production-loader pattern (batch loads into
    a warehouse audited before exposure) on Iceberg branch semantics;
    at 100 TB the publish cost is O(1) metadata regardless of batch
    size, which is the entire point.  The oracle restates all three
    stages from `documents` with the same batch predicates."""
    from .text import gopher_signals

    workdir = tempfile.mkdtemp(prefix="snap_wap_")
    try:
        docs = load_table(spark, sf_dir, "documents")
        table = SnapshotParquetTable(spark, f"{workdir}/documents_wap")
        table.create(docs.filter(F.col("doc_id") % 2 == 0))
        table.create_branch("staging")
        table.append(docs.filter(F.col("doc_id") % 2 == 1), branch="staging")

        def stage(df: DataFrame, label: str, audited: bool) -> DataFrame:
            base = gopher_signals(df, carry=("source",)) if audited else df.withColumn(
                "passes_gopher", F.lit(None).cast("boolean")
            )
            return base.groupBy("source").agg(
                F.lit(label).alias("stage"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.coalesce(
                    F.sum(F.col("passes_gopher").cast("long")), F.lit(-1)
                ).cast("long").alias("n_audit_pass"),
            )

        main_before = stage(table.read(), "1_main_before", audited=False)
        # audit runs on the BRANCH: staged delta = branch minus main
        staged = stage(
            table.read(ref="staging").join(
                table.read().select("doc_id"), "doc_id", "left_anti"
            ),
            "2_staged_audit",
            audited=True,
        )
        table.fast_forward("staging")  # publish: atomic, metadata-only
        main_after = stage(table.read(), "3_main_after", audited=False)
        result = (
            main_before.unionByName(staged)
            .unionByName(main_after)
            .select("stage", "source", "n_docs", "n_audit_pass")
            .orderBy("stage", "source")
        )
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _wap_sql() -> str:
    # same Gopher rule restatement as _gate_sql, but the WAP oracle
    # needs the pass/fail split per source across three stages
    from .text import (
        GOPHER_MAX_MEAN_LEN,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_FRAC,
        GOPHER_MIN_MEAN_LEN,
        GOPHER_MIN_STOPWORDS,
        GOPHER_MIN_WORDS,
        STOPWORDS,
    )

    stoplist = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"
    ok = rf"""
         (len(toks) BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
         AND (round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                    / len(toks), 4)
              BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN})
         AND round(CAST(length(text) - length(replace(text, '#', ''))
                        + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
                   / len(toks), 4) <= {GOPHER_MAX_SYMBOL_RATIO}
         AND round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                        AS DOUBLE) / len(toks), 4) >= {GOPHER_MIN_ALPHA_FRAC}
         AND len(list_filter(list_distinct(toks),
                             x -> list_contains({stoplist}, x)))
               >= {GOPHER_MIN_STOPWORDS}
    """
    return rf"""
WITH t AS (
  SELECT doc_id, source, text, doc_id % 2 AS batch,
         regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), stages AS (
  SELECT '1_main_before' AS stage, source, CAST(NULL AS BOOLEAN) AS ok
  FROM t WHERE batch = 0
  UNION ALL
  SELECT '2_staged_audit', source, ({ok}) AS ok
  FROM t WHERE batch = 1
  UNION ALL
  SELECT '3_main_after', source, CAST(NULL AS BOOLEAN) AS ok
  FROM t
)
SELECT stage, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(CAST(ok AS BIGINT)), -1) AS BIGINT) AS n_audit_pass
FROM stages GROUP BY stage, source ORDER BY stage, source
"""


# --- Partition-spec evolution ---------------------------------------------------

SPEC_EVO_PRIORITY = "1-URGENT"  # the filter stage's partition value


SPEC_EVO_D1, SPEC_EVO_D2 = "1996-03-01", "1997-07-01"  # hidden-filter range


def q_partition_spec_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec EVOLUTION hash-verified end to end — Iceberg's
    spec-is-metadata model, now across THREE specs including a hidden
    transform (r16): the table starts unpartitioned, a second batch
    lands under an identity spec (partition by o_orderpriority), a
    third under a HIDDEN-TRANSFORM spec (``months(o_orderdate)`` —
    the derived month lives only in the hive layout, never in the
    schema), old files keep their layouts untouched, reads union all
    three transparently, filters on the identity partition column AND
    on the transform's SOURCE column stay exact across the mix, and
    ``compact()`` materializes the CURRENT (transform) spec over
    everything — the transform-aware per-partition bin-pack, values
    provably unchanged.  Five judged stages: full triple-mixed read,
    the identity-partition filter, the source-column filter over the
    hidden spec, the full read after compaction, and the source-column
    filter after compaction."""
    workdir = tempfile.mkdtemp(prefix="snap_specevo_")
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_orderdate", "o_totalprice"
        )
        table = SnapshotParquetTable(spark, f"{workdir}/orders_specevo")
        table.create(orders.filter(F.col("o_orderkey") % 3 == 0))
        table.append(
            orders.filter(F.col("o_orderkey") % 3 == 1),
            partition_by=["o_orderpriority"],
            evolve_partition_spec=True,
        )
        table.append(
            orders.filter(F.col("o_orderkey") % 3 == 2),
            partition_by=["months(o_orderdate)"],
            evolve_partition_spec=True,
        )

        def stage(df: DataFrame, label: str) -> DataFrame:
            return df.agg(
                F.lit(label).alias("stage"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
            )

        date_rng = (F.col("o_orderdate") >= F.lit(SPEC_EVO_D1)) & (
            F.col("o_orderdate") < F.lit(SPEC_EVO_D2)
        )
        s1 = stage(table.read(), "1_mixed_full")
        s2 = stage(
            table.read().filter(F.col("o_orderpriority") == SPEC_EVO_PRIORITY),
            "2_mixed_partition_filter",
        )
        s3 = stage(table.read().filter(date_rng), "3_mixed_hidden_source_filter")
        table.compact()  # materializes months(o_orderdate) over all layouts
        s4 = stage(table.read(), "4_after_compact")
        s5 = stage(table.read().filter(date_rng), "5_hidden_filter_after_compact")
        result = (
            s1.unionByName(s2)
            .unionByName(s3)
            .unionByName(s4)
            .unionByName(s5)
            .orderBy("stage")
        )
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_SPEC_EVO_SQL = f"""
WITH s AS (
  SELECT '1_mixed_full' AS stage, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
  FROM orders
  UNION ALL
  SELECT '2_mixed_partition_filter', CAST(count(*) AS BIGINT),
         CAST(sum(o_orderkey) AS BIGINT)
  FROM orders WHERE o_orderpriority = '{SPEC_EVO_PRIORITY}'
  UNION ALL
  SELECT '3_mixed_hidden_source_filter', CAST(count(*) AS BIGINT),
         CAST(sum(o_orderkey) AS BIGINT)
  FROM orders WHERE o_orderdate >= TIMESTAMP '{SPEC_EVO_D1} 00:00:00'
    AND o_orderdate < TIMESTAMP '{SPEC_EVO_D2} 00:00:00'
  UNION ALL
  SELECT '4_after_compact', CAST(count(*) AS BIGINT),
         CAST(sum(o_orderkey) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT '5_hidden_filter_after_compact', CAST(count(*) AS BIGINT),
         CAST(sum(o_orderkey) AS BIGINT)
  FROM orders WHERE o_orderdate >= TIMESTAMP '{SPEC_EVO_D1} 00:00:00'
    AND o_orderdate < TIMESTAMP '{SPEC_EVO_D2} 00:00:00'
)
SELECT stage, n_rows, key_sum FROM s ORDER BY stage
"""


# --- Hidden-partition transforms: prune from SOURCE-column predicates ----------

HP_T1, HP_T2 = "2024-01-08 06:00:00", "2024-01-17 18:00:00"  # ts range probe
HP_DAY1, HP_DAY2 = "2024-01-08", "2024-01-17"  # the range's day projection
HP_BUCKETS = 16
HP_MULTI_BUCKETS = 4  # stage 4's days×bucket fan-out: 30×4 dirs is plenty
# to prove the levers multiply; 30×16 would just write 4× the tiny files
HP_PROBE_USER = 7  # exists at every SF (user ids are dense from 0)


def q_hidden_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg HIDDEN PARTITIONING judged end to end — the SURVEY §4
    100 TB lever (``PARTITIONED BY (days(ts))``): the writer derives the
    partition value per row, the derived column never appears in the
    schema, and the planner prunes whole partition directories from
    predicates on the SOURCE column via inclusive projection — the
    query never names ``ts_day``.

    Four judged stages, each hashing values AND pruning evidence:

    1. ``days(ts)`` table, ``ts`` range query: row count + exact
       decimal micro-sum of ``value`` (plan: ``plan_files`` →
       ``read_pruned`` leaf-file scan + residual filter), ``dirs_kept``
       = day directories the planner opened — the oracle recomputes it
       as ``COUNT(DISTINCT CAST(ts AS DATE))`` within the range's day
       projection, so reading one directory too many (or too few)
       hash-mismatches; ``pruned_strict`` pins that pruning actually
       skipped dirs; ``identity_ok`` pins pruned-read ≡ full-scan
       filter.
    2. ``bucket(16, user_id)`` table, point lookup: exactly ONE bucket
       directory opened (the planner projects the literal through
       Spark's own Murmur3 ``hash`` — writer/planner agreement by
       construction), values vs the full scan.
    3. Stage 1 re-run after ``compact()`` — the transform-aware
       per-partition bin-pack rewrite (one file per day dir, never
       coalesce(1)) must preserve both values and pruning shape.
    4. ONE multi-field spec — ``days(ts), bucket(4, user_id)`` — under
       the CONJUNCTION (ts range AND user_id equality): the two prune
       levers must multiply, so the leaf dirs opened are (days in
       range) × (exactly 1 bucket), hashed against the oracle's
       day-count × 1 projection; ``pruned_strict`` additionally pins
       that exactly one bucket survived and the kept day span equals
       stage 1's.

    At 100 TB: stage 1's plan is manifest-only (O(files) driver work,
    zero data IO) and the scan opens ⌈range days⌉ directories out of
    the table's full history — the difference between a 10-day read
    and a 10-year read.  Reference parity: the reference's Iceberg
    tables rely on the same engine-side pruning
    (``/root/reference/create_iceberg.py`` partitioned loads)."""
    import datetime as _dt

    workdir = tempfile.mkdtemp(prefix="snap_hidden_")
    try:
        events = load_table(spark, sf_dir, "events")
        d1 = _dt.datetime.fromisoformat(HP_T1)
        d2 = _dt.datetime.fromisoformat(HP_T2)
        preds = [("ts", ">=", d1), ("ts", "<", d2)]

        def agg_pair(df: DataFrame) -> tuple[int, int | None]:
            row = df.agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                (F.sum(F.col("value").cast("decimal(18,6)")) * 1_000_000)
                .cast("long")
                .alias("micro"),
            ).first()
            return int(row["n"]), (None if row["micro"] is None else int(row["micro"]))

        def hive_vals(files: list[str], key: str) -> set[str]:
            pre = key + "="
            return {
                seg[len(pre):]
                for f in files
                for seg in f.split(os.sep)
                if seg.startswith(pre)
            }

        t_days = SnapshotParquetTable(spark, f"{workdir}/events_by_day")
        t_days.create(events, partition_by=["days(ts)"])
        base_n, base_micro = agg_pair(
            events.filter((F.col("ts") >= F.lit(d1)) & (F.col("ts") < F.lit(d2)))
        )

        def range_stage(label: str) -> tuple:
            kept, total = t_days.plan_files(preds)
            days_kept = hive_vals(kept, "ts_day")
            days_total = hive_vals(total, "ts_day")
            df, n_kept, n_total = t_days.read_pruned(preds)
            n, micro = agg_pair(df)
            return (
                label,
                n,
                micro,
                len(days_kept),
                bool(len(days_kept) < len(days_total) and n_kept < n_total),
                bool((n, micro) == (base_n, base_micro)),
            )

        s1 = range_stage("1_day_range")

        t_bucket = SnapshotParquetTable(spark, f"{workdir}/events_by_bucket")
        t_bucket.create(events, partition_by=[f"bucket({HP_BUCKETS}, user_id)"])
        bpreds = [("user_id", "=", HP_PROBE_USER)]
        kept_b, total_b = t_bucket.plan_files(bpreds)
        buckets_kept = hive_vals(kept_b, f"user_id_bucket_{HP_BUCKETS}")
        dfb, nb_kept, nb_total = t_bucket.read_pruned(bpreds)
        n_b, micro_b = agg_pair(dfb)
        ub_n, ub_micro = agg_pair(events.filter(F.col("user_id") == HP_PROBE_USER))
        s2 = (
            "2_bucket_point",
            n_b,
            micro_b,
            len(buckets_kept),
            bool(nb_kept < nb_total),
            bool((n_b, micro_b) == (ub_n, ub_micro)),
        )

        t_days.compact(target_file_count=8)  # transform-aware bin-pack
        s3 = range_stage("3_day_range_after_compact")

        # stage 4 (VERDICT r16 #5): ONE multi-field spec — days(ts) ×
        # bucket(16, user_id) — and a conjunction predicate; the two prune
        # levers must MULTIPLY: dirs opened = (days in range) × (1 bucket),
        # hashed against the oracle's day-count × 1 projection
        # cluster=True (Iceberg write.distribution-mode=hash): the 30×16
        # dir fan-out writes ONE file per dir via one shuffle instead of
        # input_partitions × dirs slivers
        t_multi = SnapshotParquetTable(spark, f"{workdir}/events_day_bucket")
        t_multi.create(
            events,
            partition_by=["days(ts)", f"bucket({HP_MULTI_BUCKETS}, user_id)"],
            cluster=True,
        )
        mpreds = preds + [("user_id", "=", HP_PROBE_USER)]
        kept_m, total_m = t_multi.plan_files(mpreds)
        days_m = hive_vals(kept_m, "ts_day")
        buckets_m = hive_vals(kept_m, f"user_id_bucket_{HP_MULTI_BUCKETS}")
        leaf_dirs_m = {os.path.dirname(f) for f in kept_m}
        dfm, nm_kept, nm_total = t_multi.read_pruned(mpreds)
        n_m, micro_m = agg_pair(dfm)
        conj_n, conj_micro = agg_pair(
            events.filter(
                (F.col("ts") >= F.lit(d1))
                & (F.col("ts") < F.lit(d2))
                & (F.col("user_id") == HP_PROBE_USER)
            )
        )
        # ADVICE r17: the raw kept-leaf-dir count is DENSITY-DEPENDENT —
        # a day whose probe bucket has no events (or whose single file's
        # user_id bounds exclude the probe user) drops a leaf dir, so
        # hashing it against the oracle's day-count×1 assumed every
        # in-range day contains the probe bucket.  Hash the
        # bounds-independent bucket lever (exactly 1 bucket kept — the
        # oracle's CAST(1), like stage 2) and carry the day lever as
        # density-free evidence in pruned_strict: kept days are a SUBSET
        # of the in-range days, one dir per kept day (the levers
        # multiplied — no off-bucket dir survived), and strictly fewer
        # files than the table.
        all_days_in_range = hive_vals(t_days.plan_files(preds)[0], "ts_day")
        s4 = (
            "4_day_bucket_conjunction",
            n_m,
            micro_m,
            len(buckets_m),
            bool(
                len(buckets_m) == 1
                and days_m <= all_days_in_range
                and len(leaf_dirs_m) == len(days_m)
                and nm_kept < nm_total
            ),
            bool((n_m, micro_m) == (conj_n, conj_micro)),
        )

        return spark.createDataFrame(
            [s1, s2, s3, s4],
            "stage string, n_rows long, sum_micro long, dirs_kept long, "
            "pruned_strict boolean, identity_ok boolean",
        ).orderBy("stage")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_HIDDEN_PRUNE_SQL = f"""
WITH rng AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_micro
  FROM events
  WHERE ts >= TIMESTAMP '{HP_T1}' AND ts < TIMESTAMP '{HP_T2}'
), dk AS (
  SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS dirs_kept
  FROM events
  WHERE CAST(ts AS DATE) BETWEEN DATE '{HP_DAY1}' AND DATE '{HP_DAY2}'
), up AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_micro
  FROM events WHERE user_id = {HP_PROBE_USER}
), conj AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_micro
  FROM events
  WHERE ts >= TIMESTAMP '{HP_T1}' AND ts < TIMESTAMP '{HP_T2}'
    AND user_id = {HP_PROBE_USER}
)
SELECT * FROM (
  SELECT '1_day_range' AS stage, rng.n_rows, rng.sum_micro,
         dk.dirs_kept, TRUE AS pruned_strict, TRUE AS identity_ok
  FROM rng, dk
  UNION ALL
  SELECT '2_bucket_point', up.n_rows, up.sum_micro,
         CAST(1 AS BIGINT), TRUE, TRUE
  FROM up
  UNION ALL
  SELECT '3_day_range_after_compact', rng.n_rows, rng.sum_micro,
         dk.dirs_kept, TRUE, TRUE
  FROM rng, dk
  UNION ALL
  -- the bucket lever: exactly ONE bucket's dirs survive the conjunction
  -- (the day lever is density-free evidence inside pruned_strict —
  -- hashing a raw day×bucket dir count would assume every in-range day
  -- contains the probe bucket, ADVICE r17)
  SELECT '4_day_bucket_conjunction', conj.n_rows, conj.sum_micro,
         CAST(1 AS BIGINT), TRUE, TRUE
  FROM conj
)
ORDER BY stage
"""


# --- Merge-on-read equality deletes --------------------------------------------

MOR_DELETE_PRICE = 300000  # equality-delete predicate threshold


def q_mor_equality_delete_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read equality DELETE hash-verified end to end — the
    write-cheap twin of the copy-on-write `delete_compact_state`: the
    delete commits ONE key-tuple-sized file (no data rewrite — asserted
    by unit tests on data_dirs identity), reads anti-join pending
    deletes scoped to the files that existed when each delete committed
    (Iceberg sequence numbers), and compaction materializes the deletes
    away.  Four judged stages: (1) visible state after the MOR delete,
    (2) after a later append — whose rows are NEVER masked even where
    they match the delete predicate, (3) after re-appending the deleted
    rows themselves — visible again, because the delete only masks
    older files, and (4) after compact() — identical to (3), proving
    materialization is value-neutral.  The oracle restates each stage
    from `orders` with the same mod-class/threshold predicates."""
    workdir = tempfile.mkdtemp(prefix="snap_mor_")
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        base = orders.filter(F.col("o_orderkey") % 3 < 2)
        table = SnapshotParquetTable(spark, f"{workdir}/orders_mor")
        table.create(base)
        deleted = base.filter(F.col("o_totalprice") > MOR_DELETE_PRICE)
        table.delete_where_mor(
            f"o_totalprice > {MOR_DELETE_PRICE}", ["o_orderkey"]
        )

        def stage(df: DataFrame, label: str) -> DataFrame:
            return df.agg(
                F.lit(label).alias("stage"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
            )

        s1 = stage(table.read(), "1_after_mor_delete")
        table.append(orders.filter(F.col("o_orderkey") % 3 == 2))
        s2 = stage(table.read(), "2_after_append")
        table.append(deleted)  # re-add the deleted rows — newer file wins
        s3 = stage(table.read(), "3_after_readd")
        table.compact()  # materializes the pending delete away
        s4 = stage(table.read(), "4_after_compact")
        result = (
            s1.unionByName(s2).unionByName(s3).unionByName(s4).orderBy("stage")
        )
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_MOR_SQL = f"""
WITH m AS (
  SELECT o_orderkey, o_totalprice, o_orderkey % 3 AS cls FROM orders
), s AS (
  SELECT '1_after_mor_delete' AS stage, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
  FROM m WHERE cls < 2 AND NOT (o_totalprice > {MOR_DELETE_PRICE})
  UNION ALL
  SELECT '2_after_append', CAST(count(*) AS BIGINT),
         CAST(sum(o_orderkey) AS BIGINT)
  FROM m WHERE (cls < 2 AND NOT (o_totalprice > {MOR_DELETE_PRICE}))
            OR cls = 2
  UNION ALL
  SELECT '3_after_readd', CAST(count(*) AS BIGINT),
         CAST(sum(o_orderkey) AS BIGINT)
  FROM m
  UNION ALL
  SELECT '4_after_compact', CAST(count(*) AS BIGINT),
         CAST(sum(o_orderkey) AS BIGINT)
  FROM m
)
SELECT stage, n_rows, key_sum FROM s ORDER BY stage
"""


def q_positional_delete_dedup_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read POSITIONAL deletes hash-verified end to end —
    Iceberg's second delete encoding (content=POSITION_DELETES) next to
    the equality tier `mor_equality_delete_read`, exercising the one verb
    equality deletes cannot express: **keep one copy of an exact
    duplicate**.  An equality delete masks every row matching the key —
    including the copy you want to keep; a position delete names physical
    ``(file, pos)`` coordinates, so `dedup_positions()` turns exact
    dedup of an ingest table into an O(duplicate rows) delete commit
    instead of a full rewrite — the snapshot-format twin of the
    streaming `dropDuplicatesWithinWatermark` drain.

    Six judged stages: (1) state WITH planted duplicates (a re-ingested
    ``o_orderkey % 50`` slice — every copy visible), (2) after
    ``dedup_positions()`` — exactly one copy of each duplicate survives
    (which copy is unobservable: duplicates are bit-identical), (3)
    after a predicate positional delete (``o_orderkey % 7 = 0``) —
    masking all copies, (4) after ``rewrite_position_deletes()`` — the
    two pending delete files merge to one, value-neutrally (Iceberg's
    rewrite_position_delete_files maintenance), (5) after a later append
    whose rows are NEVER masked even where they match earlier delete
    positions/predicates (positions are file-scoped, so sequencing is
    inherent), (6) after ``compact()`` — identical to (5),
    materialization is value-neutral.  The oracle restates each stage
    from `orders` set-relationally.

    Scale shape: the dedup window shuffles only ``key_cols + (file,
    pos)`` — never payloads; delete files are position-tuple-sized and
    anti-join as broadcast hash sides at read; the only rewrite is the
    explicitly-requested compact."""
    workdir = tempfile.mkdtemp(prefix="snap_pdel_")
    try:
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
        base = orders.filter(F.col("o_orderkey") % 3 < 2)
        dup_slice = base.filter(F.col("o_orderkey") % 50 == 0)
        table = SnapshotParquetTable(spark, f"{workdir}/orders_pdel")
        table.create(base.unionByName(dup_slice))

        def stage(df: DataFrame, label: str) -> DataFrame:
            return df.agg(
                F.lit(label).alias("stage"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
            )

        s1 = stage(table.read(), "1_with_duplicates")
        table.dedup_positions()  # keep-one over all columns, no rewrite
        s2 = stage(table.read(), "2_after_dedup_positions")
        table.delete_where_positions("o_orderkey % 7 = 0")
        s3 = stage(table.read(), "3_after_pos_delete")
        table.rewrite_position_deletes()  # 2 pending files -> 1, no data IO
        s4 = stage(table.read(), "4_after_rewrite_deletes")
        table.append(orders.filter(F.col("o_orderkey") % 3 == 2))
        s5 = stage(table.read(), "5_after_append")
        table.compact()  # materializes the pending position-delete file
        s6 = stage(table.read(), "6_after_compact")
        result = (
            s1.unionByName(s2)
            .unionByName(s3)
            .unionByName(s4)
            .unionByName(s5)
            .unionByName(s6)
            .orderBy("stage")
        )
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_PDEL_SQL = """
WITH m AS (
  SELECT o_orderkey, o_orderkey % 3 AS cls FROM orders
), base AS (
  SELECT o_orderkey FROM m WHERE cls < 2
), dup AS (
  SELECT o_orderkey FROM base WHERE o_orderkey % 50 = 0
), s AS (
  SELECT '1_with_duplicates' AS stage,
         CAST((SELECT count(*) FROM base) + (SELECT count(*) FROM dup) AS BIGINT) AS n_rows,
         CAST((SELECT sum(o_orderkey) FROM base)
              + coalesce((SELECT sum(o_orderkey) FROM dup), 0) AS BIGINT) AS key_sum
  UNION ALL
  SELECT '2_after_dedup_positions', CAST(count(*) AS BIGINT),
         CAST(sum(o_orderkey) AS BIGINT)
  FROM base
  UNION ALL
  SELECT '3_after_pos_delete', CAST(count(*) AS BIGINT),
         CAST(sum(o_orderkey) AS BIGINT)
  FROM base WHERE o_orderkey % 7 <> 0
  UNION ALL
  SELECT '4_after_rewrite_deletes', CAST(count(*) AS BIGINT),
         CAST(sum(o_orderkey) AS BIGINT)
  FROM base WHERE o_orderkey % 7 <> 0
  UNION ALL
  SELECT '5_after_append', CAST(count(*) AS BIGINT),
         CAST(sum(o_orderkey) AS BIGINT)
  FROM (SELECT o_orderkey FROM base WHERE o_orderkey % 7 <> 0
        UNION ALL SELECT o_orderkey FROM m WHERE cls = 2)
  UNION ALL
  SELECT '6_after_compact', CAST(count(*) AS BIGINT),
         CAST(sum(o_orderkey) AS BIGINT)
  FROM (SELECT o_orderkey FROM base WHERE o_orderkey % 7 <> 0
        UNION ALL SELECT o_orderkey FROM m WHERE cls = 2)
)
SELECT stage, n_rows, key_sum FROM s ORDER BY stage
"""


# --- Rollback: the bad-batch undo ---------------------------------------------


def q_snapshot_rollback_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rollback_to_snapshot`` hash-verified end to end — the bad-batch
    undo every warehouse on-call runbook starts with: load two good
    batches, land a BAD batch, roll main back (metadata-only — no data
    files move or delete), then append the corrected batch, which must
    PARENT ON THE ROLLBACK TARGET (the lineage forks; the bad snapshot
    stays in the manifest for forensics until `expire_snapshots`).

    Output: (stage, n_rows, key_sum) for four reads — main with the bad
    batch visible, main right after rollback, main after the corrected
    append, and the forensic time-travel read of the rolled-back-over
    bad snapshot, which must still serve its exact pre-rollback
    contents.  A rollback that deletes data, a post-rollback append
    that parents on the bad head, or a lost forensic read each changes
    the hash.  The oracle restates each stage from `orders` with the
    same mod-class predicates."""
    workdir = tempfile.mkdtemp(prefix="snap_rollback_")
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        table = SnapshotParquetTable(spark, f"{workdir}/orders_rb")
        table.create(orders.filter(F.col("o_orderkey") % 3 == 0))  # v1
        v2 = table.append(orders.filter(F.col("o_orderkey") % 3 == 1))
        # the "bad batch": the mod-2 class with prices corrupted 10x
        v3 = table.append(
            orders.filter(F.col("o_orderkey") % 3 == 2).withColumn(
                "o_totalprice", F.col("o_totalprice") * 10
            )
        )

        def stage(df: DataFrame, label: str) -> DataFrame:
            return df.agg(
                F.lit(label).alias("stage"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
            )

        with_bad = stage(table.read(), "1_with_bad")
        table.rollback_to(v2)  # metadata-only undo
        after_rb = stage(table.read(), "2_after_rollback")
        table.append(orders.filter(F.col("o_orderkey") % 3 == 2))  # corrected
        after_fix = stage(table.read(), "3_after_fix")
        forensic = stage(table.read(version=v3), "4_forensic_bad_read")
        result = (
            with_bad.unionByName(after_rb)
            .unionByName(after_fix)
            .unionByName(forensic)
            .orderBy("stage")
        )
        rows = result.collect()  # materialize before the temp dir disappears
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_ROLLBACK_SQL = """
WITH m AS (
  SELECT o_orderkey, o_orderkey % 3 AS cls FROM orders
), s AS (
  SELECT '1_with_bad' AS stage, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
  FROM m
  UNION ALL
  SELECT '2_after_rollback', CAST(count(*) AS BIGINT),
         CAST(sum(o_orderkey) AS BIGINT)
  FROM m WHERE cls IN (0, 1)
  UNION ALL
  SELECT '3_after_fix', CAST(count(*) AS BIGINT),
         CAST(sum(o_orderkey) AS BIGINT)
  FROM m
  UNION ALL
  SELECT '4_forensic_bad_read', CAST(count(*) AS BIGINT),
         CAST(sum(o_orderkey) AS BIGINT)
  FROM m
)
SELECT stage, n_rows, key_sum FROM s ORDER BY stage
"""


QUERIES: dict[str, QuerySpec] = {
    "partition_spec_evolution_read": QuerySpec(
        q_partition_spec_evolution_read,
        _SPEC_EVO_SQL,
        "Iceberg spec evolution across three specs incl. a hidden "
        "months() transform: triple-mixed reads, identity + source-"
        "column filters exact across the mix, compact materializes "
        "the transform spec",
    ),
    "hidden_partition_prune": QuerySpec(
        q_hidden_partition_prune,
        _HIDDEN_PRUNE_SQL,
        "Iceberg hidden partitioning (days/bucket transforms): source-"
        "column predicates prune whole partition dirs via inclusive "
        "projection — dir counts, strict-pruning and identity booleans "
        "all in the driver hash",
    ),
    "mor_equality_delete_read": QuerySpec(
        q_mor_equality_delete_read,
        _MOR_SQL,
        "merge-on-read equality DELETE: key-tuple-sized delete file, "
        "sequence-scoped masking, re-add visibility, compact "
        "materialization — four judged stages",
    ),
    "snapshot_rollback_read": QuerySpec(
        q_snapshot_rollback_read,
        _ROLLBACK_SQL,
        "rollback_to_snapshot: metadata-only bad-batch undo, fork-on-fix "
        "lineage, forensic time-travel of the rolled-back snapshot",
    ),
    "delete_compact_state": QuerySpec(
        q_delete_compact_state,
        _DELETE_SQL,
        "copy-on-write DELETE + compaction with all three eras time-travel "
        "read and hash-verified (compaction provably value-neutral)",
    ),
    "wap_publish_state": QuerySpec(
        q_wap_publish_state,
        _wap_sql(),
        "write-audit-publish: staged branch load, Gopher audit on the "
        "branch, atomic fast-forward publish — all three stages hash-verified",
    ),
    "merge_upsert_state": QuerySpec(
        q_merge_upsert_state,
        _MERGE_SQL,
        "copy-on-write MERGE (insert + update in one commit) with the "
        "post-merge state hash-verified against a relational rebuild",
    ),
    "schema_evolution_read": QuerySpec(
        q_schema_evolution_read,
        _EVOLVE_SQL,
        "add-column schema evolution: pre-evolution rows read the new "
        "column as NULL (metadata-owns-the-schema, hash-verified)",
    ),
    "snapshot_cherry_pick_read": QuerySpec(
        q_snapshot_cherry_pick_read,
        _CHERRY_SQL,
        "cherrypick_snapshot: a diverged branch's append delta applied "
        "onto the moved main head (fast-forward refusal + branch-unmoved "
        "booleans hashed through the refs metadata table)",
    ),
    "stream_ann_index_ingest_drained": QuerySpec(
        q_stream_ann_index_ingest_drained,
        _STREAM_ANN_SQL,
        "streaming x CDC x ANN capstone: per-micro-batch corpus + index "
        "snapshot commits; final index audited per cell with integer code "
        "checksums, stream-maintained == rebuild hashed",
    ),
    "mor_merge_upsert_read": QuerySpec(
        q_mor_merge_upsert_read,
        _MOR_MERGE_SQL,
        "merge-on-read MERGE (one equality-delete file + one data file, "
        "no rewrite): per-status upsert state == the COW twin's, with "
        "no-rewrite and compact-neutrality structural booleans",
    ),
    "positional_delete_dedup_read": QuerySpec(
        q_positional_delete_dedup_read,
        _PDEL_SQL,
        "merge-on-read POSITION deletes: keep-one exact dedup via "
        "dedup_positions (the verb equality deletes cannot express), "
        "predicate positional delete, delete-file rewrite maintenance, "
        "append sequencing, compact neutrality",
    ),
    "stream_table_to_ann_index_drained": QuerySpec(
        q_stream_table_to_ann_index_drained,
        _ann_table_stream_sql(),
        "table→table incremental pipeline: the ANN index maintainer "
        "subscribes to the corpus snapshot table (stream_table_changes), "
        "encodes each commit's delta, commits through the run-scoped "
        "idempotent sink — content audit, crash-replay no-op, rebuild "
        "and search identity all judged",
    ),
    "ann_index_maintenance": QuerySpec(
        q_ann_index_maintenance,
        _ann_index_sql(),
        "SQ8×IVF ANN index persisted as a cell-PARTITIONED snapshot table "
        "and maintained from CDC append deltas; per-snapshot code checksums "
        "hashed, delta-maintained == full-rebuild and search-identity "
        "booleans in-query",
    ),
    "ann_index_partitioned_probe": QuerySpec(
        q_ann_index_partitioned_probe,
        _ann_probe_sql(),
        "partition-pruned probe of the cell-partitioned ANN index: the "
        "SQ8-ADC top-k value-hashed with cells-scanned counts, a "
        "PartitionFilters plan assert, one-file-per-cell layout evidence, "
        "and pruned == unpruned identity",
    ),
    "ann_index_refresh": QuerySpec(
        q_ann_index_refresh,
        _ann_refresh_sql(),
        "quantizer-refresh re-index: fitted-centroid full re-encode as one "
        "REPLACE snapshot; code checksums invariant across generations, "
        "changelog == reassigned vectors, search identity vs from-scratch",
    ),
    "rename_evolution_read": QuerySpec(
        q_rename_evolution_read,
        _rename_evolution_sql(),
        "metadata-only column rename: pre-rename files read under the new "
        "name (values hashed, not just shape), time travel keeps the old "
        "name, changelog empty across the rename, and the mapping "
        "survives snapshot expiration via the manifest fold",
    ),
    "orphan_cleanup_recovery": QuerySpec(
        q_orphan_cleanup_recovery,
        _ORPHAN_SQL,
        "remove_orphan_files as crash recovery: a leaked uncommitted data "
        "dir blocks the next commit; cleanup reclaims exactly the "
        "unreferenced dirs, content identity + append recovery + the "
        "in-flight mtime guard all hashed",
    ),
    "ann_index_compact": QuerySpec(
        q_ann_index_compact,
        _ann_compact_sql(),
        "per-partition bin-pack of the fragmented cell-partitioned ANN "
        "index: one replace snapshot restores one-file-per-cell; per-cell "
        "file counts + code checksums hashed, search identity and "
        "changelog neutrality in-query",
    ),
    "incremental_dhash_index": QuerySpec(
        q_incremental_dhash_index,
        _dhash_index_sql(),
        "CDC-driven incremental perceptual-hash index maintenance: each "
        "media append delta dHashed and band-probed against the prior "
        "snapshot's index",
    ),
    "incremental_dedup_index": QuerySpec(
        q_incremental_dedup_index,
        _DEDUP_INDEX_SQL,
        "CDC-driven incremental dedup-index maintenance: each append delta "
        "fingerprinted and probed against the prior snapshot's index",
    ),
    "incremental_quality_gate": QuerySpec(
        q_incremental_quality_gate,
        _gate_sql(),
        "CDC-driven incremental Gopher gating: each snapshot append delta "
        "re-gated, never the whole table",
    ),
    "snapshot_branch_read": QuerySpec(
        q_snapshot_branch_read,
        f"""
        SELECT 'tag_initial' AS ref_name, count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
        FROM orders WHERE o_orderdate < TIMESTAMP '{SPLIT_DATE}'
        UNION ALL
        SELECT 'main', count(*),
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
        FROM orders WHERE o_orderdate < TIMESTAMP '{SPLIT_DATE_2}'
        UNION ALL
        SELECT 'branch_experiment', count(*),
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
        FROM orders WHERE o_orderdate < TIMESTAMP '{SPLIT_DATE}'
           OR o_orderdate >= TIMESTAMP '{SPLIT_DATE_2}'
        """,
        "Iceberg tags + branches: frozen tag, diverged branch, untouched main",
    ),
    "snapshot_changelog_read": QuerySpec(
        q_snapshot_changelog_read,
        _CDC_SQL,
        "row-level changelog across append + MOR-delete commits "
        "(CDF analog): per-commit insert/delete aggregates hashed",
    ),
    "stream_table_cdc_drained": QuerySpec(
        q_stream_table_cdc_drained,
        _STREAM_CDC_SQL,
        "the table as a CDC stream (changelog subscription): initial "
        "snapshot + per-commit insert/delete micro-batches drained into "
        "a derived changelog table, hashed per (commit, change type)",
    ),
    "stream_table_cdc_facade_drained": QuerySpec(
        q_stream_table_cdc_facade_drained,
        _STREAM_CDC_FACADE_SQL,
        "the CDC facade twin: readStream changelog mode (manifest-"
        "planned insert/delete_key partitions, no session in the loop) "
        "piped facade-to-facade; ≡ the driver surface, non-plannable "
        "verbs rejected at planning",
    ),
    "stream_cdc_mv_drained": QuerySpec(
        q_stream_cdc_mv_drained,
        _STREAM_CDC_MV_SQL,
        "incremental MV maintenance through the CDC stream: signed "
        "insert/delete delta folds, one ledger-stamped replace per "
        "batch, maintained view hashed against the full recompute",
    ),
    "stream_cdc_scd2_drained": QuerySpec(
        q_stream_cdc_scd2_drained,
        _STREAM_CDC_SCD2_SQL,
        "SCD2 dimension history maintained from CDC micro-batches "
        "(deletes close, inserts open, versions as the validity axis); "
        "history ≡ time travel at every version, hashed per interval",
    ),
    "snapshot_expire_maintenance": QuerySpec(
        q_snapshot_expire_maintenance,
        """
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               true AS _retention_ok
        FROM documents GROUP BY source ORDER BY source
        """,
        "compact-then-expire retention cycle: reclaimed-dir count, "
        "history length, and visible-state invariance hashed",
    ),
    "snapshot_drift_psi": QuerySpec(
        q_snapshot_drift_psi,
        _PSI_SQL,
        "Population Stability Index between two snapshots via time "
        "travel: per-bin shares + exact-ladder total + alert flag",
    ),
    "stats_pruned_scan": QuerySpec(
        q_stats_pruned_scan,
        f"""
        SELECT l_returnflag, count(*) AS n_rows,
               CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS sum_qty,
               CAST(4 AS BIGINT) AS _n_files_total,
               CAST(1 AS BIGINT) AS _n_files_read,
               true AS _skipped_ok
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{STATS_PRED_LO.replace("T", " ")}'
          AND l_shipdate <  TIMESTAMP '{STATS_PRED_HI.replace("T", " ")}'
        GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "manifest column-bounds data skipping: 1 of 4 date-bucketed files "
        "planned from stats alone, counts hash-adjudicated",
    ),
    "partitioned_write_prune": QuerySpec(
        q_partitioned_write_prune,
        """
        SELECT 'src1' AS source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               true AS _pruned_ok
        FROM documents WHERE source = 'src1'
        """,
        "PARTITIONED BY layout: single-partition read, pruning plan-asserted in-query",
    ),
    "jsonl_ingest_audit": QuerySpec(
        q_jsonl_ingest_audit,
        f"""
        SELECT source AS bucket, count(*) AS n_rows,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY source
        UNION ALL
        SELECT '_corrupt', {N_CORRUPT_LINES}, 0
        """,
        "corrupt-tolerant JSONL ingestion: good rows intact, garbage quarantined",
    ),
    "incremental_rollup_maintenance": QuerySpec(
        q_incremental_rollup_maintenance,
        """
        SELECT o_orderpriority, count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
        FROM orders GROUP BY o_orderpriority
        """,
        "incremental view maintenance: delta-merged rollup == full recompute",
    ),
    "snapshot_incremental_read": QuerySpec(
        q_snapshot_incremental_read,
        f"""
        SELECT 'v1_to_v2' AS increment, count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '{SPLIT_DATE}' AND o_orderdate < TIMESTAMP '{SPLIT_DATE_2}'
        UNION ALL
        SELECT 'v2_to_v3', count(*),
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
        FROM orders WHERE o_orderdate >= TIMESTAMP '{SPLIT_DATE_2}'
        UNION ALL
        SELECT 'v1_to_v3', count(*),
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
        FROM orders WHERE o_orderdate >= TIMESTAMP '{SPLIT_DATE}'
        """,
        "Iceberg-style incremental append scan between snapshot ids",
    ),
    "snapshot_time_travel": QuerySpec(
        q_snapshot_time_travel,
        f"""
        SELECT 'version_1' AS read_mode, count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
        FROM orders WHERE o_orderdate < TIMESTAMP '{SPLIT_DATE}'
        UNION ALL
        SELECT 'version_2', count(*),
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) FROM orders
        UNION ALL
        SELECT 'asof_between', count(*),
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
        FROM orders WHERE o_orderdate < TIMESTAMP '{SPLIT_DATE}'
        UNION ALL
        SELECT 'current', count(*),
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) FROM orders
        """,
        "S2/S3/S6: two-snapshot append + version/timestamp time travel",
    ),
    "mor_merge_evolve_read": QuerySpec(
        q_mor_merge_evolve_read,
        _MOR_EVOLVE_SQL,
        "MERGE schema evolution under merge-on-read: the upsert batch adds "
        "a column in the same one-snapshot MOR commit; legacy NULLs, bump "
        "sums, no-rewrite and time-travel-schema booleans hashed",
    ),
    "time_travel_via_sql_entry": QuerySpec(
        q_time_travel_via_sql_entry,
        _TT_SQL_ENTRY_ORACLE,
        "the Impala FOR SYSTEM_TIME AS OF contract through the full "
        "generated-SQL guard pipeline: dialect rewrite + snapshot-table "
        "AS-OF binding, historical and current eras in one hashed statement",
    ),
}
