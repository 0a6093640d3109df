"""Round-17 invariants: the two-phase offset log in
``stream_table_changes`` (VERDICT r16 What's-wrong #1 — a crash between
sink and offset commit followed by a concurrent append must NOT regroup
the replayed batch under a fresh batch id), plus this round's ADVICE
fixes (hidden-partition derived names carry the transform param, the
bucket-literal cache keys on the param, empty IN residuals short-circuit,
the semdecon vectorized tier's rounding parity).
"""

from __future__ import annotations

import json
import os
import time

import pytest

from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

SF = "/root/testdata/sf0.001"


# --- two-phase offsets: replay-deterministic batching (VERDICT r16 #1) -------


class _Boom(RuntimeError):
    """Simulated crash in the window between sink return and offset commit."""


def _crash_after(inner, crash_at: int):
    def sink(df, bid):
        inner(df, bid)
        if bid == crash_at:
            raise _Boom(f"crash after sink committed batch {bid}")

    return sink


def _mk_source(spark, path, n_appends=4):
    t = SnapshotParquetTable(spark, path)
    t.create(spark.createDataFrame([(0, 0)], "batch long, id long"))
    for b in range(1, n_appends + 1):
        t.append(spark.createDataFrame([(b, b)], "batch long, id long"))
    return t


@pytest.mark.parametrize("batch_snapshots", [1, 2])
def test_crash_plus_concurrent_append_commits_single_copy(spark, tmp_path, batch_snapshots):
    """The VERDICT r16 repro: drain crashes between sink and offset
    commit on the LAST group; a new append lands; the re-drain must
    replay the pinned group under the SAME batch id (ledger no-op), not
    fold the late append into a regrouped batch with a fresh id — the
    old single-phase offset double-committed the crashed group's rows
    for every ``batch_snapshots > 1``."""
    from local_llm_iceberg_cdw_spark.streaming.jobs import (
        make_idempotent_snapshot_sink,
        stream_table_changes,
    )

    # 5 snapshots (create + 4 appends): groups of 2 -> [1,2],[3,4],[5]
    src = _mk_source(spark, str(tmp_path / "src"), n_appends=4)
    tgt = SnapshotParquetTable(spark, str(tmp_path / "tgt"))
    ckpt = str(tmp_path / "ckpt")

    with pytest.raises(_Boom):
        stream_table_changes(
            src,
            _crash_after(make_idempotent_snapshot_sink(tgt, "sub", ckpt), crash_at=5),
            ckpt,
            batch_snapshots=batch_snapshots,
        )
    # the crash window is real: the offsets file still pins the group
    with open(os.path.join(ckpt, "offsets")) as f:
        state = json.load(f)
    assert state["pending"]["end"] == 5
    assert tgt.read().count() == 5  # sink committed batch 5 before the crash

    # concurrent append lands BEFORE recovery
    src.append(spark.createDataFrame([(9, 9)], "batch long, id long"))

    done = stream_table_changes(
        src, make_idempotent_snapshot_sink(tgt, "sub", ckpt), ckpt,
        batch_snapshots=batch_snapshots,
    )
    # pinned group replays as batch 5 (no-op), the late append is batch 6
    assert done == [5, 6]
    rows = sorted((r.batch, r.id) for r in tgt.read().collect())
    assert rows == [(0, 0), (1, 1), (2, 2), (3, 3), (4, 4), (9, 9)], (
        "each source row must land exactly once across crash + replay"
    )
    with open(os.path.join(ckpt, "offsets")) as f:
        assert "pending" not in json.load(f)


def test_crash_before_sink_replays_pinned_group(spark, tmp_path):
    """Crash in phase 1→sink window (plan pinned, sink never committed):
    recovery must run the pinned group once — no rows lost."""
    from local_llm_iceberg_cdw_spark.streaming.jobs import (
        make_idempotent_snapshot_sink,
        stream_table_changes,
    )

    src = _mk_source(spark, str(tmp_path / "src"), n_appends=2)
    tgt = SnapshotParquetTable(spark, str(tmp_path / "tgt"))
    ckpt = str(tmp_path / "ckpt")

    def never_ran(df, bid):
        raise _Boom("crash before the sink could commit")

    with pytest.raises(_Boom):
        stream_table_changes(src, never_ran, ckpt, batch_snapshots=2)
    with open(os.path.join(ckpt, "offsets")) as f:
        assert json.load(f)["pending"] == {"start": 0, "end": 2}
    done = stream_table_changes(
        src, make_idempotent_snapshot_sink(tgt, "sub", ckpt), ckpt, batch_snapshots=2
    )
    assert done == [2, 3]
    assert tgt.read().count() == 3


def test_offsets_backward_compat_single_phase_file(spark, tmp_path):
    """A pre-r17 offsets file (bare last_snapshot_id, no pending key)
    resumes cleanly — the two-phase upgrade is format-compatible."""
    from local_llm_iceberg_cdw_spark.streaming.jobs import stream_table_changes

    src = _mk_source(spark, str(tmp_path / "src"), n_appends=3)
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt)
    with open(os.path.join(ckpt, "offsets"), "w") as f:
        json.dump({"last_snapshot_id": 2}, f)
    seen: list[int] = []
    assert stream_table_changes(src, lambda df, bid: seen.append(bid), ckpt) == [3, 4]
    assert seen == [3, 4]


# --- param-encoded hidden-partition names (ADVICE r16 medium) -----------------


def test_param_only_spec_evolution_never_prunes_old_layout(spark, tmp_path):
    """bucket(16, id) → bucket(32, id): the old dirs' hive key
    (id_bucket_16) is invisible to the new spec's field (id_bucket_32),
    so the planner keeps them conservatively instead of projecting the
    literal through the WRONG param and silently dropping matching rows."""
    from pyspark.sql import functions as F

    rows16 = spark.createDataFrame([(i, float(i)) for i in range(20)], "id long, v double")
    rows32 = spark.createDataFrame(
        [(i, float(i)) for i in range(20, 40)], "id long, v double"
    )
    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(rows16, partition_by=["bucket(16, id)"])
    t.append(rows32, partition_by=["bucket(32, id)"], evolve_partition_spec=True)
    for probe in (7, 27):  # one per layout era
        got, n_kept, n_total = t.read_pruned([("id", "=", probe)])
        assert [r.id for r in got.collect()] == [probe]
    # the new-era probe still prunes: id_bucket_32 dirs engage the projection
    _, n_kept, n_total = t.read_pruned([("id", "=", 27)])
    assert n_kept < n_total


def test_bucket_literal_projection_keys_on_param(spark, tmp_path):
    """Two specs differing only in bucket count, planned on ONE table
    instance: the literal's projection must be computed per param, not
    served stale from the (field-name-keyed) cache (ADVICE r16 low)."""
    from pyspark.sql import functions as F

    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        parse_partition_field,
    )

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(
        spark.createDataFrame([(i,) for i in range(8)], "id long"),
        partition_by=["bucket(16, id)"],
    )
    snap = t._snapshot_for(None, None)

    def expected(n, v):
        return (
            spark.range(1)
            .select(F.pmod(F.hash(F.lit(v).cast("long")), F.lit(n)).alias("b"))
            .first()["b"]
        )

    probe = next(v for v in range(64) if expected(16, v) != expected(32, v))
    f16 = parse_partition_field("bucket(16, id)")
    f32 = parse_partition_field("bucket(32, id)")
    assert t._bucket_of_literal(snap, f16, probe) == expected(16, probe)
    assert t._bucket_of_literal(snap, f32, probe) == expected(32, probe)


def test_empty_in_list_returns_empty_not_analysis_error(spark, tmp_path):
    """plan_files prunes every file for an empty IN; the residual must
    agree (F.lit(False)) instead of failing Catalyst analysis on a
    zero-arg isin() (ADVICE r16 low)."""
    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string"))
    got, n_kept, _ = t.read_pruned([("id", "in", [])])
    assert got.count() == 0 and n_kept == 0


# --- clustered partitioned write (Iceberg write.distribution-mode=hash) ------


def test_clustered_write_one_file_per_dir(spark, tmp_path):
    """cluster=True hash-distributes by the (derived) layout columns, so
    each hive dir is written by exactly one task — one file per dir per
    append instead of input_partitions × dirs slivers; values identical
    to the unclustered write."""
    import glob

    df = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(100)], "id long, k long, v double"
    ).repartition(8)
    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(df, partition_by=["k", "bucket(4, id)"], cluster=True)
    dirs = glob.glob(str(tmp_path / "t" / "data-snap-*" / "k=*" / "id_bucket_4=*"))
    assert dirs
    for d in dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1
    t2 = SnapshotParquetTable(spark, str(tmp_path / "t2"))
    t2.create(df, partition_by=["k", "bucket(4, id)"])
    assert sorted(map(tuple, t.read().collect())) == sorted(
        map(tuple, t2.read().collect())
    )
    # and at least one unclustered dir shows the sliver fan-out the
    # clustered write exists to avoid
    dirs2 = glob.glob(str(tmp_path / "t2" / "data-snap-*" / "k=*" / "id_bucket_4=*"))
    assert any(len(glob.glob(os.path.join(d, "*.parquet"))) > 1 for d in dirs2)


# --- spark.readStream snapshot_table facade (VERDICT r16 stretch #9) ---------


def _drain_readstream(spark, src_path, ckpt, sink, on_non_append=None):
    reader = spark.readStream.format("snapshot_table").option("path", src_path)
    if on_non_append:
        reader = reader.option("onNonAppend", on_non_append)
    q = (
        reader.load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_readstream_facade_incremental_and_identity_partitions(spark, tmp_path):
    """The facade resumes from Spark's checkpoint (only new snapshots
    flow), and identity-partition values — which live only in hive dir
    names — are re-attached to the Arrow batches."""
    from local_llm_iceberg_cdw_spark.streaming.table_source import (
        SnapshotTableDataSource,
    )

    spark.dataSource.register(SnapshotTableDataSource)
    t = SnapshotParquetTable(spark, str(tmp_path / "src"))
    t.create(
        spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], "id long, k string, v double"),
        partition_by=["k"],
    )
    seen: list[list[tuple]] = []
    _drain_readstream(
        spark, t.path, str(tmp_path / "ck"), lambda df, bid: seen.append(sorted(map(tuple, df.collect())))
    )
    assert seen == [[(1, "a", 1.0), (2, "b", 2.0)]]  # k re-attached from dirs
    t.append(spark.createDataFrame([(3, "a", 3.0)], "id long, k string, v double"))
    _drain_readstream(
        spark, t.path, str(tmp_path / "ck"), lambda df, bid: seen.append(sorted(map(tuple, df.collect())))
    )
    assert seen[-1] == [(3, "a", 3.0)]  # delta only


def test_readstream_facade_non_append_semantics(spark, tmp_path):
    """error mode surfaces a replace commit as a stream failure; skip
    mode steps over it without emitting rows."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from local_llm_iceberg_cdw_spark.streaming.table_source import (
        SnapshotTableDataSource,
    )

    spark.dataSource.register(SnapshotTableDataSource)
    t = SnapshotParquetTable(spark, str(tmp_path / "src"))
    t.create(spark.createDataFrame([(1,)], "id long"))
    rows: list[int] = []
    _drain_readstream(
        spark, t.path, str(tmp_path / "ck"), lambda df, bid: rows.append(df.count())
    )
    t.compact()
    with pytest.raises((StreamingQueryException, Py4JJavaError)):
        _drain_readstream(
            spark, t.path, str(tmp_path / "ck"), lambda df, bid: rows.append(df.count())
        )
    _drain_readstream(
        spark,
        t.path,
        str(tmp_path / "ck"),
        lambda df, bid: rows.append(df.count()),
        on_non_append="skip",
    )
    assert sum(rows) == 1  # the initial row once; the rewrite never re-emits


def test_readstream_facade_rate_cap_bounds_steady_state_batches(spark, tmp_path):
    """maxSnapshotsPerBatch bounds every batch after the first catch-up:
    a 6-snapshot backlog accumulated between trigger firings drains as
    capped batches of ≤2 snapshots, nothing lost or duplicated.  (The
    first batch of each run is an uncapped catch-up — the Python
    DataSource API calls latestOffset before revealing the committed
    offset, verified in table_source.py's valve comment.)"""
    import time

    from local_llm_iceberg_cdw_spark.streaming.table_source import (
        SnapshotTableDataSource,
    )

    spark.dataSource.register(SnapshotTableDataSource)
    t = SnapshotParquetTable(spark, str(tmp_path / "src"))
    t.create(spark.createDataFrame([(0,)], "id long"))
    batches: list[tuple[int, list[int]]] = []
    q = (
        spark.readStream.format("snapshot_table")
        .option("path", t.path)
        .option("maxSnapshotsPerBatch", "2")
        .load()
        .writeStream.foreachBatch(
            lambda df, b: batches.append((b, sorted(r.id for r in df.collect())))
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="4 seconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and not batches:
            time.sleep(0.2)  # wait out the catch-up batch
        for i in range(1, 7):  # 6-snapshot backlog inside one interval
            t.append(spark.createDataFrame([(i,)], "id long"))
        deadline = time.time() + 90
        while time.time() < deadline and sum(len(b) for _, b in batches) < 7:
            time.sleep(0.5)
    finally:
        q.stop()
    got = sorted(x for _, ids in batches for x in ids)
    assert got == list(range(7)), f"lost/duplicated rows: {batches}"
    steady = [len(ids) for _, ids in batches[1:] if ids]
    assert steady and max(steady) <= 2, f"cap violated: {batches}"


# --- staged commit (the writeStream sink's commit half) -----------------------


def _stage(tmp_path, name: str, table) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "staging"
    d.mkdir(exist_ok=True)
    f = str(d / f"{name}.parquet")
    pq.write_table(table if isinstance(table, pa.Table) else pa.table(table), f)
    return f


def test_commit_staged_primitives(spark, tmp_path):
    """SnapshotParquetTable.commit_staged: schema check, bounds
    collection, stats carry-forward, ledger visibility — all on an
    instance bound to no SparkSession (the commit runs in Spark's Python
    DataSource worker)."""
    root = str(tmp_path / "t")
    t = SnapshotParquetTable(spark, root)
    t.create(spark.createDataFrame([(1, 1.0)], "id long, v double"), sort_order=["id"])
    schema_json = t._load()[-1].schema_json
    bare = SnapshotParquetTable(None, root)

    f = _stage(tmp_path, "a", {"id": [5, 6], "v": [5.0, 6.0]})
    sid = bare.commit_staged(
        [(f, "f.parquet")], schema_json,
        commit_props={"streaming_query_id": "q1", "batch_id": 0},
    )
    assert sid == 2
    d2 = os.path.join(root, "data-snap-000002")
    assert not os.path.exists(f) and os.path.exists(os.path.join(d2, "f.parquet"))
    assert sorted(r.id for r in t.read().collect()) == [1, 5, 6]
    assert t._load()[-1].sort_order == ["id"]  # inherited, as append does
    # ledger: visible both sessionless and through the session-bound class
    assert bare.batch_committed("q1", 0)
    assert t.batch_committed("q1", 0)
    assert not bare.batch_committed("q1", 1)
    # footer bounds recorded: the stats planner prunes sink-written files
    kept, total = t.plan_files([("id", "=", 5)])
    assert len(kept) == 1 and len(total) >= 2 and kept[0].startswith(d2)
    # schema mismatch refuses, before any data dir is claimed
    bad = _stage(tmp_path, "bad", {"id": [9]})
    wrong = spark.createDataFrame([(1,)], "id long").schema.json()
    with pytest.raises(ValueError, match="schema mismatch"):
        bare.commit_staged([(bad, "f.parquet")], wrong)
    assert os.path.exists(bad) and not os.path.exists(os.path.join(root, "data-snap-000003"))
    # a leaked dir at the next sid (crash between moves and publish) is
    # never merged into
    os.makedirs(os.path.join(root, "data-snap-000003"))
    with pytest.raises(RuntimeError, match="remove_orphan_files"):
        bare.commit_staged([(bad, "f.parquet")], schema_json)
    assert os.path.exists(bad)
    # a staged layout that disagrees with the table's spec refuses
    # (r18 lifted the v1 unpartitioned-only scope to identity specs —
    # spec AGREEMENT is now the guarded invariant), and bucket() layouts
    # never commit on this path
    p = SnapshotParquetTable(spark, str(tmp_path / "p"))
    p.create(spark.createDataFrame([(1, "a")], "id long, k string"), partition_by=["k"])
    with pytest.raises(ValueError, match="does not match the table's spec"):
        p.commit_staged([(bad, "f.parquet")], schema_json)
    with pytest.raises(ValueError, match="bucket"):
        p.commit_staged([(bad, "f.parquet")], schema_json, partition_by=["bucket(4, id)"])


def test_commit_staged_persists_recovered_lineage(spark, tmp_path):
    """A staged commit onto a manifest written before lineage existed
    persists the parent ids ``_load`` recovers for the old entries —
    the same as every table-class commit (``_backfill_parents``)."""
    root = str(tmp_path / "t")
    t = SnapshotParquetTable(spark, root)
    t.create(spark.createDataFrame([(1,)], "id long"))
    t.append(spark.createDataFrame([(2,)], "id long"))
    recovered = [(s.snapshot_id, s.parent_snapshot_id) for s in t._load()]
    assert recovered == [(1, None), (2, 1)]
    mf = os.path.join(root, "_snapshots.json")
    with open(mf) as fh:
        raw = json.load(fh)
    for e in raw:  # hand-write the pre-lineage form
        del e["parent_snapshot_id"]
    with open(mf, "w") as fh:
        json.dump(raw, fh)

    f = _stage(tmp_path, "a", {"id": [3]})
    schema_json = raw[-1]["schema_json"]
    assert SnapshotParquetTable(None, root).commit_staged([(f, "f.parquet")], schema_json) == 3
    with open(mf) as fh:
        entries = json.load(fh)
    assert [(e["snapshot_id"], e.get("parent_snapshot_id", "absent")) for e in entries] == [
        (1, None),
        (2, 1),
        (3, 2),
    ]


def test_stream_writer_epoch_replay_noops(spark, tmp_path):
    """The sink's commit() is exactly-once per (queryName, batchId): a
    replayed epoch drops its re-staged files and leaves the table
    untouched; a crash BEFORE commit leaves only unreferenced staging
    files (no partial snapshot)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from local_llm_iceberg_cdw_spark.streaming.table_source import (
        SnapshotTableStreamWriter,
        _StagedFiles,
    )

    schema = spark.createDataFrame([(1,)], "id long").schema
    path = str(tmp_path / "t")
    w = SnapshotTableStreamWriter(schema, {"path": path, "queryname": "q1"})

    def stage(ids):
        os.makedirs(f"{path}/stream-staging", exist_ok=True)
        f = f"{path}/stream-staging/task-{len(ids)}-{ids[0]}.parquet"
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), f)
        return f

    w.commit([_StagedFiles([stage([1, 2])])], 0)
    t = SnapshotParquetTable(spark, path)
    assert sorted(r.id for r in t.read().collect()) == [1, 2]
    n_snaps = len(t._load())
    # epoch replay: same batch id, freshly staged files → no-op + cleanup
    f2 = stage([1, 2])
    w.commit([_StagedFiles([f2])], 0)
    assert len(t._load()) == n_snaps and not os.path.exists(f2)
    # abort drops staged files
    f3 = stage([9])
    w.abort([_StagedFiles([f3])], 1)
    assert not os.path.exists(f3)
    # next real epoch commits normally
    w.commit([_StagedFiles([stage([3])])], 1)
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]
    # crash-leaked staging files are remove_orphan_files territory
    leaked = stage([99])
    assert os.path.exists(leaked)
    assert t.remove_orphan_files(older_than_ms=int(time.time() * 1000) + 60_000) >= 1
    assert not os.path.exists(leaked)
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]  # data intact
    # crash AFTER the file-moves but BEFORE the manifest append leaks the
    # next data dir; the replayed epoch must FAIL LOUDLY (merging into the
    # leaked dir would double the crashed attempt's rows in one snapshot)
    # and remove_orphan_files + replay must converge to a single copy
    next_sid = len(t._load()) + 1
    leaked_dir = f"{path}/data-snap-{next_sid:06d}"
    os.makedirs(leaked_dir)
    pq.write_table(pa.table({"id": pa.array([7], pa.int64())}), f"{leaked_dir}/f.parquet")
    with pytest.raises(RuntimeError, match="remove_orphan_files"):
        w.commit([_StagedFiles([stage([7])])], 2)
    assert t.remove_orphan_files(older_than_ms=int(time.time() * 1000) + 60_000) >= 1
    w.commit([_StagedFiles([stage([7])])], 2)
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3, 7]


# --- Iceberg façade: hidden-partitioning DDL parity (VERDICT r16 #8) ---------


def test_iceberg_facade_partitioned_by_clause_full_grammar():
    """Both backends accept the same spec strings; the façade renders
    Iceberg's documented PARTITIONED BY spelling (jar-free string seam)."""
    from local_llm_iceberg_cdw_spark.formats.iceberg import IcebergTable

    clause = IcebergTable.partitioned_by_clause(
        ["days(ts)", "bucket(16, user_id)", "truncate(4, s)", "region", "months(d)"]
    )
    assert clause == (
        "PARTITIONED BY (days(ts), bucket(16, user_id), truncate(4, s), "
        "region, months(d))"
    )
    with pytest.raises(ValueError, match="unknown partition transform"):
        IcebergTable.partitioned_by_clause(["dayz(ts)"])


def test_iceberg_facade_create_table_sql(spark):
    from local_llm_iceberg_cdw_spark.formats.iceberg import IcebergTable

    schema = spark.createDataFrame(
        [(1, "x", 1.0)], "user_id long, s string, v double"
    ).schema
    ddl = IcebergTable.create_table_sql(
        "local.db.t", schema, ["bucket(16, user_id)", "truncate(4, s)"]
    )
    assert ddl == (
        "CREATE TABLE local.db.t (user_id bigint, s string, v double) "
        "USING iceberg PARTITIONED BY (bucket(16, user_id), truncate(4, s))"
    )
    assert (
        IcebergTable.create_table_sql("local.db.u", schema)
        == "CREATE TABLE local.db.u (user_id bigint, s string, v double) USING iceberg"
    )


# --- semdecon vectorized tier: HALF_UP parity + explicit broadcast ------------


def test_round6_halfup_matches_spark_round_on_tie_adjacent_doubles(spark):
    """The vectorized tier's snap must equal Spark's round(x, 6) on the
    exact values where np.round diverges: half-ties (banker's rounds to
    even, Spark HALF_UP rounds away) and shortest-repr boundaries."""
    from pyspark.sql import functions as F

    from local_llm_iceberg_cdw_spark.operators.similarity import _round6_halfup

    vals = [
        0.1234565, 0.1234575, -0.1234565, 0.9999995, -0.9999995,
        0.0000005, 0.0000015, 0.12345649999999, 0.5, 1.0, -1.0, 0.0,
        0.3333333333333333, 0.66666665,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r.y for r in df.select(F.round("x", 6).alias("y")).collect()]
    assert got == [_round6_halfup(v) for v in vals]
    import numpy as np

    # the divergence is real: np.round disagrees on at least one half-tie
    assert any(float(np.round(v, 6)) != _round6_halfup(v) for v in vals)


def test_semdecon_vectorized_tie_resolves_to_smallest_test_id(spark):
    """Two holdout vectors with IDENTICAL cosine to a train vector: the
    tier must flag the smaller test_id (the brute form's lexicographic
    struct-max order)."""
    from local_llm_iceberg_cdw_spark.operators.similarity import (
        _semdecon_vectorized_exact,
    )

    train = spark.createDataFrame([(1, [1.0, 0.0])], "train_id long, cv array<double>")
    test = spark.createDataFrame(
        [(9, [2.0, 0.0]), (3, [5.0, 0.0]), (7, [0.0, 1.0])],
        "test_id long, tv array<double>",
    )
    rows = _semdecon_vectorized_exact(spark, train, test).collect()
    assert rows[0].nearest_test_id == 3 and rows[0].max_cosine == 1.0


def test_semdecon_vectorized_broadcasts_large_holdout(spark):
    """VERDICT r16 #7: a 10⁵-row holdout rides an explicit broadcast, not
    every task binary — probed by running the tier end-to-end at that
    holdout size and value-checking against a direct numpy argmax."""
    import numpy as np

    from local_llm_iceberg_cdw_spark.operators.similarity import (
        _round6_halfup,
        _semdecon_vectorized_exact,
    )

    rng = np.random.default_rng(17)
    h, dim = 100_000, 8
    tmat = rng.standard_normal((h, dim))
    train_vecs = rng.standard_normal((5, dim))
    test = spark.createDataFrame(
        [(int(i), [float(x) for x in tmat[i]]) for i in range(h)],
        "test_id long, tv array<double>",
    )
    train = spark.createDataFrame(
        [(int(i), [float(x) for x in train_vecs[i]]) for i in range(5)],
        "train_id long, cv array<double>",
    )
    got = {r.train_id: (r.nearest_test_id, r.max_cosine)
           for r in _semdecon_vectorized_exact(spark, train, test).collect()}
    tnorm = np.linalg.norm(tmat, axis=1)
    for i in range(5):
        sims = (tmat @ train_vecs[i]) / (tnorm * np.linalg.norm(train_vecs[i]))
        mc = _round6_halfup(sims.max())
        assert got[i][1] == mc and got[i][0] == int(np.argmax(sims))
