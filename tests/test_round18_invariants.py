"""Round-18 invariants: the readStream facade follows MAIN's refs-aware
lineage (VERDICT r17 What's-wrong #1 — a WAP branch append or a
``rollback_to`` must not leak the wrong lineage into the stream), the
hive NULL-partition sentinel maps back to nulls, ``startingSnapshotId``
bounds a fresh checkpoint's catch-up, and ``SnapshotParquetTable.commit_staged``
detects a concurrent commit instead of silently clobbering it.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable


def _register(spark):
    from local_llm_iceberg_cdw_spark.streaming.table_source import (
        SnapshotTableDataSource,
    )

    spark.dataSource.register(SnapshotTableDataSource)


def _drain(spark, src_path, ckpt, sink, **opts):
    reader = spark.readStream.format("snapshot_table").option("path", src_path)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# --- refs-aware lineage (VERDICT r17 #1 / ADVICE r17 medium) ------------------


def test_readstream_facade_excludes_wap_branch_rows(spark, tmp_path):
    """WAP: an append to an audit branch lands in the manifest AFTER
    main's head but must NOT be streamed until fast_forward publishes it
    — the facade follows refs['main'], not the manifest tail."""
    _register(spark)
    t = SnapshotParquetTable(spark, str(tmp_path / "src"))
    t.create(spark.createDataFrame([(1, "pub")], "id long, s string"))
    t.create_branch("audit")
    t.append(spark.createDataFrame([(2, "staged")], "id long, s string"), branch="audit")

    seen: list[tuple] = []
    sink = lambda df, b: seen.extend(sorted(map(tuple, df.collect())))  # noqa: E731
    _drain(spark, t.path, str(tmp_path / "ck"), sink)
    assert seen == [(1, "pub")], f"unpublished branch rows leaked: {seen}"

    # publish (the P of write-audit-publish): main jumps to the branch
    # head; the SAME checkpoint then sees exactly the published delta
    t.fast_forward("audit")
    _drain(spark, t.path, str(tmp_path / "ck"), sink)
    assert seen == [(1, "pub"), (2, "staged")]


def test_readstream_facade_follows_rollback(spark, tmp_path):
    """After rollback_to, refs['main'] moves backward while the manifest
    tail keeps the undone snapshot — a fresh stream must plan from the
    rolled-back head's ancestry, and a post-rollback append (which skips
    the undone snapshot's lineage) streams exactly once."""
    _register(spark)
    t = SnapshotParquetTable(spark, str(tmp_path / "src"))
    t.create(spark.createDataFrame([(1,)], "id long"))
    t.append(spark.createDataFrame([(99,)], "id long"))  # the bad batch
    t.rollback_to(1)

    seen: list[int] = []
    sink = lambda df, b: seen.extend(sorted(r.id for r in df.collect()))  # noqa: E731
    _drain(spark, t.path, str(tmp_path / "ck"), sink)
    assert seen == [1], f"rolled-back-over rows streamed: {seen}"

    t.append(spark.createDataFrame([(3,)], "id long"))  # the redo
    _drain(spark, t.path, str(tmp_path / "ck"), sink)
    assert seen == [1, 3], f"post-rollback delta wrong: {seen}"


def test_readstream_facade_schema_follows_main_ref(spark, tmp_path):
    """DataSource.schema() must read the refs-resolved head's schema:
    roll back over a schema evolution and the stream's schema is the
    pre-evolution one, exactly like the table class's read()."""
    _register(spark)
    t = SnapshotParquetTable(spark, str(tmp_path / "src"))
    t.create(spark.createDataFrame([(1,)], "id long"))
    t.append(
        spark.createDataFrame([(2, "x")], "id long, extra string"), evolve_schema=True
    )
    t.rollback_to(1)
    df = spark.readStream.format("snapshot_table").option("path", t.path).load()
    assert [f.name for f in df.schema.fields] == ["id"]
    assert [f.name for f in t.read().schema.fields] == ["id"]


def test_readstream_facade_matches_driver_loop_on_refs_table(spark, tmp_path):
    """facade ≡ loop, the parity the module claims: on a refs-bearing
    table both stream exactly main's published rows; across a column
    rename both read pre-rename files by their physical names, in
    uncapped and capped batches; once ``expire_snapshots`` dropped the
    committed offset both refuse the range instead of re-delivering the
    table; and where an expiry left the first snapshot with a MOR delete
    file the loop streams read()'s rows and the facade refuses."""
    from local_llm_iceberg_cdw_spark.streaming.jobs import stream_table_changes

    _register(spark)
    t = SnapshotParquetTable(spark, str(tmp_path / "src"))
    t.create(spark.createDataFrame([(1,)], "id long"))
    t.create_branch("wip")
    t.append(spark.createDataFrame([(10,)], "id long"), branch="wip")
    t.append(spark.createDataFrame([(2,)], "id long"))  # main keeps moving
    t.append(spark.createDataFrame([(11,)], "id long"), branch="wip")

    facade_rows: list[int] = []
    _drain(
        spark,
        t.path,
        str(tmp_path / "ck_facade"),
        lambda df, b: facade_rows.extend(r.id for r in df.collect()),
    )
    loop_rows: list[int] = []
    stream_table_changes(
        t,
        lambda df, b: loop_rows.extend(r.id for r in df.collect()),
        str(tmp_path / "ck_loop"),
    )
    assert sorted(facade_rows) == sorted(loop_rows) == [1, 2]

    # rename: files written before it keep the physical name ``v``; the
    # non-nullable column would fail in the JVM if it read as NULL
    r = SnapshotParquetTable(spark, str(tmp_path / "ren"))
    r.create(spark.range(5).selectExpr("id AS k", "id * 10 AS v"))
    r.rename_column("v", "w")
    r.append(spark.range(5, 8).selectExpr("id AS k", "id * 10 AS w"))
    facade_ren: list[tuple] = []
    _drain(
        spark,
        r.path,
        str(tmp_path / "ck_facade_ren"),
        lambda df, b: facade_ren.extend(map(tuple, df.collect())),
        onNonAppend="skip",
    )
    loop_ren: list[tuple] = []
    stream_table_changes(
        r,
        lambda df, b: loop_ren.extend(map(tuple, df.collect())),
        str(tmp_path / "ck_loop_ren"),
        on_non_append="skip",
    )
    expected = [(k, k * 10) for k in range(8)]
    assert sorted(map(tuple, r.read().collect())) == expected
    assert sorted(facade_ren) == sorted(loop_ren) == expected

    # the same lineage in capped batches (maxSnapshotsPerBatch=1, driven
    # through the reader's own offset protocol as Spark does after a
    # run's first batch): the batch that ends before the rename commit
    # still reads its files under the stream schema's names
    from local_llm_iceberg_cdw_spark.streaming.table_source import (
        SnapshotTableStreamReader,
    )

    rd = SnapshotTableStreamReader(
        r.read().schema,
        {"path": r.path, "maxsnapshotsperbatch": "1", "onnonappend": "skip"},
    )
    rd._last_planned = cur = 0
    capped: list[tuple] = []
    while (end := rd.latestOffset()["snapshot_id"]) != cur:
        for part in rd.partitions({"snapshot_id": cur}, {"snapshot_id": end}):
            for batch in rd.read(part):
                capped += [(x["k"], x["w"]) for x in batch.to_pylist()]
        cur = end
    assert sorted(capped) == expected

    # expire with a pending MOR delete: the oldest kept snapshot (an
    # append after the delete, or the delete itself) carries a delete
    # file.  The loop reads that first state through read(); the facade,
    # whose executors read bare files, refuses instead of resurrecting
    # the masked rows.
    for name, tail in (("mor_append", True), ("mor_delete", False)):
        m = SnapshotParquetTable(spark, str(tmp_path / name))
        m.create(spark.range(10).selectExpr("id"))
        m.delete_where_mor("id < 3", key_cols=["id"])
        if tail:
            m.append(spark.range(10, 12).selectExpr("id"))
        m.expire_snapshots(keep_last=1)
        loop_mor: list[int] = []
        stream_table_changes(
            m,
            lambda df, b: loop_mor.extend(x.id for x in df.collect()),
            str(tmp_path / f"ck_loop_{name}"),
        )
        assert sorted(loop_mor) == sorted(x.id for x in m.read().collect()), name
        assert 0 not in loop_mor, name
        with pytest.raises(Exception, match="merge-on-read delete files"):
            _drain(spark, m.path, str(tmp_path / f"ck_facade_{name}"), lambda df, b: None)

    # expire: the committed offset (snapshot 3) leaves the manifest
    e = SnapshotParquetTable(spark, str(tmp_path / "exp"))
    e.create(spark.range(10).selectExpr("id"))
    for lo in (10, 20):
        e.append(spark.range(lo, lo + 10).selectExpr("id"))
    facade_exp: list[int] = []
    loop_exp: list[int] = []

    def facade_exp_drain():
        _drain(
            spark,
            e.path,
            str(tmp_path / "ck_facade_exp"),
            lambda df, b: facade_exp.extend(r.id for r in df.collect()),
        )

    def loop_exp_drain():
        stream_table_changes(
            e,
            lambda df, b: loop_exp.extend(r.id for r in df.collect()),
            str(tmp_path / "ck_loop_exp"),
        )

    facade_exp_drain()
    loop_exp_drain()
    assert sorted(facade_exp) == sorted(loop_exp) == list(range(30))
    e.append(spark.range(30, 40).selectExpr("id"))
    e.expire_snapshots(keep_last=1)
    with pytest.raises(Exception, match="unknown snapshot range"):
        facade_exp_drain()
    with pytest.raises(ValueError, match="unknown snapshot range"):
        loop_exp_drain()
    # no sink saw a duplicate row
    assert sorted(facade_exp) == sorted(loop_exp) == list(range(30))


# --- hive NULL-partition sentinel (ADVICE r17 low) ----------------------------


def test_readstream_facade_null_identity_partition_value(spark, tmp_path):
    """A NULL identity-partition value is written as the
    __HIVE_DEFAULT_PARTITION__ dir; the facade must re-attach it as NULL,
    not the literal sentinel string (string cols) or a cast crash
    (non-string cols)."""
    _register(spark)
    t = SnapshotParquetTable(spark, str(tmp_path / "src"))
    t.create(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, None, 2.0)], "id long, k string, v double"
        ),
        partition_by=["k"],
    )
    seen: list[tuple] = []
    _drain(
        spark,
        t.path,
        str(tmp_path / "ck"),
        lambda df, b: seen.extend(sorted(map(tuple, df.collect()), key=str)),
    )
    assert seen == [(1, "a", 1.0), (2, None, 2.0)]


# --- startingSnapshotId: bounded catch-up (VERDICT r17 #3) --------------------


def test_readstream_facade_starting_snapshot_id(spark, tmp_path):
    """A fresh checkpoint with startingSnapshotId=head plans ZERO
    historical files, then ingests only commits after it; an explicit id
    starts strictly after that snapshot; existing checkpoints ignore the
    option entirely."""
    _register(spark)
    t = SnapshotParquetTable(spark, str(tmp_path / "src"))
    t.create(spark.createDataFrame([(1,)], "id long"))
    for i in (2, 3):
        t.append(spark.createDataFrame([(i,)], "id long"))

    # latest: skip the 3-snapshot backlog entirely
    seen: list[int] = []
    sink = lambda df, b: seen.extend(r.id for r in df.collect())  # noqa: E731
    _drain(spark, t.path, str(tmp_path / "ck1"), sink, startingSnapshotId="latest")
    assert seen == []
    t.append(spark.createDataFrame([(4,)], "id long"))
    _drain(spark, t.path, str(tmp_path / "ck1"), sink, startingSnapshotId="latest")
    assert seen == [4]

    # explicit id: exclusive start, mid-lineage
    seen2: list[int] = []
    _drain(
        spark,
        t.path,
        str(tmp_path / "ck2"),
        lambda df, b: seen2.extend(r.id for r in df.collect()),
        startingSnapshotId="2",
    )
    assert sorted(seen2) == [3, 4]

    # an established checkpoint is governed by its offset log, not the option
    t.append(spark.createDataFrame([(5,)], "id long"))
    _drain(spark, t.path, str(tmp_path / "ck2"), lambda df, b: seen2.extend(
        r.id for r in df.collect()
    ), startingSnapshotId="latest")
    assert sorted(seen2) == [3, 4, 5]

    with pytest.raises(Exception, match="startingSnapshotId"):
        _drain(spark, t.path, str(tmp_path / "ck3"), sink, startingSnapshotId="soon")


# --- concurrent-commit detection (ADVICE r17 low) -----------------------------


def _stage(tmp_path) -> list[tuple[str, str]]:
    """One staged parquet file holding id 7, as a sink task leaves it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = str(tmp_path / f"staged-{len(os.listdir(tmp_path))}.parquet")
    pq.write_table(pa.table({"id": pa.array([7], pa.int64())}), f)
    return [(f, "f.parquet")]


def _race_footer_scan(monkeypatch, racer) -> None:
    """Run ``racer`` once, mid-footer-scan of the next staged commit."""
    real_stats = SnapshotParquetTable._collect_file_stats
    raced = []

    def racing_stats(data_dir):
        if not raced:
            raced.append(True)
            racer()
        return real_stats(data_dir)

    monkeypatch.setattr(SnapshotParquetTable, "_collect_file_stats", staticmethod(racing_stats))


def test_commit_staged_detects_concurrent_commit(spark, tmp_path, monkeypatch):
    """A table-class commit landing between the staged commit's manifest
    load and its publish must fail the publish loudly (lost update), not
    be clobbered by os.replace.  The racer is a MOR delete: a racing
    append would allocate the staged commit's own data dir and fail on
    its errorifexists write instead."""
    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,), (2,)], "id long"))
    schema_json = t._load()[-1].schema_json

    _race_footer_scan(monkeypatch, lambda: t.delete_where_mor("id = 1", ["id"]))
    with pytest.raises(RuntimeError, match="concurrent commit"):
        SnapshotParquetTable(None, t.path).commit_staged(_stage(tmp_path), schema_json)
    monkeypatch.undo()

    # the table's snapshot survived intact, the unpublished dir is gone,
    # and a replayed (re-staged) commit lands on the new head
    assert [r.id for r in t.read().orderBy("id").collect()] == [2]
    assert not os.path.exists(os.path.join(t.path, "data-snap-000002"))
    assert SnapshotParquetTable(None, t.path).commit_staged(_stage(tmp_path), schema_json) == 3
    assert [r.id for r in t.read().orderBy("id").collect()] == [2, 7]


def test_commit_staged_detects_concurrent_expire(spark, tmp_path, monkeypatch):
    """An ``expire_snapshots`` landing mid-commit keeps the manifest tail
    and the refs file, so only a compare of the whole manifest sees it;
    publishing the list loaded before it would bring back the expired
    entries, whose data dirs expire already deleted."""
    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "id long"))
    t.append(spark.createDataFrame([(2,)], "id long"))
    t.replace(spark.createDataFrame([(3,)], "id long"))
    schema_json = t._load()[-1].schema_json

    _race_footer_scan(monkeypatch, lambda: t.expire_snapshots(keep_last=1))
    with pytest.raises(RuntimeError, match="concurrent commit"):
        SnapshotParquetTable(None, t.path).commit_staged(_stage(tmp_path), schema_json)
    monkeypatch.undo()

    assert [s.snapshot_id for s in t._load()] == [3]
    assert not os.path.exists(os.path.join(t.path, "data-snap-000004"))
    assert SnapshotParquetTable(None, t.path).commit_staged(_stage(tmp_path), schema_json) == 4
    assert [s.snapshot_id for s in t._load()] == [3, 4]
    assert [r.id for r in t.read().orderBy("id").collect()] == [3, 7]


# --- partitioned targets for writeStream.format("snapshot_table") ------------
# (VERDICT r17 #4: a 100 TB sink must be partitioned)


def _pipe(spark, src_path, tgt_path, ckpt, qname, **opts):
    reader = spark.readStream.format("snapshot_table").option("path", src_path)
    writer = (
        reader.load()
        .writeStream.format("snapshot_table")
        .option("path", tgt_path)
        .option("queryName", qname)
        .option("checkpointLocation", ckpt)
    )
    for k, v in opts.items():
        writer = writer.option(k, v)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()


def test_stream_sink_partitioned_target(spark, tmp_path):
    """An existing identity-partitioned target governs the sink: tasks
    fan out hive dirs, the epoch commit preserves the layout, the spec
    is recorded on the new snapshot, and partition pruning stays alive
    on sink-written data."""
    _register(spark)
    src = SnapshotParquetTable(spark, str(tmp_path / "src"))
    src.create(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, None, 3.0)],
            "id long, k string, v double",
        )
    )
    tgt = SnapshotParquetTable(spark, str(tmp_path / "tgt"))
    tgt.create(
        spark.createDataFrame([], "id long, k string, v double"), partition_by=["k"]
    )
    _pipe(spark, src.path, tgt.path, str(tmp_path / "ck"), "p18")

    head = tgt._load()[-1]
    assert head.partition_by == ["k"]
    got = sorted(map(tuple, tgt.read().collect()), key=str)
    assert got == [(1, "a", 1.0), (2, "b", 2.0), (3, None, 3.0)]
    # layout is real hive dirs (partition col lives in dir names)
    leaf_dirs = {
        seg
        for d in head.data_dirs
        for root, dirs, _ in os.walk(d)
        for seg in dirs
        if "=" in seg
    }
    assert {"k=a", "k=b", "k=__HIVE_DEFAULT_PARTITION__"} == leaf_dirs
    # pruning: a filter on k reads only that dir's file
    pruned, n_read, n_total = tgt.read_pruned([("k", "=", "a")])
    assert [r.id for r in pruned.collect()] == [1]
    assert n_read < n_total


def test_stream_sink_creates_partitioned_table_via_option(spark, tmp_path):
    """CREATE-on-first-commit honors .option('partitionBy', …); later
    epochs inherit the recorded spec; a conflicting option on an
    existing table fails at stream start."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    _register(spark)
    src = SnapshotParquetTable(spark, str(tmp_path / "src"))
    src.create(spark.createDataFrame([(1, "x")], "id long, k string"))
    tgt_path = str(tmp_path / "tgt")
    _pipe(spark, src.path, tgt_path, str(tmp_path / "ck"), "p18c", partitionBy="k")
    tgt = SnapshotParquetTable(spark, tgt_path)
    assert tgt._load()[-1].partition_by == ["k"]

    src.append(spark.createDataFrame([(2, "y")], "id long, k string"))
    _pipe(spark, src.path, tgt_path, str(tmp_path / "ck"), "p18c")  # no option
    assert tgt._load()[-1].partition_by == ["k"]
    assert sorted(r.k for r in tgt.read().collect()) == ["x", "y"]

    with pytest.raises((StreamingQueryException, Py4JJavaError, Exception)):
        _pipe(
            spark, src.path, tgt_path, str(tmp_path / "ck2"), "p18d", partitionBy="id"
        )


def test_stream_sink_rejects_hidden_transform_target(spark, tmp_path):
    """The un-derivable transform must fail loudly at stream start,
    never write a wrong dir name.  r18 pinned ALL transforms here; r19
    moved the arithmetic ones (days/truncate/…) onto the supported path
    (pyarrow derivation pinned ≡ Spark dir names, test_round19_
    invariants) — the gate is now exactly bucket(), whose Spark murmur3
    has no pyarrow cross-check."""
    _register(spark)
    src = SnapshotParquetTable(spark, str(tmp_path / "src"))
    src.create(spark.createDataFrame([(1, "x")], "id long, k string"))
    tgt = SnapshotParquetTable(spark, str(tmp_path / "tgt"))
    tgt.create(
        spark.createDataFrame([], "id long, k string"),
        partition_by=["bucket(4, k)"],
    )
    with pytest.raises(Exception, match="bucket"):
        _pipe(spark, src.path, tgt.path, str(tmp_path / "ck"), "p18h")


# --- IcebergTable streaming parity (VERDICT r17 #8, jar-gated execution) ------


def test_iceberg_stream_option_mapping_is_pinned():
    """The option-mapping contract between the snapshot_table facade's
    knobs and Iceberg's streaming options is a pure function — pinned
    here so capability parity holds even while execution is jar-gated
    (classmethods: no jar needed to validate the mapping)."""
    from local_llm_iceberg_cdw_spark.formats.iceberg import IcebergTable as T

    assert T.stream_read_options() == {}
    assert T.stream_read_options(from_timestamp_ms=1700000000000) == {
        "stream-from-timestamp": "1700000000000"
    }
    assert T.stream_read_options(
        max_files_per_batch=100, max_rows_per_batch=50000, on_non_append="skip"
    ) == {
        "streaming-max-files-per-micro-batch": "100",
        "streaming-max-rows-per-micro-batch": "50000",
        "streaming-skip-delete-snapshots": "true",
        "streaming-skip-overwrite-snapshots": "true",
    }
    with pytest.raises(ValueError, match="onNonAppend"):
        T.stream_read_options(on_non_append="ignore")
    # r19: the facade's changelog mode has no Iceberg stream spelling —
    # append-only SparkMicroBatchStream; the pin is the LOUD error, not
    # a silent option drop
    with pytest.raises(NotImplementedError, match="create_changelog_view"):
        T.stream_read_options(changelog=True)
    assert T.stream_write_options() == {}
    assert T.stream_write_options(fanout=True) == {"fanout-enabled": "true"}


# --- files/rows admission valves on the facade source -------------------------


def test_readstream_rate_valves_by_files_and_rows(spark, tmp_path):
    """maxFilesPerBatch / maxRowsPerBatch bound steady-state advancement
    from manifest file_stats alone (no data IO), always advancing ≥1
    snapshot — unit-driven through the reader's own offset protocol so
    the grouping is deterministic."""
    from local_llm_iceberg_cdw_spark.streaming.table_source import (
        SnapshotTableStreamReader,
    )

    t = SnapshotParquetTable(spark, str(tmp_path / "src"))
    # snapshots of 1, 3, 1, 5, 1 rows (each one file: tiny coalesced writes)
    sizes = [1, 3, 1, 5, 1]
    t.create(spark.createDataFrame([(i,) for i in range(sizes[0])], "id long").coalesce(1))
    for n in sizes[1:]:
        t.append(spark.createDataFrame([(i,) for i in range(n)], "id long").coalesce(1))

    def groups(**opts):
        r = SnapshotTableStreamReader(t.read().schema, {"path": t.path, **opts})
        r._last_planned = 1  # committed at snapshot 1; 4 snapshots of backlog
        out, cur = [], 1
        while True:
            end = r.latestOffset()["snapshot_id"]
            if end == cur:
                return out
            out.append(end - cur)  # snapshots advanced this batch
            r._last_planned = end
            cur = end

    # rows: 3 | 1+5 over-cap → 3,1 then 5 alone then 1 … cap=4:
    #   batch1 = [3,1] (4 rows), batch2 = [5] (over-cap single), batch3 = [1]
    assert groups(maxrowsperbatch="4") == [2, 1, 1]
    # files: one file per snapshot → cap 2 = two snapshots per batch
    assert groups(maxfilesperbatch="2") == [2, 2]
    # snapshots valve unchanged
    assert groups(maxsnapshotsperbatch="3") == [3, 1]
    # uncapped: everything in one batch
    assert groups() == [4]
    with pytest.raises(ValueError, match="maxRowsPerBatch"):
        SnapshotTableStreamReader(t.read().schema, {"path": t.path, "maxrowsperbatch": "-1"})


# --- stream_table_cdc: the changelog twin of the append loop ------------------


def _cdc_fixture(spark, path):
    t = SnapshotParquetTable(spark, path)
    t.create(spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double"))  # v1
    t.append(spark.createDataFrame([(3, 30.0)], "k long, v double"))  # v2
    t.delete_where_mor("v > 15", key_cols=["k"])  # v3: deletes k=2,3
    t.append(spark.createDataFrame([(4, 40.0)], "k long, v double"))  # v4
    return t


def test_stream_table_cdc_replays_full_logical_history(spark, tmp_path):
    """Accumulated CDC micro-batches ≡ initial snapshot + one-shot
    read_changes: appends arrive as inserts, the MOR delete as
    delete-tagged rows, per-commit versions preserved."""
    from local_llm_iceberg_cdw_spark.streaming.jobs import stream_table_cdc

    t = _cdc_fixture(spark, str(tmp_path / "t"))
    got: list[tuple] = []
    batches = stream_table_cdc(
        t,
        lambda df, b: got.extend(map(tuple, df.collect())),
        str(tmp_path / "ck"),
    )
    assert batches == [1, 2, 3, 4]
    expected = [
        (1, 10.0, "insert", 1),
        (2, 20.0, "insert", 1),
        (3, 30.0, "insert", 2),
        (2, 20.0, "delete", 3),
        (3, 30.0, "delete", 3),
        (4, 40.0, "insert", 4),
    ]
    assert sorted(got) == sorted(expected)
    # idle re-drain: nothing pending, nothing delivered
    assert stream_table_cdc(t, lambda df, b: got.append("X"), str(tmp_path / "ck")) == []
    assert "X" not in got


def test_stream_table_cdc_two_phase_crash_replay(spark, tmp_path):
    """A crash between sink and offset commit replays EXACTLY the pinned
    group under the same batch id — even when a new commit lands in the
    crash window — so an idempotent sink sees no duplicate."""
    from local_llm_iceberg_cdw_spark.streaming.jobs import stream_table_cdc

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "k long"))
    t.append(spark.createDataFrame([(2,)], "k long"))

    seen: list[tuple[int, tuple]] = []

    class Boom(RuntimeError):
        pass

    def crashing(df, b):
        seen.append((b, tuple(sorted(r.k for r in df.collect()))))
        if b == 2:
            raise Boom()

    with pytest.raises(Boom):
        stream_table_cdc(t, crashing, str(tmp_path / "ck"))
    t.append(spark.createDataFrame([(3,)], "k long"))  # lands in the window
    ok = stream_table_cdc(
        t,
        lambda df, b: seen.append((b, tuple(sorted(r.k for r in df.collect())))),
        str(tmp_path / "ck"),
    )
    assert ok == [2, 3]
    # batch 2 replayed verbatim (same id, same rows), batch 3 is the late commit
    assert seen == [(1, (1,)), (2, (2,)), (2, (2,)), (3, (3,))]


def test_stream_table_cdc_compaction_is_silent(spark, tmp_path):
    """A replace commit (compaction) flows through the CDC stream as a
    batch of ZERO change rows — no on_non_append knob needed."""
    from local_llm_iceberg_cdw_spark.streaming.jobs import stream_table_cdc

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "k long"))
    t.append(spark.createDataFrame([(2,)], "k long"))
    counts: dict[int, int] = {}
    stream_table_cdc(t, lambda df, b: counts.__setitem__(b, df.count()), str(tmp_path / "ck"))
    t.compact()
    stream_table_cdc(t, lambda df, b: counts.__setitem__(b, df.count()), str(tmp_path / "ck"))
    assert counts[3] == 0 and counts[1] == 1 and counts[2] == 1


def test_replace_commit_props_feed_the_batch_ledger(spark, tmp_path):
    """replace(commit_props=...) records snapshot summary props and
    batch_committed sees them — the idempotence a replace-maintained MV
    (stream_cdc_mv_drained) relies on.  Also: a DECIMAL column no longer
    crashes footer-stats collection (pyarrow cannot decode decimal
    min/max; bounds are dropped, never the commit)."""
    t = SnapshotParquetTable(spark, str(tmp_path / "mv"))
    t.create(spark.createDataFrame([("a", 1)], "k string, n long"))
    t.replace(
        spark.createDataFrame([("a", 2)], "k string, n long"),
        commit_props={"streaming_query_id": "mv1", "batch_id": 7},
    )
    assert t.batch_committed("mv1", 7)
    assert not t.batch_committed("mv1", 8)
    assert [r.n for r in t.read().collect()] == [2]

    d = SnapshotParquetTable(spark, str(tmp_path / "dec"))
    d.create(
        spark.createDataFrame([("a",)], "k string")
        .select("k", F.lit("1.5").cast("decimal(18,6)").alias("total"))
        .coalesce(1)
    )
    stats = d._load()[-1].file_stats
    entries = [e for e in next(iter(stats.values())) if e["rows"]]
    assert entries and all("k" in e["bounds"] for e in entries)  # string bounds kept
    assert all("total" not in e["bounds"] for e in entries)  # decimal dropped


def test_read_changes_mor_delete_fast_path_equals_generic_diff(spark, tmp_path):
    """The r18 equality-delete fast path (prev ⋉ delete keys, one scan)
    must emit EXACTLY what the generic two-scan exceptAll diff emits —
    pinned by monkeypatching the fast path's trigger off and comparing
    multisets, including a NULL key and a later re-insert of a deleted
    key (sequence-number rule)."""
    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (2, "b"), (None, "n")], "k long, s string"
        )
    )
    t.append(spark.createDataFrame([(3, "c")], "k long, s string"))
    t.delete_where_mor("k = 2 OR k IS NULL", key_cols=["k"])
    t.append(spark.createDataFrame([(2, "back")], "k long, s string"))

    fast = t.read_changes(1, 4).collect()

    # the generic diff, computed independently per commit (exactly the
    # exceptAll machinery the fast path replaces)
    snaps = t._load()
    generic_rows = []
    by_id = {s.snapshot_id: s for s in snaps}
    for s in snaps:
        if s.snapshot_id == 1:
            continue
        parent = by_id[s.parent_snapshot_id]
        prev_state = t.read(version=parent.snapshot_id)
        cur_state = t.read(version=s.snapshot_id)
        for tag, delta in (
            ("insert", cur_state.exceptAll(prev_state)),
            ("delete", prev_state.exceptAll(cur_state)),
        ):
            for r in delta.collect():
                generic_rows.append((r.k, r.s, tag, s.snapshot_id))

    assert sorted(((r.k, r.s, r._change_type, r._commit_version) for r in fast), key=str) == sorted(
        generic_rows, key=str
    )
    # NULL-keyed delete flowed through the fast path's eqNullSafe join
    assert (None, "n", "delete", 3) in {(r.k, r.s, r._change_type, r._commit_version) for r in fast}
    # sequence-number rule: the re-inserted key is an insert at v4, never retro-deleted
    assert (2, "back", "insert", 4) in {(r.k, r.s, r._change_type, r._commit_version) for r in fast}


def test_partitioned_sink_and_source_roundtrip_special_chars(spark, tmp_path):
    """Hive dir-name encoding parity: pyarrow's fanout writer
    percent-encodes partition values ('=', '/', '%', space, ':') exactly
    as Spark's reader decodes them, and the facade source's unquote()
    re-attach matches — both directions pinned so neither library's
    encoding can drift silently."""
    _register(spark)
    vals = ["plain", "has space", "a=b", "a/b", "a:b", "100%"]
    src = SnapshotParquetTable(spark, str(tmp_path / "src"))
    src.create(
        spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id long, k string")
    )
    tgt = SnapshotParquetTable(spark, str(tmp_path / "tgt"))
    tgt.create(spark.createDataFrame([], "id long, k string"), partition_by=["k"])
    _pipe(spark, src.path, tgt.path, str(tmp_path / "ck"), "sp18")
    assert sorted((r.id, r.k) for r in tgt.read().collect()) == sorted(enumerate(vals))

    # and back OUT through the facade source (identity re-attach from
    # the encoded dir names)
    seen: list[tuple] = []
    _drain(
        spark,
        tgt.path,
        str(tmp_path / "ck2"),
        lambda df, b: seen.extend((r.id, r.k) for r in df.collect()),
    )
    assert sorted(seen) == sorted(enumerate(vals))
