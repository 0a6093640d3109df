"""Round-13 invariants: the IVF×SQ8 composed ANN path (VERDICT r12 #5),
plus tests for the other r13 additions as they land (persisted ANN index
maintenance, append-mode watermarked streaming drain)."""

from __future__ import annotations

from conftest import SF_SMOKE


def test_ivfsq8_recall_at_least_pq_tier(spark):
    """VERDICT r12 #5 'Done' criterion: the SQ8 composition's recall vs the
    exact dot top-k must be >= the PQ composition's at the same probe
    budget — SQ8's 8 bits/dim in-cell ordering is near-exact, so the only
    loss left is the shared nprobe ceiling."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from local_llm_iceberg_cdw_spark.catalog import load_table
    from local_llm_iceberg_cdw_spark.operators.quantization import (
        IVFSQ8_RECALL_MIN,
        ivfpq_results,
        ivfsq8_results,
    )
    from local_llm_iceberg_cdw_spark.operators.similarity import N_QUERIES, TOP_K, _dot

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qv = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
    )
    cv = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("exact_dot").desc(), F.col("neighbor_id").asc()
    )
    exact = (
        cv.join(qv, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("qv"), F.col("cv")), 6).alias("exact_dot"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    n_exact = exact.count()
    hits_sq8 = (
        ivfsq8_results(spark, SF_SMOKE)
        .join(exact, ["query_id", "neighbor_id"], "left_semi")
        .count()
    )
    hits_pq = (
        ivfpq_results(spark, SF_SMOKE)
        .join(exact, ["query_id", "neighbor_id"], "left_semi")
        .count()
    )
    assert hits_sq8 >= hits_pq, (hits_sq8, hits_pq)
    assert hits_sq8 / n_exact >= IVFSQ8_RECALL_MIN


def test_ivfsq8_judged_form_green(spark):
    from local_llm_iceberg_cdw_spark.operators.quantization import q_ivfsq8_topk
    from local_llm_iceberg_cdw_spark.operators.similarity import N_QUERIES, TOP_K

    rows = q_ivfsq8_topk(spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_queries == N_QUERIES
    assert r.n_exact_results == N_QUERIES * TOP_K
    assert bool(r.recall_ok) is True


def test_append_watermark_eviction_boundary(spark, tmp_path):
    """Pin Spark's append-mode two-watermark semantics that
    q_stream_append_watermark_drained relies on (probed on 4.1.2):

    1. EVICTION is inclusive: a window whose end == watermark is emitted.
    2. The LATE-event filter lags eviction by one micro-batch
       (lateEvents(N) = eviction(N−1)): a row whose window already passed
       the watermark is still aggregated+emitted if it arrives in the very
       next batch after the watermark advanced...
    3. ...and is DROPPED (no duplicate append emission) one batch later,
       once lateEvents has caught up and the window state was evicted.

    Staging: batch0 anchor ts=Jan-10 (wm → Jan-07 00:00:00.000 exactly);
    batch1 a row in window [Jan-06, Jan-07) — end == wm, facts 1+2;
    batch2 another row in the same window — fact 3."""
    import uuid
    from datetime import datetime

    from pyspark.sql import functions as F

    from local_llm_iceberg_cdw_spark.operators.events import (
        _drain_to_memory,
        _stage_ordered,
    )

    land = str(tmp_path / "ev")
    ts = lambda s: datetime.strptime(s, "%Y-%m-%d %H:%M:%S")  # noqa: E731
    schema = "event_id long, ts timestamp, v double"
    _stage_ordered(
        spark,
        [
            spark.createDataFrame([(1, ts("2024-01-10 00:00:00"), 1.0)], schema),
            spark.createDataFrame([(2, ts("2024-01-06 06:00:00"), 10.0)], schema),
            spark.createDataFrame([(3, ts("2024-01-06 18:00:00"), 100.0)], schema),
        ],
        land,
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(land)
    )
    agg = (
        stream.withWatermark("ts", "3 days")
        .groupBy(F.window("ts", "1 day"))
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .select(F.col("window").getField("start").alias("day_start"), "n", "s")
    )
    sink = f"wm_boundary_{uuid.uuid4().hex[:8]}"
    _drain_to_memory(spark, agg, sink, output_mode="append")
    rows = spark.table(sink).orderBy("day_start").collect()
    # exactly ONE emission: the Jan-06 window, holding only batch1's row —
    # batch2's row was late-dropped, batch0's window is still open
    assert [(r.day_start, r.n, r.s) for r in rows] == [
        (ts("2024-01-06 00:00:00"), 1, 10.0)
    ], rows


def _table(spark, tmp_path, name="t"):
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        SnapshotParquetTable,
    )

    return SnapshotParquetTable(spark, str(tmp_path / name))


def test_positional_delete_no_rewrite_sequencing_and_timetravel(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.create(spark.createDataFrame([(i, f"v{i}") for i in range(10)], "k long, v string"))
    dirs_before = list(t._head(t._load()).data_dirs)
    t.delete_where_positions("k % 3 = 0")
    head = t._head(t._load())
    # no data rewrite: same files, one pending position-delete file
    assert head.data_dirs == dirs_before
    assert [e.get("kind") for e in head.delete_files] == ["position"]
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 4, 5, 7, 8]
    # sequencing: a later append's matching rows are NEVER masked
    t.append(spark.createDataFrame([(30, "z"), (33, "z")], "k long, v string"))
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 4, 5, 7, 8, 30, 33]
    # time travel to the pre-delete snapshot still sees every row
    assert sorted(r.k for r in t.read(version=1).collect()) == list(range(10))


def test_dedup_positions_keeps_one_copy_across_files(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.create(spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "k long, v string"))
    t.append(spark.createDataFrame([(1, "a"), (3, "c")], "k long, v string"))
    t.dedup_positions()  # full-row dedup, duplicates span two data files
    assert sorted((r.k, r.v) for r in t.read().collect()) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]
    # key-scoped variant: (k) alone collapses same-key different-payload rows
    t2 = _table(spark, tmp_path, "t2")
    t2.create(spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k long, v string"))
    t2.dedup_positions(["k"])
    assert sorted(r.k for r in t2.read().collect()) == [1, 2]


def test_positional_and_equality_deletes_stack_and_compact_clears(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.create(spark.createDataFrame([(i, i * 10) for i in range(8)], "k long, x long"))
    t.delete_where_positions("k IN (0, 1)")
    t.delete_where_mor("k = 7", ["k"])
    assert sorted(r.k for r in t.read().collect()) == [2, 3, 4, 5, 6]
    contents = sorted(
        r.content for r in t.files().collect() if r.content != "data"
    )
    assert contents == ["equality-deletes", "position-deletes"]
    before = sorted(tuple(r) for r in t.read().collect())
    t.compact()
    head = t._head(t._load())
    assert not head.delete_files  # materialized away
    assert sorted(tuple(r) for r in t.read().collect()) == before


def test_merge_mor_matches_cow_merge_without_rewrite(spark, tmp_path):
    import pytest as _pytest

    rows = [(i, f"v{i}", i * 1.0) for i in range(10)]
    src = [(3, "u3", 300.0), (7, "u7", 700.0), (12, "n12", 12.0)]
    cow = _table(spark, tmp_path, "cow")
    cow.create(spark.createDataFrame(rows, "k long, v string, x double"))
    cow.merge(spark.createDataFrame(src, "k long, v string, x double"), ["k"])
    mor = _table(spark, tmp_path, "mor")
    mor.create(spark.createDataFrame(rows, "k long, v string, x double"))
    dirs_before = list(mor._head(mor._load()).data_dirs)
    mor.merge_mor(spark.createDataFrame(src, "k long, v string, x double"), ["k"])
    head = mor._head(mor._load())
    # no rewrite: parent files intact + exactly one data file and one
    # delete file added in a single snapshot
    assert head.data_dirs[: len(dirs_before)] == dirs_before
    assert len(head.data_dirs) == len(dirs_before) + 1
    assert len(head.delete_files) == 1
    assert sorted(tuple(r) for r in mor.read().collect()) == sorted(
        tuple(r) for r in cow.read().collect()
    )
    # time travel to the pre-merge state still sees the original rows
    assert sorted(r.v for r in mor.read(version=1).collect()) == sorted(
        v for _, v, _ in rows
    )
    # Iceberg MERGE cardinality rule holds for the MOR path too
    with _pytest.raises(ValueError, match="duplicate key"):
        mor.merge_mor(
            spark.createDataFrame([(1, "a", 1.0), (1, "b", 2.0)], "k long, v string, x double"),
            ["k"],
        )


def test_cherry_pick_semantics_and_refusals(spark, tmp_path):
    import pytest as _pytest

    t = _table(spark, tmp_path)
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    v1 = t._head(t._load()).snapshot_id
    t.create_branch("wip", version=v1)
    v2 = t.append(spark.createDataFrame([(3, "c")], "k long, v string"), branch="wip")
    t.append(spark.createDataFrame([(4, "d")], "k long, v string"))  # main diverges
    with _pytest.raises(ValueError, match="fast-forward"):
        t.fast_forward("wip")
    sid = t.cherry_pick(v2)
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3, 4]
    # branch untouched; refs metadata table sees every ref
    refs = {r.ref_name: (r.type, r.snapshot_id) for r in t.refs().collect()}
    assert refs["wip"] == ("branch", v2)
    assert refs["main"] == ("branch", sid)
    assert sorted(r.k for r in t.read(ref="wip").collect()) == [1, 2, 3]
    # re-applying the same delta refuses
    with _pytest.raises(ValueError, match="already visible"):
        t.cherry_pick(v2)
    # non-append snapshots refuse
    del_sid = t.delete_where_positions("k = 4")
    with _pytest.raises(ValueError, match="append snapshots only"):
        t.cherry_pick(del_sid)


def test_changelog_over_merge_mor_is_the_logical_upsert(spark, tmp_path):
    """read_changes must see a MOR MERGE as its logical row changes —
    delete(old matched row) + insert(new rows) — not as the physical
    delete-file/data-file commits (the CDF contract the downstream
    consumers rely on, independent of merge mode)."""
    t = _table(spark, tmp_path)
    t.create(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string"))
    sid = t.merge_mor(spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string"), ["k"])
    ch = sorted(
        (r.k, r.v, r._change_type) for r in t.read_changes(sid - 1, sid).collect()
    )
    assert ch == [(2, "B", "insert"), (2, "b", "delete"), (4, "d", "insert")], ch


def test_cherry_pick_is_an_incremental_append_for_cdc_consumers(spark, tmp_path):
    """A cherry-picked snapshot has operation=append and adds exactly the
    picked delta files, so incremental (CDC) consumers see its rows as a
    plain append — no special-casing downstream."""
    t = _table(spark, tmp_path)
    t.create(spark.createDataFrame([(1, "a")], "k long, v string"))
    v1 = t._head(t._load()).snapshot_id
    t.create_branch("wip", version=v1)
    v2 = t.append(spark.createDataFrame([(2, "b")], "k long, v string"), branch="wip")
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    picked = t.cherry_pick(v2)
    delta = sorted(r.k for r in t.read_incremental(picked - 1, picked).collect())
    assert delta == [2], delta


def test_rewrite_position_deletes_merges_files_value_neutrally(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.create(spark.createDataFrame([(i, i * 10) for i in range(12)], "k long, x long"))
    assert t.rewrite_position_deletes() == 0  # nothing pending
    t.delete_where_positions("k IN (0, 1)")
    assert t.rewrite_position_deletes() == 0  # single file: nothing to merge
    t.delete_where_positions("k = 5")
    t.dedup_positions()  # third file (no dups: empty, still a file)
    before = sorted(tuple(r) for r in t.read().collect())
    sid = t.rewrite_position_deletes()
    assert sid > 0
    head = t._head(t._load())
    kinds = [e.get("kind") for e in head.delete_files]
    assert kinds == ["position"], kinds  # 3 files collapsed to 1
    assert sorted(tuple(r) for r in t.read().collect()) == before
    # changelog: the rewrite is a physical, not logical, change
    changes = t.read_changes(sid - 1, sid)
    assert changes.count() == 0


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_positional_delete_read_plan_is_broadcast_anti_join(spark, tmp_path):
    """100 TB invariant: position-delete masking must be a BROADCAST
    left-anti hash join (delete files are position-tuple-sized), never a
    shuffle join or cartesian over the data side."""
    t = _table(spark, tmp_path)
    t.create(spark.createDataFrame([(i, i * 10) for i in range(100)], "k long, x long"))
    t.delete_where_positions("k % 9 = 0")
    plan = _plan_of(t.read())
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_ann_search_plan_broadcasts_probes_no_cartesian(spark):
    """The persisted-index search must broadcast the q·nprobe probe rows
    onto the cell-keyed index scan — no shuffle of the index side beyond
    the final per-query top-k window, and no cartesian."""
    import tempfile

    from pyspark.sql import functions as F

    from local_llm_iceberg_cdw_spark.catalog import load_table
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        SnapshotParquetTable,
    )
    from local_llm_iceberg_cdw_spark.operators.snapshots_op import _ann_encode
    from local_llm_iceberg_cdw_spark.operators.similarity import (
        IVF_NPROBE,
        N_QUERIES,
        _probe_cells_udf,
        collect_centroids,
    )

    wd = tempfile.mkdtemp(prefix="annplan_")
    cents = collect_centroids(spark, SF_SMOKE)
    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    idx = SnapshotParquetTable(spark, f"{wd}/idx")
    idx.create(_ann_encode(spark, emb, cents))
    queries = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        .withColumn("cell", F.explode(_probe_cells_udf(cents, IVF_NPROBE)(F.col("qv"))))
    )
    joined = idx.read().join(queries, "cell").filter(F.col("query_id") != F.col("vec_id"))
    plan = _plan_of(joined)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_ivfsq8_floor_strictly_above_pq_floor():
    from local_llm_iceberg_cdw_spark.operators.quantization import (
        IVFPQ_RECALL_MIN,
        IVFSQ8_RECALL_MIN,
    )

    assert IVFSQ8_RECALL_MIN > IVFPQ_RECALL_MIN
