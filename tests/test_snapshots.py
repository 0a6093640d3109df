"""Snapshot/time-travel semantics (SURVEY §5 item 4): two appends → query
at t1 vs t2 sees 200 vs 250 customers, mirroring the reference demo
(/root/reference/README.md:94-108), plus history/compaction/expiry."""

from __future__ import annotations

import os

import pytest

from local_llm_iceberg_cdw_spark.datagen.telco import generate_append, generate_initial
from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import Namespace, SnapshotParquetTable


@pytest.fixture(scope="module")
def telco_ns(spark, tmp_path_factory):
    """Telco warehouse with the reference's two-batch load history."""
    ns = Namespace(spark, str(tmp_path_factory.mktemp("wh")), "telco")
    initial = generate_initial(spark)
    for name, df in initial.items():
        ns.table(name).create(df)
    # timestamps are driver-controlled per append for deterministic travel
    t = ns.table("customers")
    snaps = t._load()
    snaps[0].timestamp_ms = 1_000
    t._commit(snaps)
    max_ids = {
        "customers": 200,
        "subscriptions": 200,
        "usage_records": 5000,
        "recharges": 1000,
    }
    batch = generate_append(spark, max_ids)
    for name, df in batch.items():
        ns.table(name).append(df, timestamp_ms=2_000)
    return ns


def test_two_snapshots_counts(telco_ns):
    t = telco_ns.table("customers")
    assert t.read(version=1).count() == 200
    assert t.read(version=2).count() == 250
    assert t.read().count() == 250


def test_time_travel_by_timestamp(telco_ns):
    t = telco_ns.table("customers")
    assert t.read(as_of_timestamp_ms=1_500).count() == 200  # between commits
    assert t.read(as_of_timestamp_ms=2_500).count() == 250
    with pytest.raises(ValueError):
        t.read(as_of_timestamp_ms=500)  # before first snapshot


def test_history_metadata(telco_ns):
    t = telco_ns.table("customers")
    hist = t.history().collect()
    assert [h.snapshot_id for h in hist] == [1, 2]
    snaps = {s.snapshot_id: s.operation for s in t.snapshots().collect()}
    assert snaps == {1: "append", 2: "append"}


def test_append_id_continuation(telco_ns):
    """Max-ID continuation: appended ids never collide
    (append_iceberg.py:104-123 semantics)."""
    from pyspark.sql import functions as F

    t = telco_ns.table("customers").read()
    assert t.select(F.countDistinct("customer_id")).collect()[0][0] == 250
    assert t.agg(F.max("customer_id")).collect()[0][0] == 250


def test_compaction_preserves_data_and_history(telco_ns):
    t = telco_ns.table("usage_records")
    before = t.read().count()
    sid = t.compact(target_file_count=1)
    assert t.read().count() == before
    assert t.read(version=sid).count() == before
    ops = [s.operation for s in t.snapshots().collect()]
    assert ops[-1] == "replace" and "append" in ops


def test_expire_snapshots(spark, tmp_path):
    ns = Namespace(spark, str(tmp_path), "exp")
    t = ns.table("tiny")
    df = spark.range(10).withColumnRenamed("id", "v")
    t.create(df)
    t.append(spark.range(5).withColumnRenamed("id", "v"))
    t.compact()
    removed = t.expire_snapshots(keep_last=1)
    assert removed >= 1
    assert t.read().count() == 15  # current state untouched
    assert len(t._load()) == 1


def test_drop_and_recreate(spark, tmp_path):
    ns = Namespace(spark, str(tmp_path), "ddl")
    t = ns.table("x")
    t.create(spark.range(3))
    with pytest.raises(ValueError):
        t.create(spark.range(3))  # already exists
    t.drop()
    assert not t.exists()
    t.create(spark.range(4))
    assert t.read().count() == 4


def test_iceberg_module_sql_generation(spark):
    """Native-Iceberg path: SQL generation is unit-testable without the
    jar; execution paths share the fallback's contract."""
    import pytest as _pytest

    from local_llm_iceberg_cdw_spark.formats import iceberg as ice
    from local_llm_iceberg_cdw_spark.session import iceberg_runtime_available

    conf = ice.iceberg_session_conf("/tmp/wh")
    assert conf["spark.sql.catalog.local.type"] == "hadoop"
    if not iceberg_runtime_available():
        with _pytest.raises(RuntimeError):
            ice.IcebergTable(spark, "db", "t")
        t = ice.IcebergTable.__new__(ice.IcebergTable)
        t.ident = "local.db.t"
        assert "rewrite_data_files" in t.compact_sql()
        assert "expire_snapshots" in t.expire_snapshots_sql("2026-01-01 00:00:00")
        assert t.time_travel_sql("2026-01-01 00:00:00").endswith("AS OF '2026-01-01 00:00:00'")
        m = t.merge_sql("src", ["id", "day"])
        assert m.startswith("MERGE INTO local.db.t t USING src s ON t.id = s.id AND t.day = s.day")
        assert "WHEN MATCHED THEN UPDATE SET *" in m and "WHEN NOT MATCHED THEN INSERT *" in m
        assert t.delete_where_sql("id % 2 = 0") == "DELETE FROM local.db.t WHERE id % 2 = 0"
    # time-travel read options must use the documented Iceberg names —
    # unknown options are silently ignored (→ silent current-snapshot reads)
    assert ice.IcebergTable.read_options(snapshot_id=7) == {"snapshot-id": "7"}
    assert ice.IcebergTable.read_options(as_of_timestamp_ms=123456) == {
        "as-of-timestamp": "123456"
    }
    assert ice.IcebergTable.read_options() == {}


def test_resolve_format_falls_back(spark, tmp_path):
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import Namespace, resolve_format
    from local_llm_iceberg_cdw_spark.session import iceberg_runtime_available

    ns = resolve_format(spark, str(tmp_path))
    if not iceberg_runtime_available():
        assert isinstance(ns, Namespace)


def test_merge_upserts_and_preserves_history(spark, tmp_path):
    """COW MERGE: matched keys take the source version, unmatched source
    rows insert; the pre-merge snapshot stays time-travelable."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, tag string, v double"
    )
    delta = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "id long, tag string, v double"
    )
    t = SnapshotParquetTable(spark, str(tmp_path / "m"))
    t.create(base)
    sid = t.merge(delta, ["id"])

    got = {r.id: (r.tag, r.v) for r in t.read().collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}
    # pre-merge state intact under time travel
    before = {r.id: (r.tag, r.v) for r in t.read(version=1).collect()}
    assert before == {1: ("a", 10.0), 2: ("b", 20.0), 3: ("c", 30.0)}
    ops = [r.operation for r in t.snapshots().orderBy("snapshot_id").collect()]
    assert ops == ["append", "overwrite"] and sid == 2


def test_delete_where_is_a_new_snapshot(spark, tmp_path):
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    base = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, v double"
    )
    t = SnapshotParquetTable(spark, str(tmp_path / "d"))
    t.create(base)
    t.delete_where("id % 2 = 0")
    assert sorted(r.id for r in t.read().collect()) == [1, 3, 5, 7, 9]
    assert t.read(version=1).count() == 10
    ops = [r.operation for r in t.snapshots().orderBy("snapshot_id").collect()]
    assert ops == ["append", "delete"]


def test_merge_is_idempotent_for_identical_delta(spark, tmp_path):
    """Re-applying the same delta (a retried backfill) changes nothing —
    the idempotency that makes COW merge safe for pipeline retries."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    base = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
    delta = spark.createDataFrame([(2, 9.0), (3, 3.0)], "id long, v double")
    t = SnapshotParquetTable(spark, str(tmp_path / "i"))
    t.create(base)
    t.merge(delta, ["id"])
    first = sorted(tuple(r) for r in t.read().collect())
    t.merge(delta, ["id"])
    assert sorted(tuple(r) for r in t.read().collect()) == first


def test_partitioned_table_prunes_and_survives_dml(spark, tmp_path):
    """PARTITIONED BY semantics on the snapshot format: partition filters
    prune directories at the scan; appends inherit the spec; merge keeps
    the layout; a mismatched spec is rejected."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    df = spark.range(100).select(
        "id", (F.col("id") % 4).alias("day"), (F.col("id") * 1.5).alias("v")
    )
    t = SnapshotParquetTable(spark, str(tmp_path / "p"))
    t.create(df, partition_by=["day"])
    t.append(df.withColumn("id", F.col("id") + 100))  # inherits spec

    filtered = t.read().filter(F.col("day") == 2)
    assert filtered.count() == 50
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan, plan

    # merge keeps the partitioned layout
    delta = spark.createDataFrame([(5, 1, 999.0)], "id long, day long, v double")
    t.merge(delta, ["id"])
    assert t.read().filter("id = 5").collect()[0].v == 999.0
    assert t._load()[-1].partition_by == ["day"]

    with _pytest.raises(ValueError, match="partition spec mismatch"):
        t.append(df, partition_by=["v"])


def test_schema_evolution_add_column(spark, tmp_path):
    """Add-column evolution: the manifest's schema advances; pre-evolution
    files read the new column as NULL; drift without the flag is rejected,
    as are drops/retypes."""
    from pyspark.sql import functions as F

    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    t = SnapshotParquetTable(spark, str(tmp_path / "ev"))
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "id long, tag string"))

    widened = spark.createDataFrame([(3, "c", 0.5)], "id long, tag string, score double")
    with pytest.raises(ValueError, match="evolve_schema=True"):
        t.append(widened)
    t.append(widened, evolve_schema=True)

    cur = t.read()
    assert cur.schema.fieldNames() == ["id", "tag", "score"]
    rows = {r.id: r.score for r in cur.collect()}
    assert rows == {1: None, 2: None, 3: 0.5}
    # time travel to v1 keeps the old two-column schema
    assert t.read(version=1).schema.fieldNames() == ["id", "tag"]

    with pytest.raises(ValueError, match="only add-column"):
        t.append(spark.createDataFrame([(4,)], "id long"), evolve_schema=True)
    with pytest.raises(ValueError, match="only add-column"):
        t.append(
            spark.createDataFrame([(4, "d", 1)], "id long, tag string, score int"),
            evolve_schema=True,
        )
    # aggregation over the evolved column treats old rows as NULL (skipped)
    assert cur.agg(F.sum("score")).collect()[0][0] == 0.5


def test_append_rejects_partitioning_an_unpartitioned_table(spark, tmp_path):
    import pytest

    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.range(4).selectExpr("id", "id % 2 AS part"))
    with pytest.raises(ValueError, match="partition spec mismatch"):
        t.append(spark.range(4, 8).selectExpr("id", "id % 2 AS part"), partition_by=["part"])


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    import pytest

    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.range(4).selectExpr("id", "id * 10 AS v"))
    dup_src = spark.createDataFrame([(1, 100), (1, 200)], "id long, v long")
    with pytest.raises(ValueError, match="duplicate key"):
        t.merge(dup_src, ["id"])


def test_incremental_read_deltas_and_guards(spark, tmp_path):
    """read_incremental returns exactly the appended batch; non-append
    snapshots in the range raise; bad ranges raise."""
    import pytest
    from pyspark.sql import functions as F

    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.range(0, 10).withColumn("v", F.col("id") * 2))
    t.append(spark.range(10, 15).withColumn("v", F.col("id") * 2))
    t.append(spark.range(15, 25).withColumn("v", F.col("id") * 2))

    assert sorted(r.id for r in t.read_incremental(1, 2).collect()) == list(range(10, 15))
    assert sorted(r.id for r in t.read_incremental(1, 3).collect()) == list(range(10, 25))
    assert sorted(r.id for r in t.read_incremental(2, 3).collect()) == list(range(15, 25))

    with pytest.raises(ValueError, match="empty incremental range"):
        t.read_incremental(2, 2)
    with pytest.raises(ValueError, match="unknown snapshot range"):
        t.read_incremental(1, 9)

    t.delete_where("id >= 20")  # snapshot 4: rewrite
    with pytest.raises(ValueError, match="append snapshots"):
        t.read_incremental(2, 4)
    # ranges entirely before the rewrite still work
    assert t.read_incremental(1, 2).count() == 5


def test_read_changes_columns_match_read(spark, tmp_path):
    """An append's changelog rows come through read()'s dir scan: the
    columns are read()'s, in read()'s order, plus the two change columns
    — on unpartitioned, identity and hidden-transform layouts (no hive
    layout column, no partition column moved last)."""
    import datetime

    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    def batch(lo):
        return spark.createDataFrame(
            [(k, datetime.datetime(2024, 1, 1 + k)) for k in range(lo, lo + 2)],
            "k long, ts timestamp",
        )

    for name, spec in (("plain", None), ("identity", ["k"]), ("hidden", ["days(ts)"])):
        t = SnapshotParquetTable(spark, str(tmp_path / name))
        t.create(batch(0), partition_by=spec)
        v2 = t.append(batch(2))
        changes = t.read_changes(1, v2)
        assert changes.columns == t.read().columns + ["_change_type", "_commit_version"], name
        assert sorted(r.k for r in changes.collect()) == [2, 3], name


def test_tags_and_branches(spark, tmp_path):
    """Iceberg-style named refs: a tag freezes a state, a branch diverges
    from main without touching it, and main DML keeps advancing main."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,), (2,)], "id long"))
    t.create_tag("initial")
    t.create_branch("exp")
    # main advances; the tag and branch stay at v1
    t.append(spark.createDataFrame([(3,)], "id long"))
    # the branch gets its own commit (main must not see id=99)
    t.append(spark.createDataFrame([(99,)], "id long"), branch="exp")

    ids = lambda df: sorted(r.id for r in df.collect())  # noqa: E731
    assert ids(t.read()) == [1, 2, 3]                    # main head
    assert ids(t.read(ref="initial")) == [1, 2]          # frozen tag
    assert ids(t.read(ref="exp")) == [1, 2, 99]          # diverged branch
    # further main DML still ignores the branch lineage
    t.delete_where("id = 2")
    assert ids(t.read()) == [1, 3]
    assert ids(t.read(ref="exp")) == [1, 2, 99]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="tags are immutable"):
        t.append(spark.createDataFrame([(5,)], "id long"), branch="initial")
    with _pytest.raises(ValueError, match="already exists"):
        t.create_tag("initial")
    with _pytest.raises(ValueError, match="unknown ref"):
        t.read(ref="nope")


def test_expire_keeps_ref_targets(spark, tmp_path):
    """expire_snapshots never drops a snapshot a tag/branch points at."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "id long"))
    t.create_tag("keepme")                  # pins v1
    t.append(spark.createDataFrame([(2,)], "id long"))
    t.append(spark.createDataFrame([(3,)], "id long"))
    t.expire_snapshots(keep_last=1)
    assert sorted(r.id for r in t.read(ref="keepme").collect()) == [1]
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]


def test_wap_fast_forward(spark, tmp_path):
    """Write-audit-publish: load into a branch, audit, fast-forward main.
    Publishing is metadata-only and atomic; a diverged main refuses."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "id long"))
    t.create_branch("staging")
    t.append(spark.createDataFrame([(2,)], "id long"), branch="staging")  # write
    # audit on the branch: main consumers still see only [1]
    assert sorted(r.id for r in t.read(ref="staging").collect()) == [1, 2]
    assert sorted(r.id for r in t.read().collect()) == [1]
    t.fast_forward("staging")                                             # publish
    assert sorted(r.id for r in t.read().collect()) == [1, 2]

    # divergence: a main commit after the branch point blocks fast-forward
    t2 = SnapshotParquetTable(spark, str(tmp_path / "t2"))
    t2.create(spark.createDataFrame([(1,)], "id long"))
    t2.create_branch("staging")
    t2.append(spark.createDataFrame([(2,)], "id long"), branch="staging")
    t2.append(spark.createDataFrame([(3,)], "id long"))  # main diverges
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cannot fast-forward"):
        t2.fast_forward("staging")


def test_timestamp_travel_follows_main_ancestry(spark, tmp_path):
    """Iceberg semantics: a main-branch TIMESTAMP AS OF must never see an
    experiment-branch snapshot, even when the branch commit is the latest
    eligible timestamp in the shared manifest (reference time-travel demo
    README.md:100-108 travels main history only)."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "id long"))
    t.append(spark.createDataFrame([(2,)], "id long"), timestamp_ms=1_000)
    t.create_branch("exp")
    t.append(spark.createDataFrame([(99,)], "id long"), branch="exp", timestamp_ms=2_000)
    ids = lambda df: sorted(r.id for r in df.collect())  # noqa: E731
    # ts=2_500: the branch snapshot (ts 2000) is newer but NOT main history
    assert ids(t.read(as_of_timestamp_ms=2_500)) == [1, 2]
    # main advances after the branch commit; both states reachable on main
    t.append(spark.createDataFrame([(3,)], "id long"), timestamp_ms=3_000)
    assert ids(t.read(as_of_timestamp_ms=2_500)) == [1, 2]
    assert ids(t.read(as_of_timestamp_ms=3_500)) == [1, 2, 3]
    # the branch itself still reads its own lineage by ref
    assert ids(t.read(ref="exp")) == [1, 2, 99]
    # history: branch snapshot excluded from main ancestry, parents recorded
    hist = {r.snapshot_id: r for r in t.history().collect()}
    assert hist[3].is_current_ancestor is False  # the exp commit
    assert hist[4].is_current_ancestor is True
    assert hist[4].parent_id == 2  # main lineage skips the branch commit
    assert hist[3].parent_id == 2  # branch forked from main@2


def test_fast_forward_after_branch_compact(spark, tmp_path):
    """A branch-side compact rewrites data_dirs but preserves lineage, so
    fast-forward (ancestry-based) must still publish the branch."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "id long"))
    t.create_branch("staging")
    t.append(spark.createDataFrame([(2,)], "id long"), branch="staging")
    t.compact(target_file_count=1, branch="staging")  # replace on the branch
    assert sorted(r.id for r in t.read().collect()) == [1]  # main untouched
    t.fast_forward("staging")
    assert sorted(r.id for r in t.read().collect()) == [1, 2]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="tags are immutable"):
        t.create_tag("pin")
        t.compact(branch="pin")


def test_files_metadata_table(spark, tmp_path):
    """t.files: footer-derived per-file stats sum to the table's row
    count, at the current snapshot and under time travel."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.range(100).toDF("id"))
    t.append(spark.range(100, 150).toDF("id"))

    cur = t.files().collect()
    assert sum(r.record_count for r in cur) == 150
    assert all(r.file_size_in_bytes > 0 and r.file_path.endswith(".parquet") for r in cur)
    v1 = t.files(version=1).collect()
    assert sum(r.record_count for r in v1) == 100
    # two data dirs at v2, one at v1
    assert {r.data_dir for r in v1} < {r.data_dir for r in cur}


# -- _backfill_parents: lineage recovery for pre-lineage manifests ----------
#
# These fixtures build a lineage-bearing table, record the true parents,
# then strip parent_snapshot_id from the manifest (simulating a manifest
# written before lineage existed) and assert _load()'s recovery.


def _true_parents(t):
    return {s.snapshot_id: s.parent_snapshot_id for s in t._load()}


def _strip_parents(t, drop_fork_info=False):
    import json as _json
    import os as _os

    with open(t._manifest_path()) as f:
        raw = _json.load(f)
    for s in raw:
        s.pop("parent_snapshot_id", None)
    with open(t._manifest_path(), "w") as f:
        _json.dump(raw, f)
    if drop_fork_info and _os.path.exists(t._refs_path()):
        with open(t._refs_path()) as f:
            refs = _json.load(f)
        for r in refs.values():
            r.pop("fork_snapshot_id", None)
        with open(t._refs_path(), "w") as f:
            _json.dump(refs, f)


def test_backfill_linear_chain(spark, tmp_path):
    """(a) linear main-only history: recovered parents are exact for every
    operation kind (append via data_dirs prefix, non-append via the
    previous entry, which is exact on a linear table)."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,), (2,)], "id long"))
    t.append(spark.createDataFrame([(3,)], "id long"))
    t.delete_where("id = 1")
    t.append(spark.createDataFrame([(4,)], "id long"))
    t.compact(target_file_count=1)
    truth = _true_parents(t)
    assert truth == {1: None, 2: 1, 3: 2, 4: 3, 5: 4}
    _strip_parents(t)
    assert _true_parents(t) == truth


def test_backfill_interleaved_branch_appends(spark, tmp_path):
    """(b) branch appends interleaved with main appends: every append is
    recovered EXACTLY via the data_dirs prefix match, so main's lineage
    skips the branch commits and the branch reads its own chain."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "id long"))          # s1 main
    t.append(spark.createDataFrame([(2,)], "id long"))          # s2 main
    t.create_branch("exp")                                      # fork @ s2
    t.append(spark.createDataFrame([(90,)], "id long"), branch="exp")  # s3
    t.append(spark.createDataFrame([(3,)], "id long"))          # s4 main
    t.append(spark.createDataFrame([(91,)], "id long"), branch="exp")  # s5
    t.append(spark.createDataFrame([(4,)], "id long"))          # s6 main
    truth = _true_parents(t)
    assert truth == {1: None, 2: 1, 3: 2, 4: 2, 5: 3, 6: 4}
    _strip_parents(t, drop_fork_info=True)  # appends need no fork info
    assert _true_parents(t) == truth
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3, 4]
    assert sorted(r.id for r in t.read(ref="exp").collect()) == [1, 2, 90, 91]


def test_backfill_non_append_after_branch_fork_exact_with_fork_info(spark, tmp_path):
    """(c) the ADVICE shape — [append, delete, append, branch-append,
    delete]: the branch walk passes through the fork into main history, so
    whole-walk exclusion would chain s5 to s1.  With fork_snapshot_id in
    the refs file (recorded at creation), recovery is exact: s5.parent=s3,
    and main TIMESTAMP AS OF between s3 and s5 sees s3's state."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "id long"))                    # s1
    t.delete_where("id = 1")                                              # s2
    t.append(spark.createDataFrame([(3,)], "id long"), timestamp_ms=3_000)  # s3
    t.create_branch("exp")                                                # fork @ s3
    t.append(spark.createDataFrame([(99,)], "id long"), branch="exp", timestamp_ms=4_000)  # s4
    t.delete_where("id < 0")                                              # s5 main no-op delete
    truth = _true_parents(t)
    assert truth == {1: None, 2: 1, 3: 2, 4: 3, 5: 3}
    _strip_parents(t)
    assert _true_parents(t) == truth
    # main time travel between s3 and s5 must see s3's rows, not s1's
    # emptied state and not the branch's 99
    assert sorted(r.id for r in t.read(as_of_timestamp_ms=4_500).collect()) == [3]
    hist = {r.snapshot_id: r.is_current_ancestor for r in t.history().collect()}
    assert hist == {1: True, 2: True, 3: True, 4: False, 5: True}


def test_backfill_non_append_after_branch_fork_legacy_conservative(spark, tmp_path):
    """(c') same shape WITHOUT fork info (legacy refs): the append-run rule
    cannot tell whether s3 is the fork (main append) or a second branch
    append — both histories write identical bytes — so it excludes the
    whole append run {s4, s3} and recovers s5.parent=s2: conservative
    (an older MAIN snapshot), never the branch commit s4, never the
    whole-walk bug's s1."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "id long"))                    # s1
    t.delete_where("id = 1")                                              # s2
    t.append(spark.createDataFrame([(3,)], "id long"))                    # s3
    t.create_branch("exp")                                                # fork @ s3
    t.append(spark.createDataFrame([(99,)], "id long"), branch="exp")     # s4
    t.delete_where("id < 0")                                              # s5
    _strip_parents(t, drop_fork_info=True)
    parents = _true_parents(t)
    assert parents[5] == 2  # conservative main parent; the bug gave 1
    assert parents[5] != 4  # branch rows never leak into main ancestry
    # the walk below a non-append fork IS shared history and is not excluded
    t2 = SnapshotParquetTable(spark, str(tmp_path / "t2"))
    t2.create(spark.createDataFrame([(1,)], "id long"))                   # s1
    t2.delete_where("id = 1")                                             # s2 (fork)
    t2.create_branch("exp")
    t2.append(spark.createDataFrame([(99,)], "id long"), branch="exp")    # s3
    t2.delete_where("id < 0")                                             # s4 main
    _strip_parents(t2, drop_fork_info=True)
    assert _true_parents(t2)[4] == 2  # exact: stops at the non-append fork


def test_backfill_tag_excludes_nothing(spark, tmp_path):
    """A tag is a pointer at existing (main) history, not a lineage owner:
    its walk must not push a non-append's recovered parent off main."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "id long"))   # s1
    t.append(spark.createDataFrame([(2,)], "id long"))   # s2
    t.create_tag("release")                              # pin @ s2
    t.delete_where("id = 1")                             # s3
    _strip_parents(t, drop_fork_info=True)
    assert _true_parents(t) == {1: None, 2: 1, 3: 2}


def test_rollback_moves_main_without_deleting_data(spark, tmp_path):
    """rollback_to is metadata-only: main reads the target state, the
    rolled-back-over snapshot still time-travels exactly, and history
    retains it until expiry."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        SnapshotParquetTable,
    )

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "id long"))        # s1
    v2 = t.append(spark.createDataFrame([(2,)], "id long"))   # s2
    v3 = t.append(spark.createDataFrame([(666,)], "id long"))  # s3 (bad)
    assert t.rollback_to(v2) == v2
    assert sorted(r.id for r in t.read().collect()) == [1, 2]
    # forensic read of the bad snapshot still works, data intact
    assert sorted(r.id for r in t.read(version=v3).collect()) == [1, 2, 666]
    assert t.snapshots().count() == 3  # nothing expired by rollback


def test_rollback_fork_then_fix_parents_on_target(spark, tmp_path):
    """An append after rollback parents on the rollback target (the
    lineage forks around the bad snapshot), and main's ancestry never
    includes the rolled-back-over commit."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        SnapshotParquetTable,
    )

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "id long"))        # s1
    v2 = t.append(spark.createDataFrame([(2,)], "id long"))   # s2
    t.append(spark.createDataFrame([(666,)], "id long"))      # s3 (bad)
    t.rollback_to(v2)
    v4 = t.append(spark.createDataFrame([(3,)], "id long"))   # the fix
    snaps = {s.snapshot_id: s for s in t._load()}
    assert snaps[v4].parent_snapshot_id == v2
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]


def test_rollback_rejects_non_ancestors_and_unknown(spark, tmp_path):
    """Rolling 'back' to a side branch head or an unknown id is an
    error — rollback targets main's own lineage only."""
    import pytest as _pytest

    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        SnapshotParquetTable,
    )

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "id long"))        # s1
    t.create_branch("exp")
    b = t.append(spark.createDataFrame([(9,)], "id long"), branch="exp")  # s2
    t.append(spark.createDataFrame([(2,)], "id long"))        # s3 on main
    with _pytest.raises(ValueError, match="not an ancestor"):
        t.rollback_to(b)
    with _pytest.raises(ValueError, match="unknown snapshot"):
        t.rollback_to(999)


def test_mor_delete_masks_without_rewrite(spark, tmp_path):
    """Merge-on-read equality delete: keys vanish from reads, the data
    files are NOT rewritten (data_dirs identical to the parent), and
    the delete file is tuple-sized."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        SnapshotParquetTable,
    )

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string"))
    t.delete_where_mor("id = 2", ["id"])
    assert sorted(r.id for r in t.read().collect()) == [1, 3]
    snaps = t._load()
    assert snaps[-1].data_dirs == snaps[0].data_dirs  # no rewrite
    assert len(snaps[-1].delete_files) == 1


def test_mor_readd_after_delete_is_visible(spark, tmp_path):
    """Iceberg sequence-number semantics: an append AFTER the equality
    delete re-adds the key — the delete masks only older files."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        SnapshotParquetTable,
    )

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    t.delete_where_mor("id = 2", ["id"])
    t.append(spark.createDataFrame([(2, "b2")], "id long, v string"))
    rows = {(r.id, r.v) for r in t.read().collect()}
    assert rows == {(1, "a"), (2, "b2")}  # old (2,'b') masked, new visible


def test_mor_compact_materializes_deletes(spark, tmp_path):
    """compact() rewrites the VISIBLE state: the replace snapshot
    carries no pending delete files and reads identically."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        SnapshotParquetTable,
    )

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(i, "x") for i in range(6)], "id long, v string"))
    t.delete_where_mor("id >= 4", ["id"])
    before = sorted(r.id for r in t.read().collect())
    t.compact()
    snaps = t._load()
    assert not snaps[-1].delete_files
    assert sorted(r.id for r in t.read().collect()) == before == [0, 1, 2, 3]


def test_mor_expire_keeps_live_delete_files(spark, tmp_path):
    """expire_snapshots never reclaims a delete file a kept snapshot
    still references; reads after expiry stay masked."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        SnapshotParquetTable,
    )

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,), (2,)], "id long"))
    t.delete_where_mor("id = 1", ["id"])
    t.append(spark.createDataFrame([(3,)], "id long"))
    t.expire_snapshots(keep_last=1)
    assert sorted(r.id for r in t.read().collect()) == [2, 3]


def test_partition_spec_evolution_unpartitioned_to_partitioned(spark, tmp_path):
    """Iceberg spec evolution: new files land under the new hive layout,
    old files stay untouched, reads union both correctly, and filters on
    the new partition column still return exact results."""
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        SnapshotParquetTable,
    )

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "id long, grp string"))
    t.append(
        spark.createDataFrame([(3, "a"), (4, "c")], "id long, grp string"),
        partition_by=["grp"],
        evolve_partition_spec=True,
    )
    rows = {(r.id, r.grp) for r in t.read().collect()}
    assert rows == {(1, "a"), (2, "b"), (3, "a"), (4, "c")}
    assert {r.id for r in t.read().filter("grp = 'a'").collect()} == {1, 3}
    snaps = t._load()
    assert snaps[-1].mixed_layout and snaps[-1].partition_by == ["grp"]
    # the new dir is hive-laid-out, the old one is not
    import os as _os

    new_dir = snaps[-1].data_dirs[-1]
    assert any(e.startswith("grp=") for e in _os.listdir(new_dir))


def test_partition_spec_evolution_requires_flag_and_compact_resolves(spark, tmp_path):
    """Without the flag a spec change still raises; compact() rewrites
    everything under the CURRENT spec and clears the mixed marker."""
    import pytest as _pytest

    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        SnapshotParquetTable,
    )

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, "a")], "id long, grp string"))
    with _pytest.raises(ValueError, match="partition spec mismatch"):
        t.append(
            spark.createDataFrame([(2, "b")], "id long, grp string"),
            partition_by=["grp"],
        )
    t.append(
        spark.createDataFrame([(2, "b")], "id long, grp string"),
        partition_by=["grp"],
        evolve_partition_spec=True,
    )
    # a further plain append inherits the evolved spec AND the mix marker
    t.append(spark.createDataFrame([(3, "c")], "id long, grp string"))
    assert t._load()[-1].mixed_layout
    before = {(r.id, r.grp) for r in t.read().collect()}
    t.compact()
    snaps = t._load()
    assert not snaps[-1].mixed_layout and snaps[-1].partition_by == ["grp"]
    assert {(r.id, r.grp) for r in t.read().collect()} == before == {
        (1, "a"), (2, "b"), (3, "c"),
    }


# -- one publish path: every commit derives its entry from its parent and
# -- refuses to publish over a concurrent writer ----------------------------

_MIXED_ROWS = [(1, "eu"), (2, "us")]
_MIXED_APPEND = [(3, "eu"), (3, "eu")]


@pytest.mark.parametrize(
    "verb, expected",
    [
        (lambda t, s: t.delete_where_mor("id = 1", ["id"]), [(2, "us"), (3, "eu"), (3, "eu")]),
        (lambda t, s: t.delete_where_positions("id = 1"), [(2, "us"), (3, "eu"), (3, "eu")]),
        (lambda t, s: t.dedup_positions(), [(1, "eu"), (2, "us"), (3, "eu")]),
        (
            lambda t, s: t.merge_mor(s.createDataFrame([(1, "apac")], "id long, region string"), ["id"]),
            [(1, "apac"), (2, "us"), (3, "eu"), (3, "eu")],
        ),
    ],
    ids=["delete_where_mor", "delete_where_positions", "dedup_positions", "merge_mor"],
)
def test_mor_commits_keep_mixed_layout(spark, tmp_path, verb, expected):
    """After a spec evolution to unpartitioned the table mixes a hive
    layout and a flat one; a merge-on-read commit keeps the data files,
    so it must keep the mixed-layout flag too, or every later read
    scans both layouts in one pass and fails on conflicting directory
    structures."""
    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame(_MIXED_ROWS, "id long, region string"), partition_by=["region"])
    t.append(
        spark.createDataFrame(_MIXED_APPEND, "id long, region string"),
        partition_by=[],
        evolve_partition_spec=True,
    )
    verb(t, spark)
    assert sorted((r.id, r.region) for r in t.read().collect()) == expected
    assert t._load()[-1].mixed_layout


def _staged_file(tmp_path) -> list[tuple[str, str]]:
    """One staged parquet file holding id 7, as a sink task leaves it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = str(tmp_path / f"staged-{len(os.listdir(tmp_path))}.parquet")
    pq.write_table(pa.table({"id": pa.array([7], pa.int64())}), f)
    return [(f, "f.parquet")]


def _race_after_load(monkeypatch, racer) -> None:
    """Run ``racer`` once, right after the next manifest load — between
    a commit reading the table and publishing its own snapshot."""
    real_load = SnapshotParquetTable._load
    raced = []

    def racing_load(self, *args, **kwargs):
        snaps = real_load(self, *args, **kwargs)
        if not raced:
            raced.append(True)
            racer()
        return snaps

    monkeypatch.setattr(SnapshotParquetTable, "_load", racing_load)


def test_mor_delete_refuses_a_racing_staged_commit(spark, tmp_path, monkeypatch):
    """A stream sink's staged commit landing while a MOR delete runs must
    fail the delete loudly: publishing the delete's manifest would drop
    the sink's snapshot and its rows."""
    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,), (2,)], "id long"))
    schema_json = t._load()[-1].schema_json
    sink = SnapshotParquetTable(None, t.path)

    _race_after_load(monkeypatch, lambda: sink.commit_staged(_staged_file(tmp_path), schema_json))
    with pytest.raises(RuntimeError, match="concurrent commit"):
        t.delete_where_mor("id = 1", ["id"])
    monkeypatch.undo()

    # the refused delete removed its own file; the sink's commit survived
    assert not os.path.exists(os.path.join(t.path, "delete-snap-000002"))
    assert [(s.snapshot_id, s.operation) for s in t._load()] == [(1, "append"), (2, "append")]
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 7]
    assert t.delete_where_mor("id = 1", ["id"]) == 3
    assert sorted(r.id for r in t.read().collect()) == [2, 7]


def test_expire_refuses_a_racing_append_and_deletes_nothing(spark, tmp_path, monkeypatch):
    """An append landing while ``expire_snapshots`` runs must fail the
    expire before it deletes any dir: the expire publishes its manifest
    first, so a refused publish leaves every snapshot's data in place."""
    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "id long"))
    t.append(spark.createDataFrame([(2,)], "id long"))
    t.replace(spark.createDataFrame([(3,)], "id long"))
    dirs = [os.path.join(t.path, f"data-snap-{i:06d}") for i in (1, 2, 3)]

    _race_after_load(monkeypatch, lambda: t.append(spark.createDataFrame([(4,)], "id long")))
    with pytest.raises(RuntimeError, match="concurrent commit"):
        t.expire_snapshots(keep_last=1)
    monkeypatch.undo()

    assert all(os.path.isdir(d) for d in dirs)
    assert [s.snapshot_id for s in t._load()] == [1, 2, 3, 4]
    assert sorted(r.id for r in t.read().collect()) == [3, 4]
    assert t.expire_snapshots(keep_last=1) == 2  # the retry expires 1 and 2
    assert [s.snapshot_id for s in t._load()] == [4]
    assert sorted(r.id for r in t.read().collect()) == [3, 4]


def test_one_publish_path_and_one_entry_builder():
    """Structural pin on ``SnapshotParquetTable``: only ``_publish`` writes
    the manifest or the refs file (``create`` seeds an empty manifest),
    and only ``_child`` (new entries) and ``_load`` (parsed entries)
    construct a ``Snapshot`` — so no verb grows a second, unchecked
    publish path or a hand-built entry that forgets a field."""
    import ast
    import inspect

    from local_llm_iceberg_cdw_spark.formats import snapshot_parquet

    tree = ast.parse(inspect.getsource(snapshot_parquet))
    cls = next(
        n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "SnapshotParquetTable"
    )
    writers: dict[str, list[ast.Call]] = {}
    builders: set[str] = set()
    for method in cls.body:
        if not isinstance(method, ast.FunctionDef):
            continue
        for node in ast.walk(method):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            if isinstance(fn, ast.Attribute) and fn.attr in ("_commit", "_commit_refs"):
                writers.setdefault(method.name, []).append(node)
            if isinstance(fn, ast.Name) and fn.id == "Snapshot":
                builders.add(method.name)
    assert set(writers) == {"_publish", "create"}
    (seed,) = writers["create"]
    assert seed.func.attr == "_commit" and ast.literal_eval(seed.args[0]) == []
    assert builders == {"_child", "_load"}
