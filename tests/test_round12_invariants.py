"""Round-12 invariants: the ADVICE r11 format fixes plus the new
semantic_decontamination IVF path, the dHash near-dup tier, and the
judged streaming drain (tests for those join this file as they land)."""

from __future__ import annotations

import pytest

from conftest import SF_SMOKE, assert_halftie_ladder_parity


def _table(spark, tmp_path, name="t"):
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        SnapshotParquetTable,
    )

    return SnapshotParquetTable(spark, str(tmp_path / name))


def test_mor_equality_delete_null_keys_mask(spark, tmp_path):
    """Iceberg equality-delete NULL semantics: a delete-file key tuple
    containing NULL masks rows whose key is NULL (IS NOT DISTINCT FROM,
    not the null-unsafe `=` that never matches NULL)."""
    t = _table(spark, tmp_path)
    t.create(
        spark.createDataFrame(
            [(1, "a"), (None, "b"), (None, "c"), (3, "d")], "k long, v string"
        )
    )
    t.delete_where_mor("k IS NULL", ["k"])
    left = sorted(r.v for r in t.read().collect())
    assert left == ["a", "d"], f"NULL-keyed rows not masked: {left}"


def test_mor_null_key_delete_scoped_to_older_files(spark, tmp_path):
    """The sequence-number rule still holds on the null-safe path: a
    NULL-keyed row appended AFTER the delete stays visible."""
    t = _table(spark, tmp_path)
    t.create(spark.createDataFrame([(1, "a"), (None, "b")], "k long, v string"))
    t.delete_where_mor("k IS NULL", ["k"])
    t.append(spark.createDataFrame([(None, "late")], "k long, v string"))
    assert sorted(r.v for r in t.read().collect()) == ["a", "late"]


def test_evolve_flag_with_no_spec_inherits_parent(spark, tmp_path):
    """append(evolve_partition_spec=True) with partition_by omitted is a
    no-op on the spec (inherit), NOT a silent evolution to
    unpartitioned — the ADVICE r11 footgun."""
    t = _table(spark, tmp_path)
    t.create(spark.range(4).selectExpr("id", "id % 2 AS p"), partition_by=["p"])
    t.append(
        spark.range(4, 8).selectExpr("id", "id % 2 AS p"),
        evolve_partition_spec=True,
    )
    snaps = t._load()
    assert snaps[-1].partition_by == ["p"]
    assert snaps[-1].mixed_layout is False
    assert sorted(r.id for r in t.read().collect()) == list(range(8))


def test_evolve_to_unpartitioned_needs_explicit_empty_spec(spark, tmp_path):
    """Explicit partition_by=[] is the unpartitioned-evolution spelling;
    it normalizes to the canonical None spec and flips mixed_layout."""
    t = _table(spark, tmp_path)
    t.create(spark.range(4).selectExpr("id", "id % 2 AS p"), partition_by=["p"])
    t.append(
        spark.range(4, 8).selectExpr("id", "id % 2 AS p"),
        partition_by=[],
        evolve_partition_spec=True,
    )
    snaps = t._load()
    assert snaps[-1].partition_by is None
    assert snaps[-1].mixed_layout is True
    assert sorted(r.id for r in t.read().collect()) == list(range(8))


def test_empty_spec_on_unpartitioned_table_is_noop(spark, tmp_path):
    """partition_by=[] on an already-unpartitioned table is accepted
    without the evolve flag (it IS the current spec)."""
    t = _table(spark, tmp_path)
    t.create(spark.range(3).toDF("id"))
    t.append(spark.range(3, 6).toDF("id"), partition_by=[])
    snaps = t._load()
    assert snaps[-1].partition_by is None
    assert snaps[-1].mixed_layout is False


def test_files_metadata_lists_equality_delete_files(spark, tmp_path):
    """t.files exposes pending MOR equality-delete files
    (content='equality-deletes') alongside data files, so maintenance
    tooling sees outstanding deletes and can correct row-count sums."""
    t = _table(spark, tmp_path)
    t.create(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string"))
    t.delete_where_mor("id = 2", ["id"])
    rows = t.files().collect()
    by_content = {}
    for r in rows:
        by_content.setdefault(r.content, []).append(r)
    assert set(by_content) == {"data", "equality-deletes"}
    assert sum(r.record_count for r in by_content["data"]) == 3
    assert sum(r.record_count for r in by_content["equality-deletes"]) == 1
    # a compact() materializes the deletes away: no delete files listed
    t.compact()
    assert {r.content for r in t.files().collect()} == {"data"}
    assert sum(r.record_count for r in t.files().collect()) == 2


def test_semantic_decontamination_ivf_path_engages_and_recalls(spark, monkeypatch):
    """The exact→IVF candidate swap in semantic_decontamination is a
    real code path (VERDICT r11 'what's wrong' #1): forcing the
    threshold to 0 must (a) keep every train row in the audit, (b)
    never invent a contamination flag (approx max is over a candidate
    subset, so approx flags ⊆ exact flags), and (c) recall enough of
    the exact flags on this isotropic fixture — whose flagged pairs sit
    at cosine ≈ 0.4, far from the near-copy geometry (≈ 0.95) the audit
    targets, so this is the recall floor, not the expected rate.  The
    reference is the exact tier the DuckDB oracle checks."""
    from local_llm_iceberg_cdw_spark.operators import similarity as sim

    brute = {
        r.train_id: (r.max_cosine, r.is_contaminated)
        for r in sim.q_semantic_decontamination(spark, SF_SMOKE).collect()
    }
    monkeypatch.setattr(sim, "SEMDECON_VECTORIZED_MAX_ROWS", 0)
    approx = {
        r.train_id: (r.max_cosine, r.is_contaminated)
        for r in sim.q_semantic_decontamination(spark, SF_SMOKE).collect()
    }
    assert approx.keys() == brute.keys()  # every train row audited
    brute_flags = {k for k, v in brute.items() if v[1] == 1}
    approx_flags = {k for k, v in approx.items() if v[1] == 1}
    assert brute_flags, "fixture must exercise the flag for this test to bite"
    assert approx_flags <= brute_flags  # subset-max can only miss, never add
    recall = len(approx_flags & brute_flags) / len(brute_flags)
    assert recall >= sim.IVF_RECALL_MIN, f"semdecon IVF flag recall {recall}"
    # flag semantics parity: wherever approx found the true max, the
    # flag decision is identical
    agree = [k for k in brute if approx[k][0] == brute[k][0]]
    assert all(approx[k][1] == brute[k][1] for k in agree)


def test_halftie_helper_passes_decimal_money_ladder(spark):
    """The conftest half-tie sweep (VERDICT r11 stretch #7) certifies the
    repo's standard money ladder: snap-to-decimal, round in decimal,
    cast double — identical on both engines across 2000 half-tie
    probes.  New float-emitting ops call this helper with their own
    ladder pre-commit."""
    from pyspark.sql import functions as F

    assert_halftie_ladder_parity(
        spark,
        lambda c: F.round(c.cast("decimal(18,6)"), 2).cast("double"),
        "CAST(round(CAST(v AS DECIMAL(18,6)), 2) AS DOUBLE)",
        digits=2,
    )


def test_halftie_helper_catches_double_round_ladder(spark):
    """Load-bearing check: the helper MUST reject the naive ladder that
    rounds a double directly (Spark exact-BigDecimal HALF_UP vs DuckDB
    multiply-in-double) — the r10 `revenue_anomaly_days` defect class.
    If this starts passing, the engines changed rounding and the
    DECIMAL ladder should be consciously revisited."""
    from pyspark.sql import functions as F

    with pytest.raises(AssertionError, match="half-tie probes diverge"):
        assert_halftie_ladder_parity(
            spark, lambda c: F.round(c, 4), "round(v, 4)", digits=4
        )


def test_dhash_banding_is_complete_at_radius(spark):
    """Pigeonhole guarantee: the band-join candidate set loses NO pair
    within DHASH_MAX_HAMMING — op output == brute-force all-pairs over
    the collected hashes."""
    from local_llm_iceberg_cdw_spark.operators import multimodal as mm

    media = mm.synthesize_media(spark, SF_SMOKE).select("doc_id", "media")
    hashes = {r.doc_id: r.dhash for r in mm.media_dhash(media).collect()}
    ids = sorted(hashes)
    brute = {
        (a, b): (hashes[a] ^ hashes[b]).bit_count()
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if (hashes[a] ^ hashes[b]).bit_count() <= mm.DHASH_MAX_HAMMING
    }
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in mm.q_media_dhash_near_dup(spark, SF_SMOKE).collect()
    }
    assert got == brute
    assert brute, "fixture should contain near-dup payloads at this radius"


def test_dhash_exact_duplicate_payloads_pair_at_zero(spark):
    """Recall self-check the fixture can't provide (its 500 texts are
    distinct): byte-identical payloads hash identically and surface as
    a hamming-0 pair; a one-byte perturbation stays a near-dup."""
    from local_llm_iceberg_cdw_spark.operators import multimodal as mm

    base = b"the quick brown fox jumps over the lazy dog " * 8
    # 'ZZZZZ' drops the stripe sum enough to flip gradient signs
    # (verified: 2 of 56 bits differ); 'quack' only shifts a pixel
    # without changing any adjacent comparison
    tweaked = base.replace(b"quick", b"ZZZZZ", 1)
    media = spark.createDataFrame(
        [(1, base), (2, base), (3, tweaked), (4, b"\x00" * 17)],
        "doc_id long, media binary",
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in mm.dhash_near_dup_pairs(media).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and 0 < pairs[(1, 3)] <= mm.DHASH_MAX_HAMMING
    assert (1, 4) not in pairs and (2, 4) not in pairs
