"""Benchmark runner — the driver's per-round feedback loop.

Runs the headline query library at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec},
 "sf": ...}.

Each query is fully materialized through the `noop` sink (JVM-side, no
driver collect) so timings measure the whole plan, not just the limit.

The full result is also written to $SPARK_GRAFT_BENCH_OUT, by default
`BENCH_RESULT.json`: gitignored scratch output that every run overwrites,
including SPARK_GRAFT_BENCH_ONLY subsets, registry-rest sweeps and scaling
runs at other CPU counts.  The committed headline record, which
tests/test_bench_hygiene.py reads, is `BENCH_HEADLINE.json`; refresh it with
`SPARK_GRAFT_BENCH_OUT=BENCH_HEADLINE.json python bench.py`.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from local_llm_iceberg_cdw_spark.operators import all_queries  # noqa: E402
from local_llm_iceberg_cdw_spark.session import build_session  # noqa: E402

# Headline set: every operator family, weighted toward the scaling tables.
BENCH_QUERIES = [
    "flagship_revenue_by_segment",
    "pricing_summary",
    "forecast_revenue",
    "shipping_priority",
    "star_join_revenue_by_nation",
    "semi_join_in_subquery",
    "group_sum_by_priority",
    "distinct_count",
    "rollup_lineitem",
    "window_latest_order",
    "window_running_sum",
    "topk_orders",
    "anti_join_customers_without_orders",
    "json_extract_props",
    "tumbling_window_daily",
    "sessionize",
    "asof_join_last_order",
    "interval_range_join",
    "event_type_pivot",
    "event_segment_enrichment",
    "token_count",
    "text_quality",
    "winnowing_fingerprint",
    "doc_stats_by_source",
    "exact_dedup_docs",
    "minhash_lsh_verdicts",
    "simhash_pairs",
    "cosine_topk",
    "ivf_topk_results",
    "lsh_near_dup_pairs",
    "pq_encode",
    "pq_adc_topk",
    "pq_rerank_topk",
    "zorder_locality",
    "ivfpq_results",
    "segment_dedup_rewrite",
    "hard_negative_mining",
    "bpe_merge_step",
    "semantic_dedup",
    "semantic_mixture_weights",
    "pandas_udf_token_count",
    "apply_in_pandas_zscore",
    "media_frame_sample",
    # snapshot machinery, build (create+2 appends) and read (4 time-travel
    # scans) timed SEPARATELY — the combined judged query overstated the
    # read path ~4× (round-4 verdict item 5)
    "snapshot_tt_build",
    "snapshot_tt_read",
    # extended relational batch (TPC-H shapes)
    "order_priority_exists",
    "customer_order_distribution",
    "returned_item_revenue",
    "bilateral_trade_volume",
    "disjunctive_part_filter",
    # deep TPC-H shapes (round 2)
    "min_cost_supplier",
    "market_share",
    "product_type_profit",
    "part_value_concentration",
    "supplier_part_diversity",
    "small_quantity_revenue",
    "bulk_part_suppliers",
    "waiting_orders_suppliers",
    # curation / training-pipeline ops
    "word_count",
    "tfidf_top_terms",
    "hash_split_train_test",
    "quality_topk_per_source",
    # round-2 corpus-pipeline ops
    "pii_redaction",
    "decontamination_check",
    "token_length_histogram",
    "bigram_top_terms",
    "vocab_stats_by_source",
    "hash_sample_per_source",
    "retention_cohorts",
    "training_manifest",
    # corpus batch 3
    "doc_chunking",
    "dedup_clusters",
    "vocab_coverage",
    # corpus batch 4 (packing / mixture / LM quality / prefix dedup)
    "sequence_packing",
    "mixture_weights",
    "unigram_logprob_quality",
    "prefix_dedup",
    # analytics batch 5 (PMI collocations / KL divergence / funnel)
    "bigram_pmi",
    "source_divergence",
    "event_funnel",
    # snapshot incremental append scan (CDC primitive): build (create + 2
    # appends) and read (3 delta scans) timed SEPARATELY — the combined
    # judged query was ~80% write cost (round-5 verdict item 3)
    "snap_inc_build",
    "snap_inc_read",
    # windowed error-rate monitor (batch twin of the streaming job)
    "error_rate_windows",
    # round-5 additions: intra-doc repetition, composite quality gate,
    # per-label embedding outliers
    "doc_repetition_ratio",
    "quality_filter_decision",
    "label_outliers",
    "kmeans_step",
    "cross_source_duplicates",
    # round-6 additions
    "kmeans_converged",
    "corpus_pipeline_e2e",
    "token_count_bpe",
    "epoch_shuffle_plan",
    "kmeans_assignments",
    # round-8 additions (bench set grows 93 -> 102: totals are not directly
    # comparable to BENCH_r07; per-query timings are)
    "bloom_decontamination",
    "bigram_logprob_quality",
    "dsir_importance_weights",
    "gopher_quality_rules",
    "cms_heavy_hitters",
    "ppjoin_set_similarity",  # the EXACT similarity join's scale path
    "weighted_sample_es",
    "pagerank_supplier_part",
    "trend_seasonality_decompose",
    # round-9 addition: the CDC quality gate (the one r8 family that had
    # no recorded timing — bench set grows 102 -> 103)
    "incremental_quality_gate",
    # round-10 additions: sparse/hybrid retrieval + source-vocabulary
    # diagnostics (bench set grows 103 -> 106)
    "bm25_topk",
    "source_vocab_overlap",
    "hybrid_rrf_search",
    # round-10 additions, part 2: time-series densification, entropy
    # quality, skew-spread aggregation, batching audit, CDC x dedup
    # (106 -> 111)
    "daily_revenue_gapfill",
    "word_entropy_quality",
    "salted_hot_key_agg",
    "length_bucket_stats",
    "incremental_dedup_index",
    # round-10 additions, part 3: distribution-position windows +
    # robust statistics, MERGE/evolution judged queries (111 -> 115)
    "customer_order_percentile",
    "robust_outliers_mad",
    "merge_upsert_state",
    "schema_evolution_read",
    "delete_compact_state",
    "wap_publish_state",
    "salted_skew_join",
    "bucketed_colocated_join",
    "flagship_via_sql_entry",
    "jl_projection_audit",
    # round-10 additions, part 4: substring-dedup footprint, Zipf fit,
    # triangle census, NB classifier, BPE loop, MMR re-rank,
    # seasonal-residual anomaly monitor, SCD2 temporal join, RAG
    # context packing (115 -> 124)
    "dup_span_coverage",
    "zipf_slope_fit",
    "copurchase_triangles",
    "nb_lang_classifier",
    "bpe_train_merges",
    "mmr_diversified_topk",
    "revenue_anomaly_days",
    "scd2_point_in_time",
    "rag_context_pack",
    # round-11 additions: changepoint + smoothing + robust winsorize,
    # embedding decontamination, containment dedup, novelty curve
    # (124 -> 130 named here; bench set 130 -> 136 total)
    "revenue_changepoint_cusum",
    "ewma_revenue_smooth",
    "winsorized_stats",
    "semantic_decontamination",
    "containment_dedup",
    "ngram_novelty_curve",
    # round-11 additions, part 2: ER blocking, privacy audit, profiling,
    # rollback (bench set 136 -> 140)
    "record_linkage_blocked",
    "k_anonymity_audit",
    "table_profile_orders",
    "snapshot_rollback_read",
    # round-11 additions, part 3: LLR collocations + tokenizer fertility +
    # merge-on-read DELETE (bench set 140 -> 143)
    "bigram_llr_collocations",
    "tokenizer_fertility_by_lang",
    "mor_equality_delete_read",
    "partition_spec_evolution_read",
    # round-12 additions: perceptual-hash near-dup pairs + clusters, the
    # two judged streaming drains, audio silence runs, and the CDC x
    # media-dedup index, perceptual decontamination, and the media
    # curation capstone (bench set 144 -> 152)
    "media_dhash_near_dup",
    "media_dhash_clusters",
    "stream_tumbling_daily_drained",
    "stream_sessions_drained",
    "media_silence_segments",
    "incremental_dhash_index",
    "media_decontamination",
    "media_pipeline_e2e",
    # round-12 late additions: graph k-core + per-vertex clustering, the
    # exactly-once dedup drain, and the custom-stateful totals drain
    # (bench set 152 -> 156)
    "k_core_decomposition",
    "local_clustering_coefficient",
    "khop_reachability",
    "stream_dedup_drained",
    "stream_user_totals_drained",
    "stream_attribution_drained",
    # manifest column-bounds data skipping (Iceberg lower/upper bounds)
    "stats_pruned_scan",
    # foreachBatch CDC ingestion into the snapshot format, drained
    "stream_snapshot_ingest_drained",
    # PSI drift monitor between two snapshots (time travel baseline)
    "snapshot_drift_psi",
    # compact-then-expire retention cycle
    "snapshot_expire_maintenance",
    # int8 scalar-quantization ADC top-k (third compression tier)
    "sq8_adc_topk",
    # row-level changelog across verb classes (CDF analog)
    "snapshot_changelog_read",
    # largest-remainder integer sampling quotas
    "sampling_quota_allocation",
    # round-13 additions: the IVF×SQ8 composed production ANN path
    # (its judged wrapper ivfsq8_topk is timed in the registry-rest sweep,
    # like ivfpq_topk), and the append-mode watermarked streaming drain
    "ivfsq8_results",
    "stream_append_watermark_drained",
    # persisted SQ8xIVF index maintained from CDC deltas (build-heavy:
    # fresh versioned corpus + index tables per call -> single-pass)
    "ann_index_maintenance",
    # merge-on-read position deletes + keep-one exact dedup (build-heavy)
    "positional_delete_dedup_read",
    # merge-on-read MERGE (build-heavy: create + MOR merge + compact)
    "mor_merge_upsert_read",
    # streaming x CDC x ANN capstone (build-heavy: stream drain committing
    # corpus + index snapshots per micro-batch)
    "stream_ann_index_ingest_drained",
    # cherrypick_snapshot non-linear publish (build-heavy: create + branch
    # + two appends + metadata-only pick per call)
    "snapshot_cherry_pick_read",
    # round-14 additions: foreachBatch restart recovery (replay vs the
    # idempotent batch-id ledger) and checkpoint resume across two
    # availableNow drains (both build-heavy: landing dir + drain per call)
    "stream_replay_idempotent_drained",
    "stream_resume_drain_incremental",
    # round-14 ANN index verbs: partition-pruned probe of the
    # cell-partitioned index and the quantizer-refresh REPLACE re-index
    # (both build-heavy: fresh index table per call)
    "ann_index_partitioned_probe",
    "ann_index_refresh",
    # round-14: MERGE schema evolution under MOR, and the Impala
    # time-travel dialect through the generated-SQL guard pipeline
    # (both build-heavy: fresh scratch table per call)
    "mor_merge_evolve_read",
    "time_travel_via_sql_entry",
    # round-15: ANN index lifecycle SPLIT into production stages
    # (VERDICT r14 #7 — the judged ops ann_index_maintenance /
    # ann_index_refresh / ann_index_compact are ~80% validation audit;
    # these five time each production verb in isolation over ONE shared
    # index table, the snapshot_tt_build/read precedent):
    #   build  = corpus (3 batches) + create + 2 delta appends
    #   probe  = IVF-probed SQ8-ADC top-k over the persisted index
    #   audit  = the judged validation surplus (full rebuild + multiset)
    #   compact= per-partition bin-pack rewrite (one file per cell)
    #   replace= quantizer-refresh re-encode + one REPLACE commit
    "ann_maint_build",
    "ann_maint_probe",
    "ann_maint_audit",
    "ann_compact_rewrite",
    "ann_refresh_replace",
    # round-15 judged ops: index-file compaction with layout/identity
    # audit (build-heavy), the NL loop over a scripted model, and the
    # streaming MERGE-upsert CDC loop (build-heavy: landing dir + drain
    # + replay per call)
    "ann_index_compact",
    "nl_answer_via_mock_entry",
    "stream_merge_upsert_drained",
    # orphan-file cleanup as crash recovery (build-heavy: plants and
    # reclaims crash wreckage on a fresh table per call)
    "orphan_cleanup_recovery",
    # metadata-only column-rename evolution (build-heavy: create +
    # rename + append + expire + mapped reads per call)
    "rename_evolution_read",
    # round-16: hidden-partition transforms (build-heavy: two fresh
    # partitioned tables + compact per call) and the table-as-a-stream
    # subscription (build-heavy: source + derived tables + three drains
    # + replay per call)
    "hidden_partition_prune",
    "stream_table_source_drained",
    # the subscription's ANN customer: corpus table → encoded index via
    # stream_table_changes (build-heavy: corpus + index + 2 drains +
    # rebuild/search audits per call)
    "stream_table_to_ann_index_drained",
    # round-17: the table-subscription pipeline SPLIT into production
    # stages (VERDICT r16 #6 — the judged op above is ~70% validation;
    # these time the production verbs in isolation over ONE shared
    # corpus/index pair, the ann_maint_* precedent):
    #   build = corpus table (create + 2 appends) + centroids
    #   drain = the subscription loop: poll manifest → encode each
    #           commit's delta → one cell-clustered idempotent commit
    #   audit = the judged surplus (full rebuild + multiset + dual probe)
    "tblsub_build",
    "tblsub_drain",
    "tblsub_audit",
    # round-17 judged ops: spark.readStream over the snapshot table via
    # the Python DataSource API (build-heavy: source + two derived
    # tables + four availableNow drains + the loop twin per call), and
    # the composed table→table pipe through the sink half (source + two
    # pipe drains + replay audit per call)
    "stream_table_readstream_drained",
    "stream_table_pipe_drained",
    # round-18: the facade pipelines SPLIT into production stages
    # (VERDICT r17 #2 — the two judged ops above are mostly validation
    # audit: four drains + a loop twin + exceptAll identities in ONE
    # harness; 58.5 s of the r17 sweep was facade-harness audit reading
    # as regression pressure).  The ann_maint_*/tblsub_* precedent:
    #   build = source snapshot table (create + 2 appends from events)
    #   drain = ONE availableNow readStream catch-up through the
    #           idempotent foreachBatch sink (fresh checkpoint)
    #   pipe  = ONE availableNow readStream→writeStream table→table run
    #   audit = the judged surplus (exceptAll identities + loop twin)
    "facade_build",
    "facade_drain",
    "facade_pipe",
    "facade_audit",
    # round-18 judged ops: the table as a CDC stream (build-heavy: source
    # table with 4 verb-mixed commits + derived changelog table + 3
    # drains + one-shot multiset audit per call) and the CDC-maintained
    # MV (same source shape + one ledger-stamped replace per batch +
    # recompute audit per call)
    "stream_table_cdc_drained",
    "stream_cdc_mv_drained",
    # and the SCD2 history maintained from the same stream (source with
    # create + MERGE + MOR delete + per-batch O(delta) merge_mor folds +
    # the time-travel-equivalence audit per call)
    "stream_cdc_scd2_drained",
    # round-19: the CDC facade twin (source with 4 verb-mixed commits +
    # two facade-to-facade changelog pipes + driver-surface multiset
    # audit + the non-plannable-rejection probe per call)
    "stream_table_cdc_facade_drained",
]
# Deliberately excluded: the O(n²) brute-force baselines
# (ngram_jaccard_dedup, embedding_near_dup, theta_join_acctbal) — they exist
# as correctness oracles for the LSH/IVF scale paths, not as operators one
# would run at scale.  The judged registry forms minhash_lsh_dedup /
# simhash_dedup wrap the production operators benched here
# (minhash_lsh_verdicts / simhash_pairs) in an in-query brute-force
# validation harness, so they are baselines too.

# Production operators benched directly (library functions, not registry
# entries — their judged counterparts carry the validation harness).
from local_llm_iceberg_cdw_spark.operators.dedup import (  # noqa: E402
    minhash_lsh_verdicts,
    simhash_pairs,
)
from local_llm_iceberg_cdw_spark.operators.similarity import (  # noqa: E402
    ivf_topk_results,
    lsh_near_dup_pairs,
)
from local_llm_iceberg_cdw_spark.operators.quantization import (  # noqa: E402
    ivfpq_results,
    ivfsq8_results,
)

# Snapshot bench ops share one on-disk table so build (create + appends)
# and read (time-travel / delta scans) are timed as separate lines.
_SNAP_STATE: dict = {"table": None, "dir": None, "inc_table": None, "inc_dir": None}


def _bench_snapshot_build(spark, sf_dir):
    import tempfile

    from local_llm_iceberg_cdw_spark.operators.snapshots_op import build_versioned_orders

    _SNAP_STATE["dir"] = tempfile.mkdtemp(prefix="bench_snap_")
    _SNAP_STATE["table"] = build_versioned_orders(
        spark, sf_dir, f"{_SNAP_STATE['dir']}/orders_versioned"
    )
    return spark.range(1)  # build work happened eagerly above


def _bench_snapshot_read(spark, sf_dir):
    from local_llm_iceberg_cdw_spark.operators.snapshots_op import time_travel_states

    if _SNAP_STATE["table"] is None:  # build failed/skipped — build untimed
        _bench_snapshot_build(spark, sf_dir)
    return time_travel_states(_SNAP_STATE["table"])


def _bench_snap_inc_build(spark, sf_dir):
    import tempfile

    from local_llm_iceberg_cdw_spark.operators.snapshots_op import build_incremental_orders

    _SNAP_STATE["inc_dir"] = tempfile.mkdtemp(prefix="bench_snap_inc_")
    _SNAP_STATE["inc_table"] = build_incremental_orders(
        spark, sf_dir, f"{_SNAP_STATE['inc_dir']}/orders_versioned"
    )
    return spark.range(1)


def _bench_snap_inc_read(spark, sf_dir):
    from local_llm_iceberg_cdw_spark.operators.snapshots_op import incremental_deltas

    if _SNAP_STATE["inc_table"] is None:
        _bench_snap_inc_build(spark, sf_dir)
    return incremental_deltas(_SNAP_STATE["inc_table"])


# ANN index lifecycle staged over ONE shared table (VERDICT r14 #7): the
# judged ops conflate build/probe/audit into a single timing; these
# stages expose the production numbers.  All single-pass: each stage
# mutates or depends on the shared index state.
_ANN_STATE: dict = {"dir": None, "corpus": None, "index": None, "cents": None}


def _bench_ann_maint_build(spark, sf_dir):
    import tempfile

    from local_llm_iceberg_cdw_spark.operators.snapshots_op import (
        ann_build_maintained_index,
    )

    _ANN_STATE["dir"] = tempfile.mkdtemp(prefix="bench_ann_")
    corpus, index, cents = ann_build_maintained_index(spark, sf_dir, _ANN_STATE["dir"])
    _ANN_STATE.update(corpus=corpus, index=index, cents=cents)
    return spark.range(1)  # build work happened eagerly above


def _bench_ann_maint_probe(spark, sf_dir):
    from local_llm_iceberg_cdw_spark.operators.snapshots_op import ann_probe_topk

    if _ANN_STATE["index"] is None:
        _bench_ann_maint_build(spark, sf_dir)
    return ann_probe_topk(spark, sf_dir, _ANN_STATE["index"].read(), _ANN_STATE["cents"])


def _bench_ann_maint_audit(spark, sf_dir):
    # the judged op's validation surplus: one-pass full rebuild + the
    # delta-maintained == rebuild multiset identity (one shuffle)
    from local_llm_iceberg_cdw_spark.operators.snapshots_op import (
        _ann_encode,
        _multiset_equal,
    )

    if _ANN_STATE["index"] is None:
        _bench_ann_maint_build(spark, sf_dir)
    rebuilt = _ann_encode(
        spark,
        _ANN_STATE["corpus"].read(),
        _ANN_STATE["cents"],
    )
    ok = _multiset_equal(_ANN_STATE["index"].read(), rebuilt)
    return spark.createDataFrame([(bool(ok),)], "index_equals_rebuild boolean")


def _bench_ann_compact_rewrite(spark, sf_dir):
    # per-partition bin-pack: 3 files/cell (one per delta commit) -> 1
    if _ANN_STATE["index"] is None:
        _bench_ann_maint_build(spark, sf_dir)
    _ANN_STATE["index"].compact(target_file_count=8)
    return spark.range(1)


def _bench_ann_refresh_replace(spark, sf_dir):
    # quantizer refresh: full re-encode on fitted centroids + one atomic
    # REPLACE commit (runs last: it swaps the shared index's content)
    from local_llm_iceberg_cdw_spark.catalog import load_table
    from local_llm_iceberg_cdw_spark.operators.similarity import fitted_centroids
    from local_llm_iceberg_cdw_spark.operators.snapshots_op import _ann_encode

    if _ANN_STATE["index"] is None:
        _bench_ann_maint_build(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    fitted = fitted_centroids(spark, sf_dir)
    _ANN_STATE["index"].replace(
        _ann_encode(spark, emb, fitted).repartition("cell")
    )
    return spark.range(1)


# Table-subscription pipeline stages (VERDICT r16 #6): one shared
# corpus/index pair; the drain is the production MV-maintenance verb
# (O(delta) encode + one commit per corpus commit), the audit is the
# judged op's validation surplus.
_TBLSUB_STATE: dict = {"dir": None, "corpus": None, "index": None, "cents": None}


def _bench_tblsub_build(spark, sf_dir):
    import tempfile

    from pyspark.sql import functions as F

    from local_llm_iceberg_cdw_spark.catalog import load_table
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        SnapshotParquetTable,
    )
    from local_llm_iceberg_cdw_spark.operators.similarity import collect_centroids

    d = tempfile.mkdtemp(prefix="bench_tblsub_")
    cents = collect_centroids(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    m3 = F.col("vec_id") % 3
    corpus = SnapshotParquetTable(spark, f"{d}/corpus")
    corpus.create(emb.filter(m3 == 0))
    corpus.append(emb.filter(m3 == 1))
    corpus.append(emb.filter(m3 == 2))
    index = SnapshotParquetTable(spark, f"{d}/index")
    _TBLSUB_STATE.update(dir=d, corpus=corpus, index=index, cents=cents, drained=False)
    return spark.range(1)  # build work happened eagerly above


def _bench_tblsub_drain(spark, sf_dir):
    import uuid

    from local_llm_iceberg_cdw_spark.operators.snapshots_op import _ann_encode
    from local_llm_iceberg_cdw_spark.streaming.jobs import (
        make_idempotent_snapshot_sink,
        stream_table_changes,
    )

    if _TBLSUB_STATE["index"] is None:
        _bench_tblsub_build(spark, sf_dir)
    st = _TBLSUB_STATE
    base = make_idempotent_snapshot_sink(
        st["index"],
        f"bench_tblsub_{uuid.uuid4().hex[:8]}",
        checkpoint_dir=f"{st['dir']}/ckpt",
        create_kwargs={"partition_by": ["cell"]},
    )

    def sink(batch_df, batch_id):
        base(_ann_encode(spark, batch_df, st["cents"]).repartition("cell"), batch_id)

    stream_table_changes(st["corpus"], sink, f"{st['dir']}/ckpt")
    st["drained"] = True
    return spark.range(1)


def _bench_tblsub_audit(spark, sf_dir):
    from local_llm_iceberg_cdw_spark.operators.snapshots_op import (
        _ann_encode,
        _multiset_equal,
        ann_probe_topk,
    )

    if not _TBLSUB_STATE.get("drained"):
        _bench_tblsub_drain(spark, sf_dir)
    st = _TBLSUB_STATE
    maintained = st["index"].read()
    rebuilt = _ann_encode(spark, st["corpus"].read(), st["cents"])
    equals_rebuild = _multiset_equal(maintained, rebuilt)
    search_identical = _multiset_equal(
        ann_probe_topk(spark, sf_dir, maintained, st["cents"]),
        ann_probe_topk(spark, sf_dir, rebuilt, st["cents"]),
    )
    return spark.createDataFrame(
        [(bool(equals_rebuild), bool(search_identical))],
        "equals_rebuild boolean, search_identical boolean",
    )


# readStream/writeStream facade stages (VERDICT r17 #2): one shared
# source table; each drain/pipe call is a FULL fresh-checkpoint catch-up
# (deterministic per call), the audit is the judged ops' validation
# surplus.
_FACADE_STATE: dict = {"dir": None, "src": None, "tgt": None, "pipe_path": None}


def _bench_facade_build(spark, sf_dir):
    import tempfile

    from pyspark.sql import functions as F

    from local_llm_iceberg_cdw_spark.catalog import load_table
    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        SnapshotParquetTable,
    )
    from local_llm_iceberg_cdw_spark.streaming.table_source import (
        SnapshotTableDataSource,
    )

    spark.dataSource.register(SnapshotTableDataSource)
    d = tempfile.mkdtemp(prefix="bench_facade_")
    events = load_table(spark, sf_dir, "events")
    m3 = F.col("event_id") % 3
    src = SnapshotParquetTable(spark, f"{d}/src")
    src.create(events.filter(m3 == 0))
    src.append(events.filter(m3 == 1))
    src.append(events.filter(m3 == 2))
    _FACADE_STATE.update(dir=d, src=src, tgt=None, pipe_path=None)
    return spark.range(1)  # build work happened eagerly above


def _bench_facade_drain(spark, sf_dir):
    # PRODUCTION readStream path: one availableNow catch-up drain into a
    # derived table via the run-scoped idempotent sink — what a steady-
    # state trigger firing costs, without the judged harness around it
    import uuid

    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        SnapshotParquetTable,
    )
    from local_llm_iceberg_cdw_spark.streaming.jobs import (
        make_idempotent_snapshot_sink,
    )

    if _FACADE_STATE["src"] is None:
        _bench_facade_build(spark, sf_dir)
    st = _FACADE_STATE
    run = uuid.uuid4().hex[:8]
    tgt = SnapshotParquetTable(spark, f"{st['dir']}/tgt_{run}")
    ckpt = f"{st['dir']}/ckpt_{run}"
    q = (
        spark.readStream.format("snapshot_table")
        .option("path", st["src"].path)
        .load()
        .writeStream.foreachBatch(
            make_idempotent_snapshot_sink(tgt, f"facade_{run}", checkpoint_dir=ckpt)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    st["tgt"] = tgt
    return spark.range(1)


def _bench_facade_pipe(spark, sf_dir):
    # PRODUCTION table→table path: one availableNow readStream →
    # writeStream.format("snapshot_table") run (executor-staged parquet +
    # an epoch commit through SnapshotParquetTable.commit_staged)
    import uuid

    if _FACADE_STATE["src"] is None:
        _bench_facade_build(spark, sf_dir)
    st = _FACADE_STATE
    run = uuid.uuid4().hex[:8]
    pipe_path = f"{st['dir']}/pipe_{run}"
    q = (
        spark.readStream.format("snapshot_table")
        .option("path", st["src"].path)
        .load()
        .writeStream.format("snapshot_table")
        .option("path", pipe_path)
        .option("queryName", f"pipe_{run}")
        .option("checkpointLocation", f"{st['dir']}/ckpt_pipe_{run}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    st["pipe_path"] = pipe_path
    return spark.range(1)


def _bench_facade_audit(spark, sf_dir):
    # the judged ops' validation surplus: multiset identities for both
    # targets + the driver-loop twin equality (r19: one signed-weight
    # job per identity, mirroring the judged ops' _multiset_equal swap)
    import uuid

    from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
        SnapshotParquetTable,
    )
    from local_llm_iceberg_cdw_spark.operators.snapshots_op import _multiset_equal
    from local_llm_iceberg_cdw_spark.streaming.jobs import (
        make_idempotent_snapshot_sink,
        stream_table_changes,
    )

    st = _FACADE_STATE
    if st["tgt"] is None:
        _bench_facade_drain(spark, sf_dir)
    if st["pipe_path"] is None:
        _bench_facade_pipe(spark, sf_dir)
    src_df = st["src"].read()
    tgt_df = st["tgt"].read()
    pipe_df = SnapshotParquetTable(spark, st["pipe_path"]).read()

    def same(a, b) -> bool:
        return _multiset_equal(a, b.select(*a.columns))

    run = uuid.uuid4().hex[:8]
    loop_tgt = SnapshotParquetTable(spark, f"{st['dir']}/loop_{run}")
    ckpt = f"{st['dir']}/ckpt_loop_{run}"
    stream_table_changes(
        st["src"],
        make_idempotent_snapshot_sink(loop_tgt, f"loop_{run}", checkpoint_dir=ckpt),
        ckpt,
    )
    return spark.createDataFrame(
        [
            (
                bool(same(tgt_df, src_df)),
                bool(same(pipe_df, src_df)),
                bool(same(loop_tgt.read(), tgt_df)),
            )
        ],
        "drain_matches boolean, pipe_matches boolean, loop_twin_matches boolean",
    )


EXTRA_BENCH_OPS = {
    "facade_build": _bench_facade_build,
    "facade_drain": _bench_facade_drain,
    "facade_pipe": _bench_facade_pipe,
    "facade_audit": _bench_facade_audit,
    "tblsub_build": _bench_tblsub_build,
    "tblsub_drain": _bench_tblsub_drain,
    "tblsub_audit": _bench_tblsub_audit,
    "ann_maint_build": _bench_ann_maint_build,
    "ann_maint_probe": _bench_ann_maint_probe,
    "ann_maint_audit": _bench_ann_maint_audit,
    "ann_compact_rewrite": _bench_ann_compact_rewrite,
    "ann_refresh_replace": _bench_ann_refresh_replace,
    "minhash_lsh_verdicts": minhash_lsh_verdicts,
    "simhash_pairs": simhash_pairs,
    "ivf_topk_results": ivf_topk_results,
    "lsh_near_dup_pairs": lsh_near_dup_pairs,
    "ivfpq_results": ivfpq_results,
    "ivfsq8_results": ivfsq8_results,
    "snapshot_tt_build": _bench_snapshot_build,
    "snapshot_tt_read": _bench_snapshot_read,
    "snap_inc_build": _bench_snap_inc_build,
    "snap_inc_read": _bench_snap_inc_read,
}
# Only the snapshot build/read pairs are single-pass (a second build
# re-times table creation into a fresh tmpdir and leaks the first).  The
# similarity/dedup production ops above are pure reads and MUST get the
# min-of-2 treatment — until r10 they were accidentally single-pass, so
# their recorded numbers carried the 4-10 s one-off spikes min-of-2
# exists to suppress (the r8/r9 `simhash_pairs` "drift" was exactly
# this: single-pass noise read as a regression).
_SINGLE_PASS_OPS = {
    "snapshot_tt_build",
    "snapshot_tt_read",
    "snap_inc_build",
    "snap_inc_read",
    # The r10 registry snapshot ops build a fresh versioned table inside
    # the builder every call (create + appends + COW rewrites), so a
    # second rep re-times the identical write-heavy build — no warm-read
    # benefit to take the min over, and delete_compact_state alone would
    # add ~10 s per extra rep.  Their cost is build-dominated and stable
    # (the reads are a few grouped aggregates).
    "incremental_dedup_index",
    "incremental_dhash_index",
    "merge_upsert_state",
    "schema_evolution_read",
    "delete_compact_state",
    "wap_publish_state",
    "bucketed_colocated_join",  # writes both bucketed tables per call
    "snapshot_rollback_read",  # builds create + 3 appends per call
    "mor_equality_delete_read",  # create + MOR delete + appends + compact
    "partition_spec_evolution_read",  # create + evolved append + compact
    "ann_index_maintenance",  # creates corpus + index snapshot tables per call
    "positional_delete_dedup_read",  # create + 2 pos-deletes + rewrite + append + compact
    "mor_merge_upsert_read",  # create + MOR merge + compact per call
    "stream_ann_index_ingest_drained",  # stream drain + 4 snapshot commits per call
    "snapshot_cherry_pick_read",  # create + branch append + main append + pick
    # the r15 ANN lifecycle stages share ONE index table; every stage
    # either mutates it (build/compact/replace) or reads whatever state
    # the prior stages left — a second rep would time a different table
    "ann_maint_build",
    "ann_maint_probe",
    "ann_maint_audit",
    "ann_compact_rewrite",
    "ann_refresh_replace",
    "ann_index_compact",  # creates + compacts a fresh index table per call
    "stream_merge_upsert_drained",  # landing dir + drain + MERGE commits per call
    "orphan_cleanup_recovery",  # plants + reclaims crash wreckage per call
    "rename_evolution_read",  # create + rename + append + expire per call
    "hidden_partition_prune",  # two fresh partitioned tables + compact per call
    "stream_table_source_drained",  # source + derived tables + 3 drains per call
    "stream_table_to_ann_index_drained",  # corpus + index + 2 drains per call
    # the r17 table-subscription stages share ONE corpus/index pair; the
    # drain mutates the index, the audit reads what the drain left
    "tblsub_build",
    "tblsub_drain",
    "tblsub_audit",
    "stream_table_readstream_drained",  # source + derived + 4 drains per call
    "stream_table_pipe_drained",  # source + target + 2 pipe drains per call
    # the r18 facade stages share ONE source table; build resets it
    "facade_build",
    "facade_drain",
    "facade_pipe",
    "facade_audit",
    "stream_table_cdc_drained",  # source + changelog tables + 3 drains per call
    "stream_cdc_mv_drained",  # source + MV replaces + recompute audit per call
    "stream_cdc_scd2_drained",  # source + history merge_mor folds + TT audit per call
    "stream_table_cdc_facade_drained",  # source + 2 changelog pipes + audits per call
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # Keep stdout clean for the final JSON line: no console progress bar,
    # and every diagnostic below goes to stderr.
    spark = build_session(
        app_name="bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    errors: dict[str, str] = {}
    specs = all_queries()
    # Warm-up so the first timed query isn't charged for boot: a bare
    # spark.range leaves file-listing/footer-decode/parquet-codegen cold
    # (measured: flagship 6.0 s cold vs ~1.4 s for the same shape warm), so
    # touch every fixture table and run the flagship's join+agg shape once.
    # Per-table try/except: one broken loader degrades one table's queries
    # instead of zeroing the whole round's bench (round-3 failure mode).
    from local_llm_iceberg_cdw_spark.catalog import FIXTURE_TABLES, load_table  # noqa: E402

    for t in FIXTURE_TABLES:
        try:
            load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
        except Exception as exc:
            errors[f"warmup:{t}"] = str(exc)[:300]
            print(f"bench warm-up: table {t!r} failed: {exc}", file=sys.stderr)
    try:
        specs["flagship_revenue_by_segment"].builder(spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
    except Exception as exc:
        errors["warmup:flagship"] = str(exc)[:300]
    # Python/Arrow worker pool is separately cold (the first pandas_udf
    # query otherwise pays worker fork + numpy/pandas import, ~2-4 s);
    # warm one worker per core with a trivial vectorized UDF
    try:
        from pyspark.sql import functions as _F

        # NB: module-level `pd` import — `from __future__ import annotations`
        # stringifies hints and pyspark resolves them in MODULE globals, so a
        # main()-local pandas alias raises UNSUPPORTED_SIGNATURE.
        def _warm_fn(s: pd.Series) -> pd.Series:
            import numpy as _np  # warm the numpy import too

            return s + _np.int64(0)

        _warm_udf = _F.pandas_udf(_warm_fn, "long")
        spark.range(0, 64, 1, 32).select(_warm_udf("id")).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception as exc:
        errors["warmup:python_workers"] = str(exc)[:300]
    # parquet WRITE path is separately cold (costs ~3.5 s on the first
    # snapshot op otherwise); warm it with a throwaway round-trip
    import shutil
    import tempfile

    wdir = tempfile.mkdtemp(prefix="bench_warm_")
    try:
        spark.range(1000).write.mode("overwrite").parquet(f"{wdir}/w")
        spark.read.parquet(f"{wdir}/w").write.format("noop").mode("overwrite").save()
    except Exception as exc:
        errors["warmup:parquet_write"] = str(exc)[:300]
    finally:
        shutil.rmtree(wdir, ignore_errors=True)

    # Two timed passes, min per query.  Single-pass numbers on this box
    # carry 4-10 s one-off spikes that migrate between unrelated queries
    # run to run (GC / VM noise — measured: text_quality 1.8 s vs 10.2 s,
    # bigram_pmi 1.2 s vs 8.2 s across back-to-back full sweeps); min-of-2
    # reports the repeatable cost of the PLAN, which is what the round
    # comparison is for.
    #
    # r18 (VERDICT r17 #7): mutation-chain ops (_SINGLE_PASS_OPS) ALSO
    # get min-of-2 in FULL sweeps — three straight rounds a lone
    # single-pass rep poisoned the headline (ann_maint_build drew 49.9 s
    # in r17 vs its repeatable ≈8 s).  This is sound because every chain
    # builder resets its state into a FRESH tmpdir per call and the rep
    # loop preserves BENCH_QUERIES order, so rep 2 re-runs each chain
    # build→…→audit against rep-2 state: real work both times, min takes
    # the clean draw.  Under SPARK_GRAFT_BENCH_ONLY / _REGISTRY_REST
    # subsets they stay single-pass — a subset can break chain order
    # (e.g. a lone tblsub_drain rep 2 would re-drain an already-drained
    # checkpoint and record a no-op).
    # SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the sweep — the isolation
    # lever for drift investigations (fresh session, one query, min-of-2
    # vs its in-sweep number distinguishes harness bleed from plan drift).
    only = {
        q.strip()
        for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")
        if q.strip()
    }
    bench_queries = [n for n in BENCH_QUERIES if not only or n in only]
    # SPARK_GRAFT_BENCH_REGISTRY_REST=1 sweeps the registry entries with
    # NO recorded bench row instead (the cheap relational/set/string ops
    # plus the deliberately-excluded brute-force baselines) — the
    # one-time evidence pass so "within the perf bar" is recorded for
    # the whole registry, not only the headline set.
    if os.environ.get("SPARK_GRAFT_BENCH_REGISTRY_REST") == "1":
        covered = set(BENCH_QUERIES) | set(EXTRA_BENCH_OPS)
        bench_queries = [n for n in specs if n not in covered and (not only or n in only)]
        excl = {
            q.strip()
            for q in os.environ.get("SPARK_GRAFT_BENCH_EXCLUDE", "").split(",")
            if q.strip()
        }
        bench_queries = [n for n in bench_queries if n not in excl]
        # registry snapshot ops build fresh versioned tables per call —
        # write-heavy, no warm-read benefit, single-pass like their
        # benched cousins
        _SINGLE_PASS_OPS.update(
            n for n in bench_queries if n.startswith(("snapshot_", "incremental_"))
        )
    legacy_single_pass = bool(only) or (
        os.environ.get("SPARK_GRAFT_BENCH_REGISTRY_REST") == "1"
    )
    timings: dict[str, float] = {}
    reps_detail: dict[str, list[float]] = {}  # rep1/rep2 — bleed is visible
    for rep in range(2):
        for name in bench_queries:
            if name in errors or (
                rep > 0 and legacy_single_pass and name in _SINGLE_PASS_OPS
            ):
                continue
            # Scope the post-query cleanup: snapshot the persistent-RDD ids
            # BEFORE the timed call and release only ids the query created.
            # A blanket unpersist-all would break any future operator that
            # caches a localCheckpointed DataFrame across queries (lineage
            # truncated, blocks gone, unrecoverable) and yanks RDDs out
            # from under Catalyst-cached plans without telling the
            # CacheManager.
            try:
                pre_ids = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
            except Exception:
                pre_ids = set()
            # time builder + materialization: for most queries the builder
            # is pure plan construction (ms), but snapshot/e2e ops do real
            # work there — timing only the sink under-reported them.  A
            # failing query records an error and the loop continues.
            t0 = time.perf_counter()
            try:
                builder = EXTRA_BENCH_OPS.get(name) or specs[name].builder
                df = builder(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                dt = round(time.perf_counter() - t0, 3)
                timings[name] = min(timings.get(name, dt), dt)
                reps_detail.setdefault(name, []).append(dt)
                print(f"bench: {name} rep{rep + 1} {dt}s", file=sys.stderr)
            except Exception as exc:
                errors[name] = str(exc)[:300]
                timings.pop(name, None)
                reps_detail.pop(name, None)
                print(f"bench: query {name!r} failed: {exc}", file=sys.stderr)
            # Release per-query state OUTSIDE the timed window.  Many
            # operators eagerly localCheckpoint; relying on Python gc +
            # the JVM ContextCleaner (weak-ref driven, asynchronous) let
            # dead blocks accumulate across all bench queries x 2 passes
            # into late-run memory pressure that bled into unrelated
            # queries' timings (r8: untouched ops drifted 1.16x, minhash
            # 1.77x).  Deterministically (blocking) unpersist the RDDs
            # this query created — checkpoints are per-query-call state
            # (model caches hold plain Python, snapshot tables are
            # path-backed), so none is live after the sink finishes.
            df = None
            try:
                for rid, jrdd in spark.sparkContext._jsc.getPersistentRDDs().items():
                    if rid not in pre_ids:
                        jrdd.unpersist(True)  # blocking: freed before next timing
            except Exception as exc:  # py4j surface moved — fall back to gc
                print(f"bench: unpersist failed: {exc}", file=sys.stderr)
            gc.collect()
    for key in ("dir", "inc_dir"):
        if _SNAP_STATE[key]:
            shutil.rmtree(_SNAP_STATE[key], ignore_errors=True)
    if _ANN_STATE["dir"]:
        shutil.rmtree(_ANN_STATE["dir"], ignore_errors=True)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "query_library_total_runtime",
        "value": total,
        "unit": "sec",
        "reps": "min-of-2",
        "queries": timings,
        # raw [rep1, rep2] per query: inter-query bleed / warm-up effects
        # are quantifiable from the artifact without re-running sweeps
        "reps_detail": reps_detail,
        "sf": sf,
    }
    if errors:
        result["errors"] = errors
    line = json.dumps(result)
    # Persist to a file too — stdout capture has historically interleaved
    # with Spark output on the driver side, losing the perf evidence.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_RESULT.json"),
    )
    try:
        with open(out_path, "w") as fh:
            fh.write(line + "\n")
        print(f"bench: wrote {out_path}", file=sys.stderr)
    except OSError as exc:  # read-only fs etc. — stdout line still follows
        print(f"bench: could not write {out_path}: {exc}", file=sys.stderr)
    spark.stop()
    # Printed AFTER spark.stop() so no JVM output can interleave: the final
    # stdout line is exactly one JSON object.  The driver records only a
    # 2,000-char stdout TAIL, so the full per-query dict (> 2 kB for 80+
    # queries) can never survive the clip — print a compact summary
    # (slowest queries only) guaranteed under the limit and leave the
    # complete result in BENCH_RESULT.json (path included in the line).
    summary = {
        "metric": "query_library_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "result_path": out_path,
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])[:15]),
    }
    sline = json.dumps(summary)
    while len(sline) > 1900 and summary["queries"]:
        summary["queries"].popitem()
        sline = json.dumps(summary)
    sys.stdout.flush()
    print(sline, flush=True)


if __name__ == "__main__":
    main()
