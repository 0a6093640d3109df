"""Behavioral tests: properties the oracle parity can't express —
approximate-op recall against exact baselines, entry-point smoke, and
engine invariants (SURVEY.md §5 plan items 2 and 6).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_SMOKE

import __spark_entry__ as entry_mod
from local_llm_iceberg_cdw_spark.operators.dedup import (
    q_exact_dedup,
    minhash_lsh_verdicts,
    q_ngram_jaccard_dedup,
    simhash_pairs as simhash_pairs_fn,
)
from local_llm_iceberg_cdw_spark.operators.relational import (
    q_anti_join_customers_without_orders,
    q_flagship_revenue_by_segment,
    q_semi_join_in_subquery,
    q_topk_orders,
)
from local_llm_iceberg_cdw_spark.operators.similarity import (
    TOP_K,
    q_cosine_topk,
    ivf_topk_results,
)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"c_mktsegment", "revenue", "n_lineitems", "n_orders"}
    # revenue sorted descending per the flagship contract
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_contract_shapes():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert all(callable(fn) for fn in qs.values())
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())


def test_limit_bounds_rows(spark):
    assert q_topk_orders(spark, SF_SMOKE).count() <= 10


def test_semi_join_subset_of_total(spark):
    n_semi = q_semi_join_in_subquery(spark, SF_SMOKE).collect()[0][0]
    from local_llm_iceberg_cdw_spark.catalog import load_table

    assert 0 < n_semi < load_table(spark, SF_SMOKE, "lineitem").count()


def test_anti_join_disjoint_from_orders(spark):
    from local_llm_iceberg_cdw_spark.catalog import load_table

    no_orders = {r.c_custkey for r in q_anti_join_customers_without_orders(spark, SF_SMOKE).collect()}
    with_orders = {
        r.o_custkey for r in load_table(spark, SF_SMOKE, "orders").select("o_custkey").distinct().collect()
    }
    assert no_orders.isdisjoint(with_orders)


def test_minhash_recall_of_exact_duplicates(spark):
    """Every pair the brute-force baseline calls a near-dup at j≥0.99 must
    be flagged by the MinHash verdict (identical token sets ⇒ identical
    signatures ⇒ same band buckets ⇒ estimate 16/16)."""
    brute = q_ngram_jaccard_dedup(spark, SF_SMOKE).filter(F.col("jaccard") >= 0.999).collect()
    verdicts = {r.doc_id: r.dup_of for r in minhash_lsh_verdicts(spark, SF_SMOKE).collect()}
    for pair in brute:
        assert verdicts[pair.id_b] is not None, f"missed exact dup pair {pair}"


def test_simhash_flags_identical_token_sets(spark):
    brute = q_ngram_jaccard_dedup(spark, SF_SMOKE).filter(F.col("jaccard") >= 0.999).collect()
    simhash_pairs = {(r.id_a, r.id_b) for r in simhash_pairs_fn(spark, SF_SMOKE).collect()}
    for pair in brute:
        assert (pair.id_a, pair.id_b) in simhash_pairs


def test_ivf_recall_vs_brute_force(spark):
    """IVF with nprobe=2 of 8 cells should recover a solid fraction of the
    exact top-k (deterministic fixture → stable recall)."""
    exact = {
        (r.query_id, r.neighbor_id) for r in q_cosine_topk(spark, SF_SMOKE).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id) for r in ivf_topk_results(spark, SF_SMOKE).collect()
    }
    n_queries = len({q for q, _ in exact})
    assert len(approx) == n_queries * TOP_K  # full result set per query
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"IVF recall collapsed: {recall}"


def test_exact_dedup_covers_all_docs(spark):
    from local_llm_iceberg_cdw_spark.catalog import load_table

    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    agg = q_exact_dedup(spark, SF_SMOKE).agg(F.sum("n_copies")).collect()[0][0]
    assert agg == n_docs


def test_flagship_revenue_positive(spark):
    for row in q_flagship_revenue_by_segment(spark, SF_SMOKE).collect():
        assert row.revenue > 0
        assert row.n_orders <= row.n_lineitems


def test_embedding_lsh_subset_of_brute_force(spark):
    """LSH verification is exact ⇒ its pairs are a subset of brute force;
    determinism across runs."""
    from local_llm_iceberg_cdw_spark.operators.similarity import (
        lsh_near_dup_pairs,
        q_embedding_near_dup,
    )

    brute = {(r.id_a, r.id_b) for r in q_embedding_near_dup(spark, SF_SMOKE).collect()}
    lsh1 = {(r.id_a, r.id_b) for r in lsh_near_dup_pairs(spark, SF_SMOKE).collect()}
    lsh2 = {(r.id_a, r.id_b) for r in lsh_near_dup_pairs(spark, SF_SMOKE).collect()}
    assert lsh1 == lsh2
    assert lsh1 <= brute


def test_embedding_lsh_finds_exact_duplicates(spark):
    """Identical vectors share every signature chunk ⇒ always candidates."""
    import pandas as pd

    from local_llm_iceberg_cdw_spark.catalog import load_table
    from local_llm_iceberg_cdw_spark.operators import similarity as S

    base = load_table(spark, SF_SMOKE, "embeddings").limit(20).toPandas()
    dups = base.head(5).copy()
    dups["vec_id"] = dups["vec_id"] + 10_000  # exact duplicate vectors
    both = spark.createDataFrame(pd.concat([base, dups]))

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        both.write.parquet(f"{d}/embeddings.parquet")
        found = {
            (r.id_a, r.id_b)
            for r in S.lsh_near_dup_pairs(spark, d).collect()
        }
    expected = {(int(v), int(v) + 10_000) for v in dups["vec_id"] - 10_000}
    assert expected <= found


def test_driver_window_priority_ordering():
    """The external driver records correctness rows for the first 50
    registry entries only — the computed window must lead the registry so
    the next round covers every op that lacks a row for its current path."""
    from local_llm_iceberg_cdw_spark import freshness
    from local_llm_iceberg_cdw_spark.operators import all_queries

    latest = freshness.compute_strata()["latest"]
    registry = list(all_queries())
    assert set(freshness.ROUND_CHANGED) <= set(registry), "ROUND_CHANGED names an unknown op"
    window = registry[:50]
    changed = [op for op in window if latest.get(op, 0) < freshness.ROUND_CHANGED.get(op, 0)]
    assert window[: len(changed)] == changed
    rounds = [latest.get(op, 0) for op in window[len(changed) :]]
    assert rounds == sorted(rounds), "oldest adjudication first"


def test_decontamination_eval_docs_complete_and_consistent(spark):
    """Every eval-split doc appears exactly once; contaminated ⇔ count>0;
    n_contaminated never exceeds the doc's distinct gram count."""
    from local_llm_iceberg_cdw_spark.operators.corpus import (
        q_decontamination_check,
        _split_expr,
    )
    from local_llm_iceberg_cdw_spark.catalog import load_table

    rows = q_decontamination_check(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents")
    n_eval = docs.select(_split_expr(F.col("doc_id")).alias("s")).filter("s = 'eval'").count()
    assert len(rows) == n_eval
    for r in rows:
        assert 0 <= r.n_contaminated <= r.n_grams
        assert r.contaminated == (r.n_contaminated > 0)


def test_training_manifest_composition(spark):
    """Manifest rows are dedup-keepers, pass the token gate, and carry the
    same split assignment as hash_split_train_test's rule."""
    from local_llm_iceberg_cdw_spark.operators.corpus import (
        MANIFEST_MIN_TOKENS,
        q_training_manifest,
    )
    from local_llm_iceberg_cdw_spark.operators.dedup import q_exact_dedup

    rows = q_training_manifest(spark, SF_SMOKE).collect()
    assert rows, "manifest is empty"
    keepers = {r.keep_id for r in q_exact_dedup(spark, SF_SMOKE).collect()}
    for r in rows:
        assert r.doc_id in keepers
        assert r.n_tokens >= MANIFEST_MIN_TOKENS
        assert r.split in ("train", "eval")


def test_hash_sample_is_stable_under_repartitioning(spark):
    """MD5-ordered sampling must not depend on physical layout."""
    from local_llm_iceberg_cdw_spark.operators.corpus import q_hash_sample_per_source

    a = [(r.source, r.doc_id, r.rk) for r in q_hash_sample_per_source(spark, SF_SMOKE).collect()]
    b = [(r.source, r.doc_id, r.rk) for r in q_hash_sample_per_source(spark, SF_SMOKE).collect()]
    assert a == b and len(a) > 0


def test_dedup_clusters_invariants(spark):
    """CC output: labels are min-reachable doc_ids — every cluster has
    exactly one canonical doc (its own id), sizes are consistent, and no
    cluster is a singleton (edges require ≥ 2 docs sharing a fingerprint)."""
    from local_llm_iceberg_cdw_spark.operators.corpus_ext import q_dedup_clusters

    rows = q_dedup_clusters(spark, SF_SMOKE).collect()
    by_cluster = {}
    for r in rows:
        assert r.cluster_id <= r.doc_id or not r.is_canonical
        assert r.is_canonical == (r.doc_id == r.cluster_id)
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        assert len(members) >= 2, f"singleton cluster {cid}"
        assert sum(1 for m in members if m.is_canonical) == 1
        assert all(m.cluster_size == len(members) for m in members)


def test_doc_chunking_covers_every_token(spark):
    """Chunks tile the doc: stride < size ⇒ consecutive chunks overlap and
    the union covers all tokens; every doc yields ≥ 1 chunk."""
    from local_llm_iceberg_cdw_spark.operators.corpus_ext import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        q_doc_chunking,
    )
    from local_llm_iceberg_cdw_spark.catalog import load_table

    rows = q_doc_chunking(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents").count()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert len(per_doc) == docs
    for doc_id, chunks in per_doc.items():
        chunks.sort(key=lambda r: r.chunk_id)
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
        # reconstruct n_tokens from the last chunk, then every chunk's size
        # must be min(CHUNK_SIZE, n - i*stride) — i.e. the windows tile the
        # doc exactly, ending only when the remaining tail is consumed
        n = (len(chunks) - 1) * CHUNK_STRIDE + chunks[-1].n_chunk_tokens
        for c in chunks:
            assert c.n_chunk_tokens == min(CHUNK_SIZE, n - c.chunk_id * CHUNK_STRIDE)
        assert (len(chunks) - 1) * CHUNK_STRIDE < n  # last window starts in-range


def test_sequence_packing_tiles_each_source(spark):
    """Concat-and-split invariant: per source, packs partition the token
    stream — pack token sums equal the source total, pack_ids are dense
    from 0, and every pack's docs start inside its budget window."""
    from local_llm_iceberg_cdw_spark.catalog import load_table
    from local_llm_iceberg_cdw_spark.operators.packing import (
        PACK_BUDGET,
        q_sequence_packing,
    )
    from local_llm_iceberg_cdw_spark.operators.text import tokens

    rows = q_sequence_packing(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents")
    totals = {
        r.source: r.total
        for r in docs.groupBy("source")
        .agg(F.sum(F.size(tokens(F.trim(F.lower(F.col("text")))))).alias("total"))
        .collect()
    }
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    assert set(by_source) == set(totals)
    for source, packs in by_source.items():
        packs.sort(key=lambda r: r.pack_id)
        assert [p.pack_id for p in packs] == list(range(len(packs)))
        assert sum(p.pack_tokens for p in packs) == totals[source]
        # doc ranges are contiguous and non-overlapping across packs
        for a, b in zip(packs, packs[1:]):
            assert a.last_doc_id < b.first_doc_id


def test_mixture_weights_sum_to_one(spark):
    from local_llm_iceberg_cdw_spark.operators.packing import q_mixture_weights

    rows = q_mixture_weights(spark, SF_SMOKE).collect()
    assert len(rows) > 1
    assert abs(sum(r.natural_share for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    for r in rows:
        # alpha < 1 compresses the mixture: small sources up-sample,
        # large sources down-sample, pivoting around the uniform share
        if r.natural_share < 1.0 / len(rows):
            assert r.upsample_factor >= 1.0
        else:
            assert r.upsample_factor <= 1.0


def test_prefix_dedup_groups_are_consistent(spark):
    from local_llm_iceberg_cdw_spark.operators.packing import q_prefix_dedup

    rows = q_prefix_dedup(spark, SF_SMOKE).collect()
    by_digest = {}
    for r in rows:
        by_digest.setdefault(r.prefix_digest, []).append(r)
    assert by_digest, "fixture should contain shared-prefix duplicates"
    for digest, members in by_digest.items():
        assert len(members) == members[0].group_size >= 2
        keepers = [m for m in members if m.is_keeper]
        assert len(keepers) == 1
        assert keepers[0].doc_id == min(m.doc_id for m in members)


def test_event_funnel_is_monotone(spark):
    """Ordered funnel: user counts never increase step-over-step, and the
    strictly-ordered click count is <= the unordered click-user count."""
    from local_llm_iceberg_cdw_spark.catalog import load_table
    from local_llm_iceberg_cdw_spark.operators.analytics import q_event_funnel

    rows = sorted(q_event_funnel(spark, SF_SMOKE).collect(), key=lambda r: r.step)
    assert [r.event_type for r in rows] == ["view", "click", "purchase"]
    assert rows[0].n_users >= rows[1].n_users >= rows[2].n_users
    assert rows[0].conversion_from_prev == 1.0 == rows[0].conversion_from_first
    unordered_clicks = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
        .count()
    )
    assert rows[1].n_users <= unordered_clicks


def test_segment_dedup_rewrite_semantics(spark):
    """Keep-first rule: total kept == distinct segments; first occurrence
    (by doc_id, pos) always survives; rebuilt text ⊆ original."""
    from local_llm_iceberg_cdw_spark.operators.dedup import (
        SEG_WORDS,
        q_segment_dedup_rewrite,
    )
    from local_llm_iceberg_cdw_spark.catalog import load_table
    from conftest import SF_SMOKE

    out = {r.doc_id: r for r in q_segment_dedup_rewrite(spark, SF_SMOKE).collect()}
    docs = {r.doc_id: r.text for r in load_table(spark, SF_SMOKE, "documents").collect()}
    assert set(out) == set(docs)  # cardinality preserved

    # recompute expected keep-first in plain Python
    segs_by_doc = {}
    for doc_id in sorted(docs):
        ws = docs[doc_id].split(" ")
        segs_by_doc[doc_id] = [
            " ".join(ws[g * SEG_WORDS : (g + 1) * SEG_WORDS])
            for g in range((len(ws) + SEG_WORDS - 1) // SEG_WORDS)
        ]
    seen, expected = set(), {}
    for doc_id in sorted(segs_by_doc):
        kept = []
        for s in segs_by_doc[doc_id]:  # intra-doc repeats drop too
            if s not in seen:
                kept.append(s)
                seen.add(s)
        expected[doc_id] = " ".join(kept)
    n_dupes = 0
    for doc_id, r in out.items():
        assert r.clean_text == expected[doc_id], doc_id
        assert r.n_segments == len(segs_by_doc[doc_id])
        n_dupes += r.n_segments - r.n_kept
    assert n_dupes > 0  # the fixture does contain repeated segments


def test_semantic_dedup_is_cluster_scoped_subset(spark):
    """Every SemDeDup pair is (a) within one cluster under the converged
    assignments and (b) a subset of the global ≥τ pair set at the same
    threshold; pairs are canonical (id_a < id_b) and non-empty."""
    from local_llm_iceberg_cdw_spark.operators.similarity import (
        SEMDEDUP_COSINE,
        q_kmeans_assignments,
        q_semantic_dedup,
    )
    from conftest import SF_SMOKE

    pairs = q_semantic_dedup(spark, SF_SMOKE).collect()
    assert len(pairs) > 0
    clusters = {
        r.vec_id: r.cluster_id for r in q_kmeans_assignments(spark, SF_SMOKE).collect()
    }
    for p in pairs:
        assert p.id_a < p.id_b
        assert clusters[p.id_a] == clusters[p.id_b] == p.cluster_id
        assert p.cosine >= SEMDEDUP_COSINE


def test_driver_window_priority_is_exactly_the_window():
    """The driver adjudicates the FIRST 50 registry entries; the computed
    window IS that window.  >50 entries silently push the tail outside the
    gate (caught once in round 8); <50 lets insertion order leak in."""
    from local_llm_iceberg_cdw_spark import freshness
    from local_llm_iceberg_cdw_spark.operators import all_queries

    window = freshness.compute_strata()["window"]
    assert len(window) == 50
    assert len(set(window)) == 50
    assert list(all_queries())[:50] == window
