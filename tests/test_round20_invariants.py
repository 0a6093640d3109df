"""Round-20 invariants for the vector ops' single pair-scoring path
(`similarity._pair_scores`, one Arrow ``mapInPandas`` pass) and a few
edge inputs.

Golden digests: each op's rows at the 500-row smoke fixture, hashed
with exact float reprs, as the unrolled Catalyst brute tier emitted them
before that tier was deleted.  The DuckDB oracle checks cosine_topk,
hard_negative_mining and sq8_adc_topk at 6 significant digits and the
IVF ops only through recall booleans; these digests pin every op
bitwise to the expression form (a dtype change, fold reorder or
FMA-enabled BLAS swap in the numpy folds moves them)."""

from __future__ import annotations

import hashlib

import pytest

from local_llm_iceberg_cdw_spark.operators import quantization as qz
from local_llm_iceberg_cdw_spark.operators import similarity as sim
from local_llm_iceberg_cdw_spark.operators.text import (
    q_hybrid_rrf_search,
    q_rag_context_pack,
)
from tests.conftest import SF_SMOKE


def _rows(df):
    """Collected rows as a sorted list of tuples; array cells tupled so
    exact equality is well-defined."""
    out = []
    for r in df.collect():
        out.append(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
        )
    return sorted(out, key=repr)


def _digest(df):
    """(row count, short sha256 of the exact-repr sorted rows)."""
    rows = _rows(df)
    return len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def test_cosine_topk_fold_twin_matches_brute_exactly(spark):
    assert _digest(sim.q_cosine_topk(spark, SF_SMOKE)) == (50, "7b673a8e6f808fa9")


def test_hard_negative_mining_fold_twin_matches_brute_exactly(spark):
    """The labelled variant: the label filter is part of the kernel's
    pair mask — pair set AND cosines must match bitwise."""
    assert _digest(sim.q_hard_negative_mining(spark, SF_SMOKE)) == (
        50,
        "ff2b5ddbe034cf20",
    )


def test_sq8_adc_topk_fold_twin_matches_brute_exactly(spark):
    """The kernel replays the code derivation floor(x·127/m + 0.5) plus
    both score folds — sq8_score, exact_dot, recall_q and ranks must all
    match bitwise."""
    assert _digest(qz.q_sq8_adc_topk(spark, SF_SMOKE)) == (50, "611503d6b82e5d6f")


def test_dense_shortlist_arrow_tier_matches_brute_exactly(spark):
    got = sim.dense_shortlist(spark, SF_SMOKE, sim.MMR_QUERY_VEC, 15)
    assert _digest(got) == (15, "4208fb5322910d0c")


def test_dense_shortlist_arrow_tier_absent_query_returns_empty(spark):
    """ADVICE r19: an absent query vector degrades to an empty shortlist
    (the oracle's crossJoin semantics), not IndexError."""
    got = sim.dense_shortlist(spark, SF_SMOKE, 10**9, 15)
    assert got.count() == 0
    assert got.columns == ["vec_id", "cosine", "cv", "cn"]


def test_mmr_and_shortlist_consumers_twin_tier_matches_brute_exactly(spark):
    """The dense_shortlist consumers (MMR's driver-side greedy, hybrid
    RRF, RAG context pack) emit the rows they emitted on the brute
    shortlist tier, bitwise."""
    golden = {
        sim.q_mmr_diversified_topk: (5, "446823b9da535e4f"),
        q_hybrid_rrf_search: (15, "a20fa0034f912577"),
        q_rag_context_pack: (6, "540f39a4eea0a799"),
    }
    for fn, want in golden.items():
        assert _digest(fn(spark, SF_SMOKE)) == want, fn


def test_mmr_greedy_degrades_when_shortlist_smaller_than_k(spark, monkeypatch):
    """ADVICE r19: with fewer shortlist rows than MMR_K the greedy must
    stop (fewer picks), not crash on best=None."""
    monkeypatch.setattr(sim, "MMR_SHORTLIST", 2)
    got = sim.q_mmr_diversified_topk(spark, SF_SMOKE).collect()
    assert [r.step for r in got] == [1, 2]


def test_ivf_topk_results_fold_twin_matches_brute_exactly(spark):
    """The probed-cell mask must reproduce the expression form's cell
    join row-for-row — same probed pair set, bitwise-same cosines/ranks."""
    assert _digest(sim.ivf_topk_results(spark, SF_SMOKE)) == (50, "f74cbe7f127d18b5")


def test_ivfsq8_results_fold_twin_matches_brute_exactly(spark):
    assert _digest(qz.ivfsq8_results(spark, SF_SMOKE)) == (50, "539f35e1572c377d")


@pytest.mark.parametrize(
    "build, want",
    [
        (lambda spark: qz.ivfpq_results(spark, SF_SMOKE), (50, "539f35e1572c377d")),
        (
            lambda spark: qz.ivfpq_results(spark, SF_SMOKE, fitted=True),
            (50, "180a24dcdda7efde"),
        ),
        (
            lambda spark: qz.ivfsq8_results(spark, SF_SMOKE, fitted=True),
            (50, "180a24dcdda7efde"),
        ),
        (
            lambda spark: sim.ivf_topk_results(spark, SF_SMOKE, fitted=True),
            (50, "6d5e37a7ce76b7ac"),
        ),
    ],
    ids=[
        "ivfpq_results",
        "ivfpq_results_fitted",
        "ivfsq8_results_fitted",
        "ivf_topk_results_fitted",
    ],
)
def test_ivf_composed_results_match_golden_rows_exactly(spark, build, want):
    """The IVF compositions' rows, seed and fitted models, as emitted
    before their cell-assignment, ADC and re-rank code was shared.  The
    judged ``*_topk`` forms hash only counts and a recall boolean, so
    these digests are the only pin on the rows themselves."""
    assert _digest(build(spark)) == want


_VECTOR_OPS = {
    "cosine_topk": sim.q_cosine_topk,
    "hard_negative_mining": sim.q_hard_negative_mining,
    "ivf_topk_results": sim.ivf_topk_results,
    "semantic_decontamination": sim.q_semantic_decontamination,
    "sq8_adc_topk": qz.q_sq8_adc_topk,
    "ivfsq8_results": qz.ivfsq8_results,
    "ivfsq8_topk": qz.q_ivfsq8_topk,
    "dense_shortlist": lambda spark, sf: sim.dense_shortlist(
        spark, sf, sim.MMR_QUERY_VEC, 15
    ),
}


@pytest.mark.parametrize("name", list(_VECTOR_OPS))
def test_vector_op_plans_one_arrow_pair_pass(spark, name):
    """Every vector op scores its pairs in one narrow Arrow pass at the
    oracle-checked smoke scale: no per-pair Catalyst expression join."""
    df = _VECTOR_OPS[name](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "BroadcastNestedLoopJoin" not in plan


def test_zero_vector_fails_loudly_naming_its_vec_id(spark, tmp_path):
    """A zero embedding has no cosine: the pair kernel, the
    decontamination scorer, the k-means cell assignment and the IVF+PQ
    index build raise a ValueError naming its vec_id, on the executor
    (corpus row) and on the driver (query vector) alike."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    zero_id = 42  # a train row, not a query, centroid or holdout vector
    t = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    vecs = t.column("embedding").to_pylist()
    for i, vid in enumerate(t.column("vec_id").to_pylist()):
        if vid == zero_id:
            vecs[i] = [0.0] * len(vecs[i])
    col = t.schema.get_field_index("embedding")
    t = t.set_column(col, "embedding", pa.array(vecs, t.schema.field(col).type))
    pq.write_table(t, str(tmp_path / "embeddings.parquet"))
    d = str(tmp_path)

    for run in (
        lambda: sim.q_cosine_topk(spark, d).collect(),
        lambda: sim.dense_shortlist(spark, d, sim.MMR_QUERY_VEC, 15).collect(),
        lambda: sim.dense_shortlist(spark, d, zero_id, 15).collect(),
        lambda: sim.q_semantic_decontamination(spark, d).collect(),
        lambda: sim.q_kmeans_assignments(spark, d).collect(),
        lambda: sim.q_semantic_dedup(spark, d).collect(),
        lambda: qz.ivfpq_results(spark, d).collect(),
    ):
        with pytest.raises(Exception, match=f"vec_id {zero_id} is a zero vector"):
            run()
    # the matmul probe itself, for callers without vec_ids
    with pytest.raises(ValueError, match="row 1 of the probed batch is a zero vector"):
        sim._numpy_probe_cells([[1.0, 0.0], [0.0, 0.0]], [(0, [1.0, 0.0])], 1)


def test_multiset_equal_rejects_w_collision(spark):
    from local_llm_iceberg_cdw_spark.operators.snapshots_op import _multiset_equal

    df = spark.createDataFrame([(1, 1)], "k long, __w long")
    with pytest.raises(AssertionError, match="__w"):
        _multiset_equal(df, df)
