"""Bench name hygiene (VERDICT r12 #6): every registry entry's cost must be
a MECHANICAL lookup — resolvable under its registry name in exactly one of
the three committed bench artifacts:

* ``BENCH_HEADLINE.json``    — the headline sweep (BENCH_QUERIES ∪ EXTRA_BENCH_OPS),
  refreshed with ``SPARK_GRAFT_BENCH_OUT=BENCH_HEADLINE.json python bench.py``
* ``BENCH_REGISTRY_REST.json``       — sf0.1 sweep of the non-headline registry rest
* ``BENCH_REGISTRY_REST_SF001.json`` — sf0.01 sweep of the deliberately
  sf0.1-excluded brute-force validation baselines (embedding_near_dup,
  minhash_lsh_dedup, ngram_jaccard_dedup, simhash_dedup, theta_join_acctbal
  — O(n²) forms whose only role is oracle-style validation of the LSH/IVF
  scale paths; timing them at sf0.1 would bench the harness, not an
  operator anyone runs at scale)

``BENCH_RESULT.json`` is NOT one of them: it is ``bench.py``'s default,
gitignored scratch output, overwritten by every subset, registry-rest and
scaling run, so no test reads it.

Production library forms benched under non-registry names (ivf_topk_results,
minhash_lsh_verdicts, ...) are EXTRA timings, not substitutes — the r12
verdict flagged exactly that substitution as a lookup gap.

A new judged op therefore isn't done until its timing lands in an artifact
(the per-op ladder's bench step); this test turns that rule into a gate.
"""

from __future__ import annotations

import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_BRUTE_BASELINES = (
    "embedding_near_dup,minhash_lsh_dedup,ngram_jaccard_dedup,simhash_dedup,"
    "theta_join_acctbal"
)

# artifact -> the bench.py command (run from the repo root) that writes it
ARTIFACTS = {
    "BENCH_HEADLINE.json": "SPARK_GRAFT_BENCH_OUT=BENCH_HEADLINE.json python bench.py",
    "BENCH_REGISTRY_REST.json": (
        "SPARK_GRAFT_BENCH_REGISTRY_REST=1 "
        f"SPARK_GRAFT_BENCH_EXCLUDE={_BRUTE_BASELINES} "
        "SPARK_GRAFT_BENCH_OUT=BENCH_REGISTRY_REST.json python bench.py"
    ),
    "BENCH_REGISTRY_REST_SF001.json": (
        "SPARK_GRAFT_BENCH_REGISTRY_REST=1 "
        f"SPARK_GRAFT_BENCH_ONLY={_BRUTE_BASELINES} "
        "SPARK_GRAFT_SF_DIR=<testdata>/sf0.01 "
        "SPARK_GRAFT_BENCH_OUT=BENCH_REGISTRY_REST_SF001.json python bench.py"
    ),
}


def _queries(path: Path) -> dict[str, float]:
    d = json.loads(path.read_text())
    return d.get("queries") or d.get("parsed", {}).get("queries", {}) or {}


def test_coverage_quoted_final_sweep_matches_artifact():
    """The canonical-number rule (VERDICT r13 #7): every 'Final rN sweep'
    total quoted in COVERAGE.md must BE that round's canonical figure —
    two circulating totals for one sweep forced an adjudication in r13.
    The driver's ``BENCH_r{N}.json`` is canonical when it exists (it
    supersedes any builder-side run of the same round); until the driver
    has recorded a round, the committed headline sweep
    ``BENCH_HEADLINE.json`` is the only artifact and the note must quote
    it (the gitignored ``BENCH_RESULT.json`` does not exist in a clean
    checkout).  Protocol implied: the gated note for round N is written
    once BENCH_r{N}.json exists (round N+1's opening commit), from that
    artifact — never hand-quoted.
    Rounds ≤ 13 predate the rule (their notes recorded builder sweeps
    while the driver's differing run is canonical, which is the exact
    ambiguity this rule removed)."""
    import re

    cov = (REPO / "COVERAGE.md").read_text()
    notes = re.findall(
        r"Final r(\d+) sweep on frozen code: \*\*([\d.]+) s / (\d+) bench entries",
        cov,
    )
    assert any(int(n) == 14 for n, _, _ in notes), (
        "the r14 COVERAGE note must quote the final sweep total (VERDICT r14 #1)"
    )
    for n_str, secs_str, entries_str in notes:
        n, secs, entries = int(n_str), float(secs_str), int(entries_str)
        if n <= 13:
            continue
        art = REPO / f"BENCH_r{n:02d}.json"
        if art.exists():
            p = json.loads(art.read_text()).get("parsed") or {}
            assert abs(secs - p["value"]) < 0.01, (
                f"r{n} note quotes {secs} s but canonical BENCH_r{n:02d}.json "
                f"records {p['value']} s — update the note from the artifact"
            )
            assert entries == p.get("n_queries", entries)
        else:
            d = json.loads((REPO / "BENCH_HEADLINE.json").read_text())
            assert abs(secs - d["value"]) < 0.01, (
                f"r{n} note quotes {secs} s but BENCH_HEADLINE.json records "
                f"{d['value']} s — update the note from the artifact"
            )
            assert entries == len(d["queries"])


def test_every_registry_entry_has_a_resolvable_timing():
    from local_llm_iceberg_cdw_spark.operators import all_queries

    have: dict[str, str] = {}
    for name, command in ARTIFACTS.items():
        p = REPO / name
        assert p.exists(), (
            f"committed bench artifact {name} is missing — write it from the "
            f"repo root with: {command}"
        )
        for q in _queries(p):
            have.setdefault(q, name)
    missing = [n for n in all_queries() if n not in have]
    assert not missing, (
        f"registry entries with no bench timing under their own name: {missing} "
        "— run the per-op bench step (headline, registry-rest, or sf0.01 "
        "baseline sweep) and merge the timing into the matching artifact"
    )
