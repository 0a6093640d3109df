"""Pin FRESHNESS.md (the generated adjudication-strata artifact) against
recomputation from CORRECTNESS_r*.json + the live registry.

This is VERDICT r12 prescription #2: stale hand-maintained freshness prose
survived three rounds of flagging (r12's "every entry's latest driver row is
r7+" vs six entries actually last-adjudicated r5).  The claim is now a
computed artifact; this test makes a stale committed copy a suite failure.

Grace semantics: the strict comparison is evaluated at FRESHNESS.md's own
``as_of`` round, so the external driver appending CORRECTNESS_r{N+1}.json at
round end does not fail the suite mid-snapshot.  A lag of more than one round
(i.e. a session that started after new driver rows landed and did not
regenerate the artifact) DOES fail — that is the tripwire.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

from local_llm_iceberg_cdw_spark import freshness
from local_llm_iceberg_cdw_spark.operators import all_queries

REPO = Path(__file__).resolve().parent.parent


def _artifact_as_of() -> int:
    text = (REPO / "FRESHNESS.md").read_text()
    m = re.search(r"- as_of: r(\d+)", text)
    assert m, "FRESHNESS.md lost its as_of line"
    return int(m.group(1))


def test_freshness_artifact_matches_recomputation():
    as_of = _artifact_as_of()
    s = freshness.compute_strata(max_round=as_of)
    expected = freshness.render_markdown(s) + "\n"
    actual = (REPO / "FRESHNESS.md").read_text()
    assert actual == expected, (
        "FRESHNESS.md is stale — regenerate with "
        "`python -m local_llm_iceberg_cdw_spark.freshness --write`"
    )


def test_freshness_artifact_lag_at_most_one_round():
    rounds = freshness.correctness_rounds()
    assert rounds, "no CORRECTNESS_r*.json artifacts found"
    lag = max(rounds) - _artifact_as_of()
    assert lag <= 1, (
        f"FRESHNESS.md is {lag} rounds behind the newest CORRECTNESS artifact "
        f"(r{max(rounds):02d}) — regenerate it as the first rotation step"
    )


def test_no_reds_at_latest_adjudication():
    s = freshness.compute_strata()
    assert s["reds"] == [], f"red driver rows at latest adjudication: {s['reds']}"


def test_driver_window_covers_never_adjudicated_backlog():
    """Every registry entry with no driver row must sit inside the next
    window (the first 50 registry entries), unless the backlog exceeds the
    window — rotation exists precisely to retire this stratum first."""
    s = freshness.compute_strata()
    window = list(all_queries())[:50]
    missing = [op for op in s["never_adjudicated"] if op not in window]
    if len(s["never_adjudicated"]) <= len(window):
        assert not missing, (
            f"never-adjudicated ops left out of the driver window: {missing}"
        )


def test_committed_correctness_artifacts_parse():
    """``correctness_rounds`` skips an unreadable file so a round the driver
    is still writing cannot break ``all_queries()``; this keeps a bad
    committed artifact a suite failure instead of a silent skip."""
    paths = sorted(REPO.glob("CORRECTNESS_r*.json"))
    assert paths
    for path in paths:
        rows = json.loads(path.read_text())
        assert isinstance(rows, dict), path.name
        assert all(isinstance(row, dict) for row in rows.values()), path.name
    assert len(freshness.correctness_rounds()) == len(paths)


# --- the computed driver window, over synthetic round files ------------------

_GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}


def _write_round(root: Path, rnd: int, ops) -> None:
    (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps({op: _GREEN for op in ops}))


def _window(root: Path) -> list[str]:
    return list(all_queries(root))[:50]


@pytest.fixture
def registry() -> list[str]:
    return sorted(all_queries())


@pytest.mark.parametrize("landed", [21, 22])
def test_changed_op_leads_until_its_round_lands(tmp_path, monkeypatch, registry, landed):
    changed = ["cosine_topk", "ivf_topk"]
    monkeypatch.setattr(freshness, "ROUND_CHANGED", dict.fromkeys(changed, 21))
    unchanged = [op for op in registry if op not in changed]
    old = unchanged[100:130]
    _write_round(tmp_path, 19, registry)
    _write_round(tmp_path, 20, [op for op in registry if op not in old])
    r20 = [op for op in unchanged if op not in old]
    assert _window(tmp_path) == changed + old + r20[:18]
    _write_round(tmp_path, landed, ["cosine_topk"])
    # retired: cosine_topk now sits in its own (newest) stratum, past r20's
    assert _window(tmp_path) == ["ivf_topk"] + old + r20[:19]
    assert freshness.compute_strata(tmp_path)["latest"]["cosine_topk"] == landed


def test_never_adjudicated_ops_lead_every_stratum(tmp_path, monkeypatch, registry):
    monkeypatch.setattr(freshness, "ROUND_CHANGED", {"cosine_topk": 21})
    fresh = registry[-3:]
    _write_round(tmp_path, 14, registry[:60])
    _write_round(tmp_path, 20, [op for op in registry[60:] if op not in fresh])
    window = _window(tmp_path)
    expected = ["cosine_topk"] + fresh + [op for op in registry[:60] if op != "cosine_topk"]
    assert window == expected[:50]
    assert window == _window(tmp_path)  # same order on every call


def test_registry_complete_without_artifacts(tmp_path, registry):
    names = list(all_queries(tmp_path))
    assert sorted(names) == registry
    changed = sorted(freshness.ROUND_CHANGED)
    assert names[: len(changed)] == changed
    assert len(set(names[:50])) == 50


def test_truncated_artifact_is_skipped_with_a_warning(tmp_path, capsys, registry):
    _write_round(tmp_path, 19, registry)
    (tmp_path / "CORRECTNESS_r20.json").write_text('{"cosine_topk": {"rows_ma')
    assert sorted(all_queries(tmp_path)) == registry
    assert "CORRECTNESS_r20.json" in capsys.readouterr().err
    assert freshness.compute_strata(tmp_path)["as_of"] == 19


def test_operators_import_reads_no_artifact():
    """The window is computed inside ``all_queries()``: importing the
    operator package (as the vector_search benchmark does through
    ``operators.similarity``) must not read the CORRECTNESS files."""
    code = (
        "import sys\n"
        "seen = []\n"
        "sys.addaudithook(lambda ev, a: seen.append(str(a[0])) if ev == 'open' else None)\n"
        "import local_llm_iceberg_cdw_spark.operators.similarity\n"
        "hits = [p for p in seen if 'CORRECTNESS_r' in p]\n"
        "assert not hits, hits\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True)
