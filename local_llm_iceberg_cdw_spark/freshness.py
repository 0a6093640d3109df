"""Mechanical freshness accounting over the driver's CORRECTNESS_r*.json rows.

Motivation (VERDICT r10/r11/r12, "What's wrong" #1 each round): hand-maintained
prose claims about driver-adjudication freshness drifted from the artifacts
three rounds running — r12's rotation note claimed "every entry's latest driver
row is r7+" while six entries were last adjudicated r5.  This module makes the
claim a computed artifact instead of prose:

* ``compute_strata()`` recomputes, from the CORRECTNESS_r*.json files and the
  live registry (``operators.all_queries()``), each entry's latest driver
  adjudication round, its green/red status at that adjudication, the set
  of entries that have never seen a driver row, and the next driver window
  (``driver_window()``: the first ``DRIVER_WINDOW`` registry entries, the
  only ones the external driver adjudicates).  ``all_queries()`` calls it
  with its own names to put that window first, so the window is computed
  from the driver's rows plus the short ``ROUND_CHANGED`` map, never kept
  by hand.
* ``python -m local_llm_iceberg_cdw_spark.freshness --write`` regenerates the
  committed ``FRESHNESS.md`` artifact from those numbers.
* ``tests/test_freshness_claims.py`` pins FRESHNESS.md == recomputation, so a
  stale committed claim fails the suite instead of surviving into a verdict.

COVERAGE.md must cite FRESHNESS.md rather than hand-quoting strata numbers.
"""

from __future__ import annotations

import json
import re
import sys
from collections.abc import Iterable
from pathlib import Path
from typing import Any

REPO_ROOT = Path(__file__).resolve().parent.parent
FRESHNESS_MD = REPO_ROOT / "FRESHNESS.md"

_HEADER = "# FRESHNESS — driver-adjudication strata (generated, do not hand-edit)"


# Ops whose driver-scale (sf0.01) path changed after their newest driver
# row, mapped to the first round whose row can describe the new path.  An
# entry leads the driver window until a row from that round or later
# exists, then falls back to its stratum by itself; to front-load an op,
# add it here with the next round number.
ROUND_CHANGED: dict[str, int] = {
    # sf0.01 has 500 embeddings: these ran the Catalyst brute tier, now deleted
    "cosine_topk": 21,
    "hard_negative_mining": 21,
    "hybrid_rrf_search": 21,
    "ivf_topk": 21,
    "ivfsq8_topk": 21,
    "mmr_diversified_topk": 21,
    "rag_context_pack": 21,
    "semantic_decontamination": 21,
    "sq8_adc_topk": 21,
    # the readStream facade now plans its partitions with plan_changes
    "stream_table_cdc_facade_drained": 21,
    "stream_table_readstream_drained": 21,
}

DRIVER_WINDOW = 50  # the driver adjudicates only the first 50 registry entries


def correctness_rounds(repo_root: Path = REPO_ROOT) -> dict[int, dict[str, dict[str, Any]]]:
    """All CORRECTNESS_r*.json records, keyed by round number.

    The driver writes a new file at round end, so an unreadable one is
    skipped with a stderr line naming it rather than failing every caller
    (``__spark_entry__.queries()`` among them); the suite's parse test keeps
    a bad committed file loud.
    """
    out: dict[int, dict[str, dict[str, Any]]] = {}
    for path in sorted(repo_root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path.name)
        if not m:
            continue
        try:
            rows = json.loads(path.read_text())
            if not isinstance(rows, dict):
                raise ValueError(f"top level is {type(rows).__name__}, not an object")
        except (OSError, ValueError) as exc:
            print(f"correctness_rounds: skipping {path.name}: {exc}", file=sys.stderr)
            continue
        out[int(m.group(1))] = rows
    return out


def driver_window(names: Iterable[str], latest: dict[str, int]) -> list[str]:
    """The next driver window: ops whose path changed since their newest row
    first, then oldest adjudication first (never adjudicated = round 0),
    ties by name."""

    def key(op: str) -> tuple[bool, int, str]:
        rnd = latest.get(op, 0)
        return (rnd >= ROUND_CHANGED.get(op, 0), rnd, op)

    return sorted(names, key=key)[:DRIVER_WINDOW]


def row_is_green(row: dict[str, Any]) -> bool:
    """Driver row verdict: rows+schema must match, hash must match when the
    driver computed one (``hash_match`` is None for rows-only checks on
    non-SQL-expressible ops), and no error."""
    if row.get("err"):
        return False
    if not (row.get("rows_match") and row.get("schema_match")):
        return False
    return row.get("hash_match") in (True, None)


def registry_names() -> list[str]:
    from .operators import all_queries

    return list(all_queries().keys())


def compute_strata(
    repo_root: Path = REPO_ROOT,
    max_round: int | None = None,
    registry: list[str] | None = None,
) -> dict[str, Any]:
    """Latest-adjudication strata over rounds <= ``max_round`` (default: all).

    Returns a dict with ``as_of`` (newest round consumed), ``latest``
    (op -> round), ``strata`` (round -> sorted ops), ``reds`` (ops whose
    latest row is not green), ``never_adjudicated`` (registry ops with no
    driver row), ``oldest_round`` (min over adjudicated registry ops) and
    ``window`` (the next driver window those rounds give).
    """
    rounds = correctness_rounds(repo_root)
    if max_round is not None:
        rounds = {r: d for r, d in rounds.items() if r <= max_round}
    if registry is None:
        registry = registry_names()
    latest: dict[str, int] = {}
    latest_row: dict[str, dict[str, Any]] = {}
    for rnd in sorted(rounds):
        for op, row in rounds[rnd].items():
            latest[op] = rnd
            latest_row[op] = row
    in_registry = {op: r for op, r in latest.items() if op in set(registry)}
    strata: dict[int, list[str]] = {}
    for op, rnd in sorted(in_registry.items()):
        strata.setdefault(rnd, []).append(op)
    reds = sorted(op for op, row in latest_row.items() if op in in_registry and not row_is_green(row))
    never = sorted(set(registry) - set(latest))
    return {
        "as_of": max(rounds) if rounds else 0,
        "latest": in_registry,
        "strata": {r: sorted(ops) for r, ops in sorted(strata.items())},
        "reds": reds,
        "never_adjudicated": never,
        "oldest_round": min(in_registry.values()) if in_registry else None,
        "registry_size": len(registry),
        "window": driver_window(registry, in_registry),
    }


def render_markdown(s: dict[str, Any]) -> str:
    lines = [
        _HEADER,
        "",
        "Regenerate with `python -m local_llm_iceberg_cdw_spark.freshness --write`;",
        "`tests/test_freshness_claims.py` pins this file against recomputation from",
        "the CORRECTNESS_r*.json artifacts and the live registry.",
        "",
        f"- as_of: r{s['as_of']:02d}",
        f"- registry_size: {s['registry_size']}",
        f"- adjudicated: {len(s['latest'])}",
        f"- never_adjudicated: {len(s['never_adjudicated'])}",
        f"- oldest_adjudication_round: {s['oldest_round']}",
        f"- reds_at_latest_adjudication: {len(s['reds'])}",
        "",
        "## Strata (latest driver row per registry entry)",
        "",
    ]
    for rnd, ops in s["strata"].items():
        lines.append(f"### r{rnd:02d} ({len(ops)})")
        lines.append("")
        lines.append(", ".join(f"`{o}`" for o in ops))
        lines.append("")
    lines.append(f"### never adjudicated ({len(s['never_adjudicated'])})")
    lines.append("")
    lines.append(", ".join(f"`{o}`" for o in s["never_adjudicated"]) or "(none)")
    lines.append("")
    if s["reds"]:
        lines.append("### RED at latest adjudication")
        lines.append("")
        lines.append(", ".join(f"`{o}`" for o in s["reds"]))
        lines.append("")
    lines += [
        f"## Next driver window ({len(s['window'])}, in registry order)",
        "",
        "`ROUND_CHANGED` ops not yet adjudicated since their change first, then",
        "oldest adjudication first, ties by name (`freshness.driver_window`).",
        "",
    ]
    lines += [f"{i}. `{o}`" for i, o in enumerate(s["window"], 1)]
    lines.append("")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    s = compute_strata()
    md = render_markdown(s)
    if "--write" in argv:
        FRESHNESS_MD.write_text(md + "\n")
        print(f"wrote {FRESHNESS_MD} (as_of r{s['as_of']:02d})")
    else:
        print(md)
    return 0


if __name__ == "__main__":  # pragma: no cover
    import sys

    raise SystemExit(main(sys.argv[1:]))
