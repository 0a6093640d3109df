"""Operator library — the judged query surface.

Each module exposes ``QUERIES: dict[str, QuerySpec]``.  A ``QuerySpec``
bundles the Spark builder ``(spark, sf_dir) -> DataFrame`` with the
equivalent ANSI SQL for the DuckDB oracle (``None`` for ops that are not
SQL-expressible — the driver then records a weaker rows-only check).

``all_queries()`` merges every module's registry; ``__spark_entry__.py``
re-exports it in the driver's contract shape.  The external driver
adjudicates only the first 50 entries, so ``all_queries()`` puts the
window ``freshness.driver_window`` computes from the CORRECTNESS_r*.json
rows first (ops in ``freshness.ROUND_CHANGED`` not yet re-adjudicated,
then oldest adjudication first); the rest keep module order.  The window
is read on each call, never at import.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..freshness import REPO_ROOT, compute_strata


@dataclass(frozen=True)
class QuerySpec:
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB, or None → rows-only check
    doc: str = ""


def all_queries(repo_root: Path = REPO_ROOT) -> dict[str, QuerySpec]:
    """Every registry entry, the next driver window first.  ``repo_root``
    is where the CORRECTNESS_r*.json rows are read (tests pass a fake)."""
    from . import (
        analytics,
        corpus,
        corpus_ext,
        curation,
        dedup,
        events,
        layout,
        multimodal,
        packing,
        pipeline,
        python_udf,
        quantization,
        relational,
        relational_ext,
        similarity,
        snapshots_op,
        text,
        timeseries,
        tpch_deep,
    )

    merged: dict[str, QuerySpec] = {}
    for mod in (
        relational,
        relational_ext,
        events,
        text,
        dedup,
        similarity,
        quantization,
        curation,
        corpus,
        corpus_ext,
        packing,
        analytics,
        layout,
        multimodal,
        pipeline,
        python_udf,
        snapshots_op,
        timeseries,
        tpch_deep,
    ):
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        merged.update(mod.QUERIES)

    window = compute_strata(repo_root, registry=list(merged))["window"]
    ordered = {n: merged[n] for n in window}
    ordered.update({n: s for n, s in merged.items() if n not in ordered})
    return ordered
