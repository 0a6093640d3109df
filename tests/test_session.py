"""The session factory's generated-code cache holds the engine's working
set, so a repeated query reuses its compiled classes."""

from __future__ import annotations

from local_llm_iceberg_cdw_spark.session import CODEGEN_CACHE_ENTRIES


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM: the codegen cache calls the
    compiler, and records its time, only on a miss."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_queries_reuse_their_generated_classes(spark):
    """60 distinct tiny queries generate about 120 classes, more than
    Spark's default 100-entry cache holds: with it, the second pass
    recompiles nearly all of them.  The factory's cache keeps them."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)

    def one_pass():
        for i in range(60):
            spark.range(8).selectExpr(f"id * {i} + 7919 AS x").collect()

    before = _compiles(spark)
    one_pass()
    first = _compiles(spark)
    assert first - before > 100  # the pass outgrows Spark's default cache
    one_pass()
    assert _compiles(spark) == first
