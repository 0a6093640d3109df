"""The engine's Python worker daemon: its zipimport cache reset re-reads
only archives that changed, and every ``build_session`` session starts
its workers under it, from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from local_llm_iceberg_cdw_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13 resets zipimport caches lazily; no patch"
)

_INVALIDATION = r"""
import importlib, os, sys, zipfile, zipimport
from local_llm_iceberg_cdw_spark.worker_daemon import patch_zipimport

archive = sys.argv[1]

def write(mods):
    with zipfile.ZipFile(archive + ".tmp", "w") as z:
        for m in mods:
            z.writestr(m + ".py", f"NAME = {m!r}\n")
    os.replace(archive + ".tmp", archive)

write(["mod_a"])
sys.path.insert(0, archive)
import mod_a
patch_zipimport()
reads = []
real = zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or real(path)
importlib.invalidate_caches()
assert reads == [], reads
write(["mod_a", "mod_b"])
importlib.invalidate_caches()
assert reads == [archive], reads
import mod_b
assert mod_b.NAME == "mod_b"
"""


def _run(script: str, *args: str, cwd: str, env: dict) -> None:
    out = subprocess.run(
        [sys.executable, "-c", script, *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]


@needs_patch
def test_zip_reset_rereads_only_changed_archives(tmp_path):
    env = {**os.environ, "PYTHONPATH": ROOT}
    _run(_INVALIDATION, str(tmp_path / "mods.zip"), cwd=str(tmp_path), env=env)


@needs_patch
def test_session_workers_run_under_the_daemon(spark):
    def report(batches):
        import zipimport

        import pandas as pd

        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            pass
        yield pd.DataFrame({"fn": [fn.__code__.co_filename]})

    rows = spark.range(1, numPartitions=1).mapInPandas(report, "fn string").collect()
    assert [r.fn for r in rows] == [worker_daemon.__file__]


_PANDAS_UDF = r"""
import sys
sys.path.insert(0, sys.argv[1])
import pandas as pd
from pyspark.sql.functions import pandas_udf
from local_llm_iceberg_cdw_spark.session import build_session

spark = build_session(master="local[1]", shuffle_partitions=1,
                      extra_conf={"spark.driver.memory": "1g"})
plus_one = pandas_udf(lambda s: s + 1, "long")
assert [r[0] for r in spark.range(3).select(plus_one("id")).collect()] == [1, 2, 3]
spark.stop()
"""


def test_daemon_imports_from_any_cwd(tmp_path):
    """Without the package on the caller's PYTHONPATH, workers must still
    import the daemon, or every Python task of the session fails."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    _run(_PANDAS_UDF, ROOT, cwd=str(tmp_path), env=env)
