"""The engine's Python worker daemon (``real_estate_bigdata_spark.worker_daemon``).

Two layers:

- the stat-validated ``zipimporter.invalidate_caches`` on a temp zip,
  called directly on a ``zipimporter`` (nothing is installed in the
  pytest process);
- the daemon in a live session: workers report the patched method, and
  an ``addPyFile`` archive added after workers have run still imports.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from real_estate_bigdata_spark import worker_daemon as wd


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in members.items():
            zf.writestr(name, body)


def _load(importer: zipimport.zipimporter, name: str):
    spec = importer.find_spec(name)
    if spec is None:
        return None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture
def archive(tmp_path):
    path = str(tmp_path / "probe.zip")
    _write_zip(path, {"mod_a.py": "VALUE = 'a'\n"})
    yield path
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive):
    imp = zipimport.zipimporter(archive)
    wd._invalidate_caches(imp)  # unstamped: reads and stamps
    files = imp._files
    for _ in range(3):
        wd._invalidate_caches(imp)
    assert imp._files is files
    # the stdlib method re-reads into a new dict on every call
    wd._stdlib_invalidate_caches(imp)
    assert imp._files is not files


def test_rewritten_archive_is_reread(archive):
    imp = zipimport.zipimporter(archive)
    wd._invalidate_caches(imp)
    assert _load(imp, "mod_a").VALUE == "a"
    _write_zip(archive, {"mod_a.py": "VALUE = 'a'\n", "mod_b.py": "VALUE = 'b'\n"})
    assert _load(imp, "mod_b") is None  # stale directory until invalidated
    wd._invalidate_caches(imp)
    assert _load(imp, "mod_b").VALUE == "b"


def test_deleted_archive_matches_stdlib(archive):
    ours, stdlib = zipimport.zipimporter(archive), zipimport.zipimporter(archive)
    wd._invalidate_caches(ours)
    os.remove(archive)
    wd._invalidate_caches(ours)
    assert archive not in zipimport._zip_directory_cache
    wd._stdlib_invalidate_caches(stdlib)
    assert archive not in zipimport._zip_directory_cache
    assert ours._files == stdlib._files == {}
    assert _load(ours, "mod_a") is None


def test_workers_run_the_engine_daemon(spark):
    if sys.version_info >= (3, 13):
        pytest.skip("CPython 3.13+ reads zip directories lazily; no patch")

    def report(batches):
        import zipimport

        module = zipimport.zipimporter.invalidate_caches.__module__
        for _ in batches:
            yield pd.DataFrame({"module": [module]})

    rows = (
        spark.range(0, 8, numPartitions=4)
        .mapInPandas(report, "module string")
        .distinct()
        .collect()
    )
    assert [r.module for r in rows] == [wd.__name__]


def test_add_py_file_after_workers_ran(spark, tmp_path):
    spark.range(0, 8, numPartitions=4).mapInPandas(
        lambda it: it, "id long"
    ).collect()  # start (and reuse) workers before the archive exists
    name = f"addpyfile_probe_{uuid.uuid4().hex}"
    path = tmp_path / f"{name}.zip"
    _write_zip(path, {f"{name}.py": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(path))

    @F.udf("int")
    def probe(_):
        import importlib

        return importlib.import_module(name).VALUE

    rows = spark.range(0, 8, numPartitions=4).select(probe("id").alias("v")).collect()
    assert {r.v for r in rows} == {42}
