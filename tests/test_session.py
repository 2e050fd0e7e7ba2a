"""The session's Python-boundary defaults: the worker daemon's archive
re-read fix, the workers' PYTHONPATH, and call-site capture off."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

import iceberg_tracking_spark
from iceberg_tracking_spark import worker_daemon


def _archive_reads_per_invalidate(_):
    """(zipimporters held, archive directory reads made by one
    `importlib.invalidate_caches()`) inside a Python task."""
    held = sum(
        isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
    )
    reads = [0]
    stock = zipimport._read_directory  # noqa: SLF001

    def counting(path):
        reads[0] += 1
        return stock(path)

    zipimport._read_directory = counting  # noqa: SLF001
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = stock  # noqa: SLF001
    yield held, reads[0]


def test_python_task_does_not_reread_archives(spark):
    got = (
        spark.sparkContext.parallelize(range(2), 2)
        .mapPartitions(_archive_reads_per_invalidate)
        .collect()
    )
    if not any(held for held, _ in got):
        pytest.skip("the Python workers import nothing from a zip archive")
    assert [reads for _, reads in got] == [0, 0]


def test_rewritten_archive_is_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("wd_probe_a.py", "A = 1\n")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_caches
    )
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("wd_probe_a").A == 1
        importlib.invalidate_caches()  # stamps the unchanged archive
        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("wd_probe_b.py", "B = 2\n")
        importlib.invalidate_caches()
        assert importlib.import_module("wd_probe_b").B == 2
    finally:
        for name in ("wd_probe_a", "wd_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)
        zipimport._zip_directory_cache.pop(str(archive), None)  # noqa: SLF001


def test_workers_import_the_package_through_the_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == worker_daemon.__name__
    package_parent = os.path.dirname(os.path.dirname(iceberg_tracking_spark.__file__))
    assert package_parent in conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)


def test_bad_column_keeps_error_class_without_call_site(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(AnalysisException) as err:
        spark.range(1).select(F.col("no_such_column")).collect()
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")
