"""Stat-validated zipimporter cache invalidation (camden_spark/_zipimport.py).

PySpark workers call ``importlib.invalidate_caches()`` before every task; on
CPython 3.10/3.11 the stock zipimporter then re-reads the whole archive
directory each time.  The fix re-reads only an archive that changed.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from camden_spark import _zipimport

ACTIVE = (3, 10) <= sys.version_info < (3, 12)


def _add_module(archive: str, name: str, body: str, mode: str = "a") -> None:
    with zipfile.ZipFile(archive, mode) as zf:
        zf.writestr(f"{name}.py", body)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _add_module(path, "zi_first", "VALUE = 1\n", mode="w")
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zi_first", "zi_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_installed_only_where_stock_invalidation_is_eager():
    method = zipimport.zipimporter.invalidate_caches
    if ACTIVE:
        assert method.__module__ == "camden_spark._zipimport"
        assert method.__wrapped__.__module__ == "zipimport"
    else:  # 3.12+ invalidates lazily upstream: the stock method is untouched
        assert method is _zipimport._STOCK


def test_unchanged_archive_is_read_at_most_once(archive, monkeypatch):
    assert importlib.import_module("zi_first").VALUE == 1
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    for _ in range(20):
        importlib.invalidate_caches()
    assert len(reads) <= 1


def test_appended_module_imports_after_one_invalidation(archive):
    importlib.import_module("zi_first")
    importlib.invalidate_caches()
    _add_module(archive, "zi_second", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert importlib.import_module("zi_second").VALUE == 2


def test_missing_archive_falls_back_to_stock(archive):
    importlib.import_module("zi_first")
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache


def test_reimport_is_idempotent(archive):
    before = zipimport.zipimporter.invalidate_caches
    importlib.reload(_zipimport)
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is before
    importlib.invalidate_caches()  # no recursion through a re-captured method
    _add_module(archive, "zi_second", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert importlib.import_module("zi_second").VALUE == 2


def test_spark_worker_runs_stat_validated_method(spark):
    import pandas as pd
    import pyspark.sql.functions as F

    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import zipimport

        import camden_spark.functions.hashing  # noqa: F401

        return pd.Series([zipimport.zipimporter.invalidate_caches.__module__] * len(s))

    got = {r[0] for r in spark.range(0, 8, 1, 4).select(probe("id")).collect()}
    assert got == {"camden_spark._zipimport" if ACTIVE else "zipimport"}
