"""The worker daemon's archive re-read rule (``worker_daemon.install``): an
unchanged zip on ``sys.path`` is not re-read by
``importlib.invalidate_caches()``, a rewritten one is."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from sedona_iceberg_extension_spark import worker_daemon


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)
    os.replace(tmp, path)


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"wd_m": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    reads = []
    real = zipimport._read_directory

    def counting(archive_path):
        reads.append(archive_path)
        return real(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    restore = worker_daemon.install()
    try:
        yield path, reads
    finally:
        restore()
        for m in ("wd_m", "wd_m2"):
            sys.modules.pop(m, None)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    import wd_m
    assert wd_m.VALUE == 1
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert path not in reads


def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    import wd_m  # noqa: F401
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(path, {"wd_m": "VALUE = 1\n", "wd_m2": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert path in reads
    import wd_m2
    assert wd_m2.VALUE == 2


def test_session_uses_daemon_and_pandas_udf_rows(spark):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    assert spark.conf.get("spark.python.daemon.module") == \
        "sedona_iceberg_extension_spark.worker_daemon"

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    rows = spark.range(0, 100, 1, 4).select(plus_one("id").alias("v")) \
        .orderBy("v").collect()
    assert [r.v for r in rows] == list(range(1, 101))
