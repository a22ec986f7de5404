"""The package's zip-directory reuse (bionext_spark._reuse_zip_directories):
a changed archive is still re-read, an unchanged one is not, and inside a
Python worker task the per-task ``importlib.invalidate_caches()`` of
PySpark's worker no longer re-reads ``pyspark.zip``."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import bionext_spark  # noqa: F401  (installs the patch)


def test_changed_zip_is_reread_and_unchanged_zip_is_not(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"

    def write(source: str) -> None:
        # a new file renamed over the old: new inode, size and mtime
        staged = tmp_path / "staged.zip"
        with zipfile.ZipFile(staged, "w") as z:
            z.writestr("zipdir_probe.py", source)
        os.replace(staged, archive)

    write("VERSION = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "zipdir_probe", raising=False)
    import zipdir_probe

    assert zipdir_probe.VERSION == 1

    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda path: reads.append(path) or read(path))
    # 3.12+ re-reads lazily, at the next lookup, so only the re-import is
    # checked there
    counted = sys.version_info < (3, 12)
    write("VERSION = 'two, a longer module'\n")
    importlib.invalidate_caches()
    if counted:
        assert reads.count(str(archive)) == 1
    del sys.modules["zipdir_probe"]
    import zipdir_probe

    assert zipdir_probe.VERSION == "two, a longer module"

    importlib.invalidate_caches()
    if counted:
        assert reads.count(str(archive)) == 1
    monkeypatch.delitem(sys.modules, "zipdir_probe")
    monkeypatch.delitem(sys.path_importer_cache, str(archive), raising=False)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="3.12+ invalidates zip caches lazily")
def test_worker_task_reuses_zip_directories(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import bionext_spark  # noqa: F401

        # the first call after the patch is installed stamps each archive
        importlib.invalidate_caches()
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read(path)
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = sum(isinstance(i, zipimport.zipimporter) for i in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)], "zipimporters": [importers]})

    row = spark.range(1, numPartitions=1).mapInPandas(probe, "reads long, zipimporters long").first()
    # the worker imports pyspark from its zip, so there is something to re-read
    assert row["zipimporters"] > 0
    assert row["reads"] == 0
