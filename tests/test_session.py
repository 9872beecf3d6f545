"""Session defaults and the Python worker's zip-directory guard.

The guard (lucene_solr_spark._zipguard) keeps importlib.invalidate_caches()
from re-reading unchanged zip archives; pyspark's worker calls it at the
start of every task."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from lucene_solr_spark import _zipguard
from lucene_solr_spark.session import driver_heap

LAZY_ZIP_CACHES = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimporter.invalidate_caches is lazy from 3.12 (gh-103200)")


def test_driver_heap_is_an_eighth_of_ram_at_least_1g():
    assert driver_heap(16 * 1024) == "2048m"
    assert driver_heap(15_731) == "1966m"
    assert driver_heap(125 * 1024) == "16000m"
    assert driver_heap(4096) == "1024m"
    assert driver_heap(0) == "1024m"


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@LAZY_ZIP_CACHES
def test_zip_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    """An unchanged archive is not re-read; a rewritten one (new size and
    mtime) is, and its new module imports; installing twice leaves one
    wrapper. The class is restored afterwards, so the test process (the
    suite's Spark driver) stays unpatched."""
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    archive = tmp_path / "guarded.zip"
    _write_zip(archive, ["zg_mod_a"])
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zg_mod_a").NAME == "zg_mod_a"
        _zipguard.install()
        _zipguard.install()
        wrapper = zipimport.zipimporter.invalidate_caches
        assert wrapper.__wrapped__ is original
        assert not hasattr(original, "__wrapped__")

        importlib.invalidate_caches()  # reads each archive once
        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda p: reads.append(p) or read_directory(p))
        importlib.invalidate_caches()
        assert reads == []

        st = os.stat(archive)
        _write_zip(archive, ["zg_mod_a", "zg_mod_b"])
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert reads == [str(archive)]
        assert importlib.import_module("zg_mod_b").NAME == "zg_mod_b"
    finally:
        for name in ("zg_mod_a", "zg_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


@LAZY_ZIP_CACHES
def test_engine_task_installs_zip_guard(spark):
    """A Spark Python task that imports the package installs the guard,
    after which a second importlib.invalidate_caches() in that worker
    reads no archive directory; the driver is never patched."""
    n = 3

    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        import lucene_solr_spark  # noqa: F401 (as an engine UDF does)

        for _ in batches:
            pass
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read_directory(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        guarded = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
        yield pd.DataFrame({"guarded": [guarded], "reads": [len(reads)]})

    rows = (spark.range(0, n, 1, n)
            .mapInPandas(probe, "guarded boolean, reads int").collect())
    assert len(rows) == n
    assert all(r["guarded"] for r in rows)
    assert all(r["reads"] == 0 for r in rows)
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
