"""Stat-keyed zip directory caches (glug_spark.zipcache), Spark-free:
an unchanged archive is never re-read, a rewritten one is re-read once
per archive (not per importer) and imports see its new contents, a
deleted one drops its cache entry, and nothing is installed outside a
Spark worker."""

from __future__ import annotations

import importlib
import os
import sys
import types
import zipfile
import zipimport

import pytest

from glug_spark import zipcache

#: 3.13 invalidates zip caches lazily (nothing to count, nothing installed)
eager = pytest.mark.skipif(sys.version_info >= (3, 13),
                           reason="zipimport invalidation is lazy")


def _write_zip(path: str, value: int) -> None:
    """A zip holding module ``zc_probe`` and package ``zc_pkg``, written
    aside and renamed over ``path`` (a new inode, as a re-upload is)."""
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr("zc_probe.py", f"VALUE = {value}\n")
        zf.writestr("zc_pkg/__init__.py", "")
        zf.writestr("zc_pkg/mod.py", f"VALUE = {value}\n")
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A temporary zip on ``sys.path`` with its two modules imported
    (so two importers of it sit in ``sys.path_importer_cache``), the
    stat-keyed method patched in, and every ``_read_directory`` call
    of the archive recorded."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, 1)
    monkeypatch.syspath_prepend(path)
    for name in ("zc_probe", "zc_pkg", "zc_pkg.mod"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches",
                        zipcache.stat_keyed(cls.invalidate_caches))
    reads: list[str] = []
    original = zipimport._read_directory

    def counting(archive: str) -> dict:
        if archive == path:
            reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    mods = [importlib.import_module(n) for n in ("zc_probe", "zc_pkg.mod")]
    importers = [imp for key, imp in sys.path_importer_cache.items()
                 if key.startswith(path)]
    assert len(importers) == 2
    yield path, reads, mods
    for name in ("zc_probe", "zc_pkg", "zc_pkg.mod"):
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


@eager
def test_unchanged_archive_is_read_once_then_never(archive):
    path, reads, mods = archive
    reads.clear()
    importlib.invalidate_caches()  # no record of the first read yet
    assert reads == [path]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == [path]
    assert [importlib.reload(m).VALUE for m in mods] == [1, 1]


@eager
def test_rewritten_archive_is_read_once_per_archive(archive):
    path, reads, mods = archive
    importlib.invalidate_caches()
    _write_zip(path, 22)
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [path]
    files = zipimport._zip_directory_cache[path]
    assert all(imp._files is files for key, imp
               in sys.path_importer_cache.items() if key.startswith(path))
    assert [importlib.reload(m).VALUE for m in mods] == [22, 22]
    importlib.invalidate_caches()
    assert reads == [path]


@eager
def test_deleted_archive_drops_its_cache_entry(archive):
    path, reads, _ = archive
    importlib.invalidate_caches()
    os.remove(path)
    reads.clear()
    importlib.invalidate_caches()
    assert path not in zipimport._zip_directory_cache
    assert len(reads) == 2  # the original path, per importer, as before
    _write_zip(path, 3)
    importlib.invalidate_caches()
    assert reads[2:] == [path]
    assert importlib.reload(sys.modules["zc_probe"]).VALUE == 3


def test_install_only_inside_a_spark_worker(monkeypatch):
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    assert original.__module__ == "zipimport"
    monkeypatch.setattr(cls, "invalidate_caches", original)

    class TaskContext:
        context: object = None

        @classmethod
        def get(cls) -> object:
            return cls.context

    fake = types.ModuleType("pyspark.taskcontext")
    fake.TaskContext = TaskContext
    monkeypatch.delitem(sys.modules, "pyspark.taskcontext", raising=False)
    assert not zipcache.install()  # no pyspark imported: not a worker
    monkeypatch.setitem(sys.modules, "pyspark.taskcontext", fake)
    assert not zipcache.install()  # pyspark, but no task: the driver
    assert cls.invalidate_caches is original

    TaskContext.context = object()
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    assert not zipcache.install()
    assert cls.invalidate_caches is original
    monkeypatch.setattr(sys, "version_info", (3, 12, 1))
    assert zipcache.install()
    patched = cls.invalidate_caches
    assert patched.__module__ == "glug_spark.zipcache"
    assert zipcache.install()  # idempotent: not wrapped twice
    assert cls.invalidate_caches is patched
