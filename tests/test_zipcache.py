"""The stamped ``zipimporter.invalidate_caches`` (ocr_award_extractor_spark/zipcache.py):
no directory re-read while an archive is unchanged, a re-read as soon as it
changes, and the patch present in the Spark workers that run engine code."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from ocr_award_extractor_spark import zipcache

needs_eager_invalidate = pytest.mark.skipif(
    sys.implementation.name != "cpython" or sys.version_info >= (3, 13),
    reason="CPython >= 3.13 re-reads zip directories lazily; no patch is installed")


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zcpkg/__init__.py", "")
        zf.writestr("zcpkg/sub/__init__.py", "")
        zf.writestr("zcpkg/sub/mod.py", f"VALUE = {value!r}\n")


@pytest.fixture
def zip_package(tmp_path, monkeypatch):
    """A zip holding zcpkg/sub/mod.py on sys.path, imported (three importers:
    the archive root, zcpkg/ and zcpkg/sub/), with calls to
    ``zipimport._read_directory`` counted."""
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, 1)
    monkeypatch.syspath_prepend(archive)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    mod = importlib.import_module("zcpkg.sub.mod")
    yield archive, mod, reads
    for name in ("zcpkg.sub.mod", "zcpkg.sub", "zcpkg"):
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


@needs_eager_invalidate
def test_unchanged_archive_is_not_reread(zip_package):
    archive, mod, reads = zip_package
    assert zipcache.installed()
    importers = [f for k, f in sys.path_importer_cache.items()
                 if k.startswith(archive) and isinstance(f, zipimport.zipimporter)]
    assert len(importers) == 3
    assert mod.VALUE == 1

    # the first invalidation takes the archive's stamp with one shared read,
    # where the stdlib reads once per importer
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) == 1
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []
    assert importlib.reload(mod).VALUE == 1


@needs_eager_invalidate
def test_replaced_archive_is_reread(zip_package, tmp_path):
    archive, mod, reads = zip_package
    importlib.invalidate_caches()

    # a new module body at new offsets, swapped in atomically
    tmp = str(tmp_path / "pkg.zip.tmp")
    _write_zip(tmp, "a changed module body")
    os.replace(tmp, archive)
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.reload(mod).VALUE == "a changed module body"
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    # a vanished archive falls through to the stdlib's empty directory
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    with pytest.raises(ImportError):
        importlib.reload(mod)


@needs_eager_invalidate
def test_install_is_idempotent():
    patched = zipimport.zipimporter.invalidate_caches
    assert zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is patched


def _worker_state(rows):
    """Runs in a Python worker: reports which invalidate_caches it has and
    how many zip importers the task's invalidation touches."""
    from ocr_award_extractor_spark.functions.extract import extract_fields

    fields = extract_fields(list(rows))
    importers = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
    yield (zipimport.zipimporter.invalidate_caches.__module__, importers,
           fields["winner"])


@needs_eager_invalidate
def test_spark_workers_run_the_patched_invalidate(spark):
    lines = ["获奖学生：张三、李四", "荣获一等奖"]
    got = (spark.sparkContext.parallelize(lines * 4, 4)
           .mapPartitions(_worker_state).collect())
    assert len(got) == 4
    for module, importers, winners in got:
        assert module == zipcache.__name__
        assert importers > 0          # the worker imports from zips at all
        assert winners == ["张三", "李四"]
