"""Spark-free tests of ``dynamo._reread_zips_on_change``: after it runs,
``importlib.invalidate_caches()`` re-reads a zip archive on the import
path only when the archive changed. Each test imports from a zip built
under ``tmp_path`` and counts ``zipimport._read_directory`` calls."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from spark_dynamodb_spark.sources.dynamo import _reread_zips_on_change


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module ``zr_one`` on ``sys.path``, already imported
    from, plus a list of the archives ``_read_directory`` is asked for."""
    # Restore the class attribute after the test; the helper patches it.
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    path = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zr_one.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(path)
    for name in ("zr_one", "zr_two"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zr_one").VALUE == 1
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return path, reads


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    assert reads.count(path) == 1  # without the helper, every call re-reads
    _reread_zips_on_change()
    importlib.invalidate_caches()  # the first call records the archive's stamp
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(path) == 0


def test_rewritten_archive_is_reread_and_its_new_module_imports(archive):
    path, reads = archive
    _reread_zips_on_change()
    importlib.invalidate_caches()
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zr_one.py", "VALUE = 1\n")
        zf.writestr("zr_two.py", "VALUE = 2\n")
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module("zr_two").VALUE == 2
    importlib.invalidate_caches()
    assert reads.count(path) == 1


def test_helper_is_idempotent(archive):
    path, reads = archive
    _reread_zips_on_change()
    patched = zipimport.zipimporter.invalidate_caches
    _reread_zips_on_change()
    assert zipimport.zipimporter.invalidate_caches is patched
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(path) == 0
