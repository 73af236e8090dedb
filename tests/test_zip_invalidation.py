"""The kernels' stamp-checked ``zipimporter.invalidate_caches`` (no Spark).

pyspark's worker calls ``importlib.invalidate_caches()`` before every task;
on CPython < 3.13 that re-reads each zipimported archive's directory.  These
tests count those reads (``zipimport._read_directory``) over a zip built in
``tmp_path`` and put on ``sys.path``.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from pgstosrt_spark.kernels import _stamp_checked_zip_invalidation

eager = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ invalidates zip caches lazily"
)


@pytest.fixture
def zipped(tmp_path, monkeypatch):
    """-> (archive, reads): a zip holding ``zipped_mod_a`` on ``sys.path``,
    and the list of directory reads of that archive."""
    archive = tmp_path / "pkgs.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipped_mod_a.py", "VALUE = 'a'\n")
    # start from the unwrapped method (an in-process kernel run elsewhere in
    # the session may have installed the wrapper); restored on teardown
    current = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", getattr(current, "__wrapped__", current)
    )
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counted(path):
        if path == str(archive):
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.syspath_prepend(str(archive))
    importlib.import_module("zipped_mod_a")
    reads.clear()  # the importer's own first read
    yield archive, reads
    for name in ("zipped_mod_a", "zipped_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(archive), None)
    zipimport._zip_directory_cache.pop(str(archive), None)


@eager
def test_unchanged_archive_is_not_reread(zipped):
    _archive, reads = zipped
    importlib.invalidate_caches()
    assert len(reads) == 1  # the unwrapped method re-reads every time
    _stamp_checked_zip_invalidation()
    importlib.invalidate_caches()  # first call per importer records the stamp
    assert len(reads) == 2
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


@eager
def test_rewritten_archive_is_reread(zipped):
    archive, reads = zipped
    _stamp_checked_zip_invalidation()
    importlib.invalidate_caches()
    reads.clear()
    size = archive.stat().st_size
    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("zipped_mod_b.py", "VALUE = 'b'\n")
    assert archive.stat().st_size != size
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("zipped_mod_b").VALUE == "b"


@eager
def test_stat_failure_runs_the_original(zipped):
    archive, reads = zipped
    _stamp_checked_zip_invalidation()
    importlib.invalidate_caches()
    reads.clear()
    archive.unlink()
    importlib.invalidate_caches()  # the original tries, and empties the importer
    assert len(reads) == 1
    sys.modules.pop("zipped_mod_a", None)
    with pytest.raises(ImportError):
        importlib.import_module("zipped_mod_a")


def test_second_install_is_a_noop(zipped):
    _stamp_checked_zip_invalidation()
    installed = zipimport.zipimporter.invalidate_caches
    _stamp_checked_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_noop_on_lazy_pythons(zipped, monkeypatch):
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _stamp_checked_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is before
