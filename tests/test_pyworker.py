"""The Python worker daemon's zip-importer patch, without Spark: an
unchanged archive is not re-parsed on ``importlib.invalidate_caches()``,
a rewritten one is, and a deleted one takes the stock path."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from machine_learning_with_spark_streaming_spark import pyworker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12+ re-reads archives lazily; no patch"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.new"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path with the patch installed; both undone afterwards."""
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"pw_old": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    pyworker.install()
    monkeypatch.syspath_prepend(path)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield path, reads
    for mod in ("pw_old", "pw_new"):
        sys.modules.pop(mod, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_zip_is_not_reparsed(archive):
    path, reads = archive
    assert importlib.import_module("pw_old").X == 1
    importer = sys.path_importer_cache[path]
    assert zipimport.zipimporter.invalidate_caches.__module__ == pyworker.__name__
    before = reads.count(path)
    for _ in range(16):
        importlib.invalidate_caches()
    # the first call reads (the patch has not seen the archive yet); the
    # other 15 are served from the stat key
    assert reads.count(path) == before + 1
    assert "pw_old.py" in importer._files


def test_rewritten_zip_is_reread(archive):
    path, reads = archive
    importlib.import_module("pw_old")
    importlib.invalidate_caches()
    before = reads.count(path)
    _write_zip(path, {"pw_old": "X = 1\n", "pw_new": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(path) == before + 1
    assert importlib.import_module("pw_new").Y == 2


def test_deleted_zip_takes_stock_path(archive):
    path, _ = archive
    importlib.import_module("pw_old")
    importer = sys.path_importer_cache[path]
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert path not in zipimport._zip_directory_cache
