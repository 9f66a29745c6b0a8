"""sketchlib.spark.zipcache: ``zipimporter.invalidate_caches`` reuses the
parsed directory of an unchanged archive and re-reads a changed, replaced
or missing one exactly like the stock method.  The wrapper is installed
through ``monkeypatch`` so the test process gets the stock method back."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from sketchlib.spark import zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimporter re-reads lazily"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def installed(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipcache._STOCK)
    assert zipcache.install() is True
    assert zipcache.install() is False  # idempotent
    assert zipimport.zipimporter.invalidate_caches is zipcache._invalidate_if_changed


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``."""
    seen = []
    stock = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_archive_is_not_reread(tmp_path, installed, reads):
    path = str(tmp_path / "a.zip")
    _write_zip(path, {"zc_mod_a": 1})
    importers = [zipimport.zipimporter(path) for _ in range(3)]
    reads.clear()  # the first constructor read it
    for zi in importers:  # first sight: one read for the archive, not three
        zi.invalidate_caches()
    assert reads == [path]
    reads.clear()
    for zi in importers:
        zi.invalidate_caches()
    assert reads == []
    assert all(zi._files is zipimport._zip_directory_cache[path] for zi in importers)


def test_rewritten_archive_is_reread(tmp_path, installed, reads, monkeypatch):
    path = str(tmp_path / "b.zip")
    _write_zip(path, {"zc_mod_b1": 1})
    monkeypatch.syspath_prepend(path)
    for name in ("zc_mod_b1", "zc_mod_b2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zc_mod_b1").VALUE == 1
    zi = sys.path_importer_cache[path]
    zi.invalidate_caches()
    reads.clear()

    _write_zip(path, {"zc_mod_b1": 1, "zc_mod_b2": 2})  # in place, same inode
    importlib.invalidate_caches()  # every importer on sys.path, ours included
    assert reads.count(path) == 1
    assert importlib.import_module("zc_mod_b2").VALUE == 2

    reads.clear()
    fresh = str(tmp_path / "b.new.zip")
    _write_zip(fresh, {"zc_mod_b1": 1, "zc_mod_b2": 3})
    os.replace(fresh, path)  # new inode
    zi.invalidate_caches()
    assert reads == [path]
    assert zi._files["zc_mod_b2.py"] == zipimport._read_directory(path)["zc_mod_b2.py"]


def test_missing_archive_matches_stock(tmp_path, installed):
    path = str(tmp_path / "c.zip")
    _write_zip(path, {"zc_mod_c": 1})
    wrapped, stock = zipimport.zipimporter(path), zipimport.zipimporter(path)
    wrapped.invalidate_caches()
    os.remove(path)

    zipcache._STOCK(stock)
    assert stock._files == {} and path not in zipimport._zip_directory_cache
    zipimport._zip_directory_cache[path] = {"stale": ()}
    wrapped.invalidate_caches()
    assert wrapped._files == {} and path not in zipimport._zip_directory_cache
    assert wrapped.find_spec("zc_mod_c") is None
    assert path not in zipcache._READ_SIG
