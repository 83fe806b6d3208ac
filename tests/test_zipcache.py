"""The stat-gated `zipimporter.invalidate_caches` (arabic_ocr_spark/_zipcache.py):
a rewritten archive is re-read, an unchanged one is not, and nothing is
patched on Python 3.13+.  No JVM."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from arabic_ocr_spark import _zipcache

before_313 = pytest.mark.skipif(sys.version_info >= (3, 13),
                                reason="3.13 made the stock invalidate_caches lazy")


def _write_zip(path, modules: dict) -> None:
    """Write `modules` (name -> source) as a new file replacing `path`."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def reads(monkeypatch):
    """The archives `zipimport._read_directory` reads, in call order."""
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@before_313
def test_rewritten_zip_is_reread(tmp_path, monkeypatch, reads):
    z = str(tmp_path / "mods.zip")
    _write_zip(z, {"zipcache_probe_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(z)
    for name in ("zipcache_probe_a", "zipcache_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zipcache_probe_a").X == 1
    importlib.invalidate_caches()  # stamps the archive's importer

    _write_zip(z, {"zipcache_probe_a.py": "X = 1\n", "zipcache_probe_b.py": "Y = 2\n"})
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(z) == 1
    assert importlib.import_module("zipcache_probe_b").Y == 2


@before_313
def test_unchanged_zip_is_not_reread(tmp_path, reads):
    z = str(tmp_path / "mods.zip")
    _write_zip(z, {"m.py": "X = 1\n"})
    importer = zipimport.zipimporter(z)
    del reads[:]
    importer.invalidate_caches()  # first call: no stamp yet, reads once
    assert reads == [z]
    for _ in range(3):
        importer.invalidate_caches()
    _zipcache.install()  # a second install changes nothing
    assert zipimport.zipimporter.invalidate_caches is _zipcache._invalidate_caches
    importer.invalidate_caches()
    assert reads == [z]


def test_no_patch_from_python_313(monkeypatch):
    stock = _zipcache._stock_invalidate
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is stock
