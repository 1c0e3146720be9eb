"""zipimport directories survive importlib.invalidate_caches() only while the
archive is unchanged (lucene_spark/zipcache.py)."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import lucene_spark  # noqa: F401  (installs the patch)
from lucene_spark import zipcache

pytestmark = pytest.mark.skipif(
    not zipcache._eager_reread(),
    reason="this interpreter already re-reads zip directories lazily",
)


@pytest.fixture
def zip_on_path(tmp_path):
    path = str(tmp_path / "mods.zip")
    sys.path.insert(0, path)
    yield path
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    sys.modules.pop("zipcache_probe", None)


def _write(path, value):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zipcache_probe.py", f"VALUE = {value!r}\n")


def _import_value():
    sys.modules.pop("zipcache_probe", None)
    return importlib.import_module("zipcache_probe").VALUE


def test_install_is_active_and_idempotent():
    assert getattr(zipimport.zipimporter.invalidate_caches, "_keeps_unchanged", False)
    patched = zipimport.zipimporter.invalidate_caches
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is patched


def test_rewritten_zip_is_reread(zip_on_path):
    _write(zip_on_path, "old")
    assert _import_value() == "old"
    importlib.invalidate_caches()  # records the stamp of the directory read
    _write(zip_on_path, "a new, longer value")
    importlib.invalidate_caches()
    assert _import_value() == "a new, longer value"


def test_unchanged_zip_is_not_reread(zip_on_path, monkeypatch):
    _write(zip_on_path, "same")
    assert _import_value() == "same"
    importlib.invalidate_caches()
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zip_on_path not in reads
    assert _import_value() == "same"
