"""The stat-gated ``zipimporter.invalidate_caches`` (exosql_spark
._zipimport_cache): unchanged archives are not re-read, changed or
vanished archives behave exactly like the stdlib, and importing the
package twice does not stack the wrapper.  Pure Python, no Spark."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import exosql_spark  # noqa: F401  (installs the wrapper)

PATCHED = sys.version_info < (3, 13)
needs_patch = pytest.mark.skipif(not PATCHED, reason="no-op on Python >= 3.13")


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``."""
    calls: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def archive(tmp_path):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"zc_mod_a.py": "X = 1\n"})
    yield path
    zipimport._zip_directory_cache.pop(path, None)
    sys.path_importer_cache.pop(path, None)


def test_installed_only_before_313():
    if PATCHED:
        assert (
            zipimport.zipimporter.invalidate_caches.__module__
            == "exosql_spark._zipimport_cache"
        )
    else:
        assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


@needs_patch
def test_unchanged_archive_is_not_reread(archive, reads):
    imp = zipimport.zipimporter(archive)
    reads.clear()
    imp.invalidate_caches()  # first read by the wrapper records the key
    assert reads == [archive]
    reads.clear()
    for _ in range(3):
        imp.invalidate_caches()
    assert reads == []
    assert imp._files is zipimport._zip_directory_cache[archive]
    # a second importer of the same archive shares the recorded read
    other = zipimport.zipimporter(archive)
    other.invalidate_caches()
    assert reads == []
    assert other._files is imp._files


@needs_patch
def test_rewritten_archive_is_reread_once_and_imports(archive, reads, monkeypatch):
    monkeypatch.syspath_prepend(archive)
    for name in ("zc_mod_a", "zc_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zc_mod_a").X == 1
    importlib.invalidate_caches()
    reads.clear()

    _write_zip(archive, {"zc_mod_a.py": "X = 1\n", "zc_mod_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zc_mod_b").Y == 2
    reads.clear()
    importlib.invalidate_caches()
    assert archive not in reads


@needs_patch
def test_deleted_archive_matches_stdlib(archive):
    from exosql_spark._zipimport_cache import _stdlib_invalidate_caches

    ours = zipimport.zipimporter(archive)
    ref = zipimport.zipimporter(archive)
    ours.invalidate_caches()
    os.remove(archive)
    ours.invalidate_caches()  # must not raise
    assert ours._files == {}
    assert archive not in zipimport._zip_directory_cache
    _stdlib_invalidate_caches(ref)
    assert ref._files == ours._files


@needs_patch
def test_reimport_does_not_wrap_twice(monkeypatch):
    installed = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(exosql_spark, "_zipimport_cache", exosql_spark._zipimport_cache)
    monkeypatch.delitem(sys.modules, "exosql_spark._zipimport_cache")
    importlib.import_module("exosql_spark._zipimport_cache")
    assert zipimport.zipimporter.invalidate_caches is installed
    importlib.reload(sys.modules["exosql_spark._zipimport_cache"])
    assert zipimport.zipimporter.invalidate_caches is installed
