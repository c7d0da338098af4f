"""The stat-keyed zipimport re-read (meos_rs_spark/_zipimport_compat.py).

Spark-free. On Python 3.10-3.11 the stdlib re-reads a zip archive's
directory on every ``importlib.invalidate_caches()``; the package's wrapper
re-reads it only when the archive changed. On 3.12+ the stdlib re-read is
lazy and the wrapper is not installed; the assertions hold either way.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import meos_rs_spark._zipimport_compat as compat

MOD = "meos_zipimport_probe_mod"
PKG = "meos_zipimport_probe_pkg"


def _write_archive(path, body: str, *pkg_modules: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{MOD}.py", body)
        zf.writestr(f"{PKG}/__init__.py", "")
        for name in ("sub", *pkg_modules):
            zf.writestr(f"{PKG}/{name}.py", "")


def test_unchanged_archive_is_read_once_and_a_rewrite_is_seen(tmp_path, monkeypatch):
    """Two importers of one archive (its root and a package directory in
    it, as a worker holds for pyspark.zip) share one directory read."""
    archive = tmp_path / "probe.zip"
    _write_archive(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    modules = (MOD, PKG, f"{PKG}.sub", f"{PKG}.late")
    for name in modules:
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module(MOD).VALUE == 1
    importlib.import_module(f"{PKG}.sub")
    importers = [str(archive), str(archive / PKG)]
    assert all(
        isinstance(sys.path_importer_cache.get(p), zipimport.zipimporter) for p in importers
    )

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) <= 1, f"unchanged archive re-read {len(reads)} times"

    # a changed module of a different size and a module new to the
    # package: the next invalidate must re-read, and neither importer may
    # keep the stale directory
    _write_archive(archive, "VALUE = 22222\nEXTRA = 'grown'\n", "late")
    importlib.invalidate_caches()
    del sys.modules[MOD]
    fresh = importlib.import_module(MOD)
    assert (fresh.VALUE, fresh.EXTRA) == (22222, "grown")
    importlib.import_module(f"{PKG}.late")
    for name in modules:
        sys.modules.pop(name, None)
    for p in importers:
        sys.path_importer_cache.pop(p, None)


def test_archive_that_cannot_be_stat_ed_is_re_read(tmp_path, monkeypatch):
    """A vanished archive falls through to the stdlib read, which empties
    the importer's directory instead of serving the stale one."""
    archive = tmp_path / "gone.zip"
    _write_archive(archive, "VALUE = 1\n")
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()
    assert importer.find_spec(MOD) is not None
    archive.unlink()
    importer.invalidate_caches()
    assert importer.find_spec(MOD) is None


def test_installed_only_where_the_stdlib_re_read_is_eager(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", compat._ORIGINAL)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert compat.install() is False
    assert zipimport.zipimporter.invalidate_caches is compat._ORIGINAL
    monkeypatch.setattr(sys, "version_info", (3, 11, 7, "final", 0))
    assert compat.install() is True
    assert (
        zipimport.zipimporter.invalidate_caches
        is compat._stat_keyed_invalidate_caches
    )
