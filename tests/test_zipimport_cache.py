"""Stat-checked zip directories (``zipimport_cache``): an unchanged archive
is parsed at most once across repeated ``importlib.invalidate_caches()``
calls, a rewritten one is re-read, a deleted one behaves as with the stock
method, and the patch reaches the Python workers that import the package."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from detecting_and_addressing_change_spark import zipimport_cache
from detecting_and_addressing_change_spark.functions.rounding import (
    portable_round,
)

pytestmark = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="zipimporter already reads its directory lazily",
)

PKG = "zc_probe_pkg"


def _write_archive(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{PKG}/__init__.py", f"VALUE = {value!r}\n")
        z.writestr(f"{PKG}/sub/__init__.py", f"VALUE = {value!r}\n")
        z.writestr(f"{PKG}/sub/leaf.py", "")


def _forget_modules() -> None:
    for name in (f"{PKG}.sub.leaf", f"{PKG}.sub", PKG):
        sys.modules.pop(name, None)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "probe.zip")
    _write_archive(path, "one")
    monkeypatch.syspath_prepend(path)
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(archive_path):
        reads.append(archive_path)
        return stock_read(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield path, reads
    _forget_modules()
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)
    zipimport_cache._stamps.pop(path, None)


def _importers(path):
    return [
        imp for key, imp in sys.path_importer_cache.items()
        if key.startswith(path) and isinstance(imp, zipimport.zipimporter)
    ]


def test_unchanged_archive_is_read_at_most_once(archive):
    path, reads = archive
    pkg = importlib.import_module(PKG)
    sub = importlib.import_module(f"{PKG}.sub")
    importlib.import_module(f"{PKG}.sub.leaf")
    assert pkg.VALUE == sub.VALUE == "one"
    # the root entry plus one importer per package directory
    assert len(_importers(path)) >= 3
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(path) <= 1
    files = zipimport._zip_directory_cache[path]
    assert all(imp._files is files for imp in _importers(path))


def test_rewritten_archive_is_reread_and_reimported(archive):
    path, reads = archive
    importlib.import_module(f"{PKG}.sub")
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    reads.clear()
    _write_archive(path, "second version")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    _forget_modules()
    assert importlib.import_module(PKG).VALUE == "second version"
    assert importlib.import_module(f"{PKG}.sub").VALUE == "second version"


def test_deleted_archive_matches_stock_method(archive):
    path, _ = archive
    importlib.import_module(f"{PKG}.sub")
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    patched = [imp._files for imp in _importers(path)]
    assert path not in zipimport._zip_directory_cache
    assert path not in zipimport_cache._stamps
    for imp in _importers(path):
        zipimport_cache._stock_invalidate(imp)
    assert [imp._files for imp in _importers(path)] == patched == [{}] * len(
        patched
    )
    assert path not in zipimport._zip_directory_cache


def test_hook_reaches_reused_python_workers(spark):
    """Workers that ran package code keep the stat-checked method for the
    tasks they run later. The probe UDF imports nothing from the package,
    so it only sees the patch if importing the package installed it."""
    import pandas as pd

    def touch_package(batches):
        assert portable_round.__name__
        for pdf in batches:
            yield pd.DataFrame({"pid": [os.getpid()] * len(pdf)})

    def probe(batches):
        for _ in batches:
            yield pd.DataFrame({
                "pid": [os.getpid()],
                "method": [zipimport.zipimporter.invalidate_caches.__module__],
            })

    df = spark.range(0, 4, numPartitions=4)
    touched = {r.pid for r in df.mapInPandas(touch_package, "pid long").collect()}
    # idle workers are handed out oldest first, so later actions may start
    # on workers that predate the first one; keep probing until they recur
    seen = {}
    for _ in range(8):
        for r in df.mapInPandas(probe, "pid long, method string").collect():
            seen[r.pid] = r.method
        if touched & seen.keys():
            break
    reused = touched & seen.keys()
    assert reused, f"no worker of the first action was reused: {seen}"
    assert {seen[p] for p in reused} == {zipimport_cache.__name__}
