"""Stat-checked zip directories for Python workers.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.10-3.12 that
makes every cached ``zipimporter`` re-parse its archive's whole central
directory: pyspark.zip once per importer, the Spark jar, and this package's
shipped zip once per imported package directory -- most of a trivial
task's time. Here an archive is re-read only when its
``(st_mtime_ns, st_size)`` changed since the last read; an archive that
changed, or cannot be stat'ed, goes through the stock method, so
``addPyFile`` of a new version is still picked up. Interpreters whose
zipimporter is already lazy (``_get_files``, 3.13+) are left alone.

Imported by the package ``__init__``, so every worker that unpickles
package code installs it for the tasks it runs afterwards.
"""

from __future__ import annotations

import os
import zipimport

# archive -> (st_mtime_ns, st_size) at its last read; process-wide, like
# zipimport._zip_directory_cache it qualifies
_stamps: dict[str, tuple[int, int]] = {}


def _stat_checked_invalidate(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _stamps.pop(self.archive, None)
        _stock_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stamp taken before the read: a write racing the read leaves an older
    # stamp, so the next call re-reads rather than trusting stale entries
    _stock_invalidate(self)
    if self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


_stock_invalidate = zipimport.zipimporter.invalidate_caches
# the module check keeps a re-import from wrapping its own patch
if (
    not hasattr(zipimport.zipimporter, "_get_files")
    and _stock_invalidate.__module__ == "zipimport"
):
    zipimport.zipimporter.invalidate_caches = _stat_checked_invalidate
