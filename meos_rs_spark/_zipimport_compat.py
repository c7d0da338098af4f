"""Keep zip importers from re-reading an unchanged archive on every task.

Every PySpark task calls ``importlib.invalidate_caches()`` after it sets up
the worker's path (``pyspark/worker_util.py``). On Python 3.10 and 3.11
that reaches ``zipimport.zipimporter.invalidate_caches``, which eagerly
re-reads the whole central directory of its archive — once per importer,
and a worker holds one importer per package directory it imported from
``$SPARK_HOME/python/lib/pyspark.zip`` (3.5 MB, 1,328 entries). That
re-read was most of the Python-worker time of a small task. Python 3.12
made the re-read lazy, so there this module does nothing.

On 3.10-3.11, :func:`install` wraps the method: an archive is re-read
only when its ``(st_mtime_ns, st_size)`` differs from the one recorded at
its last read by any importer, or when ``stat`` fails. Otherwise the
importer takes the shared directory that read left in
``zipimport._zip_directory_cache``, so every importer of one archive sees
the same, current directory and a worker pays one read per archive change
instead of one per importer. Importing the package installs it, so a
Python worker that unpickles one of the package's kernels skips the
re-read from its next task on. Delete this module once Python 3.11 is no
longer supported.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: the unwrapped method, kept so the wrapper can delegate to it
_ORIGINAL = zipimport.zipimporter.invalidate_caches


#: archive path -> its (st_mtime_ns, st_size) at its last directory read
_READ_KEYS: dict = {}


def _stat_keyed_invalidate_caches(self) -> None:
    """Re-read the archive only if it changed since any importer read it."""
    try:
        st = os.stat(self.archive)
    except OSError:
        key = None
    else:
        key = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and key == _READ_KEYS.get(self.archive):
            self._files = files
            return
    _ORIGINAL(self)
    _READ_KEYS[self.archive] = key


def install() -> bool:
    """Install the wrapper on Python 3.10-3.11; True when it is in place."""
    if not (3, 10) <= sys.version_info[:2] < (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = _stat_keyed_invalidate_caches
    return True


install()
