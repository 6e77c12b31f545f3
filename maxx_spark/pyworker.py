"""Python-worker start-up fix: stop re-reading unchanged zip archives.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython < 3.12, ``zipimporter.invalidate_caches`` re-parses
its whole archive directory on each call, and a worker holds one importer
per package prefix of ``pyspark.zip`` plus py4j and ``spark-core.jar``:
0.15-0.3 s of CPU per task (fixed upstream by gh-103200). ``install``
makes an importer re-read its archive only when the file's
``(st_mtime_ns, st_size)`` differs from the last read in this process.
"""

import os
import sys
import zipimport

_stamps: dict[str, tuple[int, int]] = {}


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per process (no-op on 3.12+)."""
    zi = zipimport.zipimporter
    if sys.version_info >= (3, 12) or getattr(zi.invalidate_caches, "_stamped", False):
        return
    reload = zi.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and stamp == _stamps.get(self.archive) and files is not None:
            self._files = files  # another importer of this archive may have re-read it
            return
        reload(self)
        if stamp is not None:
            _stamps[self.archive] = stamp

    invalidate_caches._stamped = True
    zi.invalidate_caches = invalidate_caches
