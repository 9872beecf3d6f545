"""Keep ``importlib.invalidate_caches()`` from re-reading unchanged zips.

pyspark's worker calls it at the start of every task. On CPython < 3.12
each cached zipimporter then re-reads its whole archive directory
(pyspark.zip's subpackages and the spark-core jar: 140-250 ms per task on a
4-core host); CPython gh-103200 made that lazy in 3.12. The guard
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed
since its last read in this process, and otherwise reattaches the shared
``zipimport._zip_directory_cache`` entry.
"""

from __future__ import annotations

import os
import sys
import zipimport

_READ: dict = {}  # archive -> (st_mtime_ns, st_size) at its last read


def install() -> None:
    """Patch this process; a second install and Python >= 3.12 are no-ops."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or hasattr(cls.invalidate_caches, "__wrapped__"):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or files is None or _READ.get(self.archive) != stamp:
            _READ[self.archive] = stamp
            return reread(self)
        self._files = files

    invalidate_caches.__wrapped__ = reread
    cls.invalidate_caches = invalidate_caches
