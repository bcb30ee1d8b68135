"""Per-process set-up of the Python workers that run the package's UDFs.

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  On CPython 3.11 that makes every
``zipimporter`` re-read its archive's central directory — one importer per
package directory imported from ``pyspark.zip``, so about 16 reads of a
3.5 MB archive per task, which dominate the worker's per-task CPU (see the
package README).  CPython 3.12 made that invalidation lazy.

``prepare()`` runs at the top of each batch of the package's UDFs and acts
once per worker process: it makes ``zipimporter.invalidate_caches`` skip
the re-read while the archive's ``(st_mtime_ns, st_size)`` is the one the
importer last read.  Importing this module does nothing.
"""

from __future__ import annotations

import os
import sys

_prepared = False


def prepare() -> None:
    """Once per process: the per-worker set-up (see the module doc)."""
    global _prepared
    if not _prepared:
        _prepared = True
        skip_unchanged_zip_rereads()


def skip_unchanged_zip_rereads() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its modification time or size changed since that importer last read
    it.  The stamp is kept per importer: several importers share one
    archive, and each must see a change.  Returns False, and changes
    nothing, on CPython 3.12 and later."""
    if sys.version_info >= (3, 12):
        return False
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "skips_unchanged", False):
        return True

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or self.__dict__.get("_archive_stamp") != stamp:
            reread(self)
            self._archive_stamp = stamp

    invalidate_caches.skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
