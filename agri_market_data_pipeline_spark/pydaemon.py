"""Spark's Python worker daemon, with zip directories re-read only when
the archive changes.

Every Python-worker task starts with ``importlib.invalidate_caches()``
(pyspark's ``setup_spark_files``). On CPython before 3.13 that makes each
cached ``zipimporter`` re-read its archive's whole central directory, and
pyspark.zip has one importer per package directory imported from it:
128 reads of 1,328 entries, ~0.2 s of worker CPU per task. Here an
importer re-reads only when the archive's (mtime, size) differs from the
last read, and otherwise takes the shared ``_zip_directory_cache`` entry.

``session.get_spark`` starts its sessions' workers through this module
(``spark.python.daemon.module``); ``python -m`` runs it in place of
``pyspark.daemon``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive -> (mtime, size) at its last read; process-wide, like the
# zipimport cache it guards
_stamps: dict[str, tuple[int, int] | None] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    # Read each archive once here; forked workers inherit the stamps.
    importlib.invalidate_caches()
    manager()
