"""Spark's Python worker daemon with lazy zipimport cache invalidation.

Every task's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 each
``zipimporter`` then re-reads its archive's whole directory: about 16
importers over ``pyspark.zip``, 26,672 entries per task. Here an importer
re-reads only when the archive's ``(st_mtime_ns, st_size)`` differs from
the last read, so an archive changed in place is still picked up.

``session.get_spark`` runs this module as ``spark.python.daemon.module``
when the Python workers can import the package; it then runs
``pyspark.daemon`` unchanged.
"""

import os
import sys
import zipimport

_eager = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int] | None] = {}  # archive -> key it was last read at


def _key(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the directory only
    when the archive changed since it was last read."""
    key = _key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and _read_at.get(self.archive) == key and files is not None:
        self._files = files  # another importer of the archive may have re-read it
        return
    _eager(self)
    _read_at[self.archive] = key


def record() -> None:
    """Take the archives of the zipimporters already in
    ``sys.path_importer_cache`` as read now."""
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            _read_at.setdefault(finder.archive, _key(finder.archive))


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    record()
    daemon.manager()
