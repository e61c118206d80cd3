"""Python worker daemon that skips needless zip-directory re-reads.

``session.get_spark`` names this module as ``spark.python.daemon.module``
for ``local[...]`` masters. It runs the stock ``pyspark.daemon`` with one
change. Each task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and every ``zipimporter`` then
re-reads its archive's whole directory: a worker holds 14-16 importers of
pyspark.zip (1,328 entries), 43-55 ms per task. Here an archive's directory
is re-read only when the archive's ``(st_mtime_ns, st_size)`` has changed
since this process last read it, so a zip rewritten in place (a new
``addPyFile`` version) is still picked up. The read is recorded before the
daemon forks, so every worker inherits it.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (stat stamp taken before the read, the directory dict read)
_reads: dict[str, tuple[tuple[int, int] | None, dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads a changed archive only."""
    stamp = _stamp(self.archive)
    last = _reads.get(self.archive)
    if stamp is not None and last is not None and last[0] == stamp:
        # unchanged since the last read: share that read (a no-op when this
        # importer already holds it)
        self._files = zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _reread(self)
    _reads[self.archive] = (stamp, self._files)


def install() -> None:
    """Patch ``zipimporter`` and read each archive on ``sys.path`` once."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
