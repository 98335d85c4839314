"""PySpark worker daemon that keeps zip directories cached across tasks.

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``. On CPython < 3.12 that makes
every ``zipimporter`` re-parse its archive's whole directory at once: a
reused worker holds one per pyspark subpackage (16), each re-reading
``pyspark.zip`` (1,328 entries): 240-460 ms per task on a 4-core box.
CPython 3.12 made the re-read lazy (gh-103200).

Run as ``spark.python.daemon.module`` (``session.get_spark`` sets it for
local masters): the patch is installed before ``pyspark.daemon`` starts,
and every worker forked from the daemon inherits it. An archive is
re-read only when its ``(st_mtime_ns, st_size, st_ino)`` changed since
the last read, so a rewritten zip is still picked up.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp at its last directory read
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed since the last read."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _stamps.get(self.archive) == stamp:
        self._files = cached
        return
    _original(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter`` on Python < 3.12, where ``invalidate_caches``
    re-reads eagerly."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches_if_changed


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
