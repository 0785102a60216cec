"""Spark's Python daemon, with zip directories that outlive a task.

``session.get_spark`` names this module as ``spark.python.daemon.module``
(its docstring says when).  Before the module runs
``pyspark.daemon.manager()`` it puts :class:`StampedZipImporter` in place
of ``zipimport.zipimporter`` in ``sys.path_hooks``, so every worker the
daemon forks inherits it.

``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` on every task.  On CPython 3.11 each
zipimporter re-reads its whole archive directory on that call, and a
worker holds 14 of them for ``pyspark.zip`` (1,328 entries): 70-145 ms
of CPU per task on a 4-vCPU host before the task's own code runs.  A
:class:`StampedZipImporter` re-reads only when the archive's
``(st_mtime_ns, st_size, st_ino)`` differs from the stamp it was read
at.  A zip added with ``addPyFile`` is a new path, so it gets a new
importer and is read fresh; a rewritten zip has a new stamp and is read
again.

The worker module cannot carry the hook: ``pyspark.daemon`` only loads a
worker module whose name starts with ``pyspark``.
"""

from __future__ import annotations

import os
import sys
import zipimport

# The stamp each archive had when its directory in zipimport's shared
# cache was read through a StampedZipImporter.
_read_at: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


class StampedZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches`` re-reads the archive
    directory only when the archive file changed."""

    def __init__(self, path):
        super().__init__(path)
        # zipimport shares one directory per archive between importers;
        # a stamp taken before the shared copy was read tells whether it
        # is current.  Without one, read it again (once per archive).
        self._stamp = _read_at.get(self.archive)
        self.invalidate_caches()

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != self._stamp:
            super().invalidate_caches()  # stamp first: a later write re-reads
            _read_at[self.archive] = stamp
        self._stamp = stamp


def install() -> None:
    """Route new zip path entries through :class:`StampedZipImporter` and
    drop the finders made before it."""
    sys.path_hooks[:] = [
        StampedZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    sys.path_importer_cache.clear()


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
