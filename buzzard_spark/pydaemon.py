"""Python worker daemon for the engine's sessions (``spark.python.daemon.module``).

PySpark calls ``importlib.invalidate_caches()`` at the start of every task.
On Python < 3.12 that makes each ``zipimporter`` on ``sys.path`` re-read its
archive's central directory at once — the spark-core jar and ``pyspark.zip``
Spark puts on every worker's path — which costs 200–400 ms per task. Before
handing off to ``pyspark.daemon``, this daemon makes the re-read conditional
on the archive's ``os.stat`` stamp and stamps the inherited importers once,
so forked workers re-read an archive only when it changed (``addPyFile``
still works). On Python >= 3.12 the re-read is already lazy and this module
is a plain pass-through.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps = {}  # archive path -> (st_mtime_ns, st_size) at its last read


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    its stamp changed since the last read, or when it cannot be stat'ed."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is not None and _stamps.get(self.archive) == stamp:
        # importers of one archive share its directory: pick up a re-read
        # another importer of the same archive made since this one's
        self._files = zipimport._zip_directory_cache.get(self.archive,
                                                         self._files)
        return
    _reread(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp


if __name__ == '__main__':
    import sys
    if sys.version_info < (3, 12):
        import importlib
        # install the imported module's function, not this __main__ copy:
        # its __module__ names the engine module and its stamps live there
        from buzzard_spark import pydaemon
        zipimport.zipimporter.invalidate_caches = pydaemon.invalidate_caches
        importlib.invalidate_caches()
    from pyspark.daemon import manager
    manager()
