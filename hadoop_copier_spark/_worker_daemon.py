"""PySpark worker daemon that stops every Python task from re-reading pyspark.zip.

Each task calls ``importlib.invalidate_caches()`` while it sets up its
files (``pyspark.worker_util.setup_spark_files``). Before CPython 3.12,
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory right away, and a worker holds one zipimporter per package
directory of ``pyspark.zip``: about 16 directory reads, 200-300 ms of CPU,
before any user code runs. Here an importer re-reads only when its
archive's ``(st_mtime_ns, st_size)`` differs from the stamp of its last
read, so a changed archive is still picked up. The daemon stamps the
importers it holds once ``pyspark.daemon`` is imported; the workers it
forks inherit the stamps. CPython 3.12+ already reads lazily, and there
nothing is patched.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
Run as ``python -m hadoop_copier_spark._worker_daemon``, the daemon first
imports the package ``__init__`` and with it the engine and
``pyspark.sql``, so every forked worker starts with them already imported.
"""

import os
import sys
import zipimport


def _stat(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install():
    """Gate ``zipimporter.invalidate_caches`` on the archive's stat."""
    if sys.version_info >= (3, 12):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        stamp = _stat(self.archive)
        if stamp is None or stamp != getattr(self, "_stamp", None):
            reread(self)
            self._stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def stamp_loaded():
    """Mark every zipimporter already in use as current."""
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._stamp = _stat(finder.archive)


if __name__ == "__main__":
    install()
    import pyspark.daemon

    stamp_loaded()
    pyspark.daemon.manager()
