"""Spark's Python worker daemon (``spark.python.daemon.module``), with a
zip importer's directory re-read only when its archive changed.

Every task's ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. Before CPython 3.13 that makes each
cached ``zipimporter`` re-parse its archive's whole directory, and a worker
holds one importer per package it imported from ``pyspark.zip``. ``install``
gives those versions 3.13's semantics: an archive is read once per change of
its ``(st_ino, st_size, st_mtime_ns)``, and every importer of it shares that
read. The daemon installs it before it forks, so every worker inherits it.
"""

import os
import sys
import zipimport


def install(version=sys.version_info) -> None:
    """Replace ``zipimporter.invalidate_caches`` on CPython < ``(3, 13)``."""
    if version >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    read_at = {}  # archive -> its stat key when its directory was last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)  # gone: let the stdlib drop it
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        reread(self)
        read_at[self.archive] = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
