"""Python-worker daemon of the sessions ``get_spark`` builds.

Before every task ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and CPython's
``zipimporter.invalidate_caches`` re-reads the whole central directory of
its archive. A reused worker holds one zipimporter per imported package
directory of ``pyspark.zip`` plus those of py4j and the Spark jar, so each
task re-read 16 directories (0.2-0.3 s of CPU). Here an archive is re-read
only when its ``(st_mtime_ns, st_size)`` changed or the stat fails; a file
shipped with ``addPyFile`` is a new path entry with a fresh importer, and a
missing archive still drops its cache entry through the stock method.
"""

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stat(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self):
    # stat before the read, so a rewrite in between is re-read next time
    stamp = _stat(self.archive)
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _stock_invalidate(self)
        self._stamp = stamp


def install():
    """Patch the class and stamp the importers this process already holds."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            imp._stamp = _stat(imp.archive)


if __name__ == "__main__":
    # run as ``-m`` this file is ``__main__``; patch from the importable
    # module so workers report ``orange3_spark._worker_daemon``
    from orange3_spark._worker_daemon import install as _install
    from pyspark.daemon import manager

    _install()
    manager()
