"""In Spark's Python workers, re-read a zip's directory only when it changed.

PySpark calls ``importlib.invalidate_caches()`` at the start of every task
(``pyspark/worker_util.py``), and on CPython 3.11 every ``zipimporter`` then
re-reads its archive's whole directory: ~16 importers over ``pyspark.zip``,
~180 ms per task. Workers are reused across tasks, so once a library UDF has
imported this package, an archive is re-read only when its ``os.stat`` key
moved since that importer's last re-read (or the stat fails)."""

import os
import zipimport


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> bool:
    """Guard ``zipimporter.invalidate_caches`` in a Spark Python worker;
    a no-op (False) on the driver or when already guarded."""
    from pyspark.core.files import SparkFiles

    stock = zipimport.zipimporter.invalidate_caches
    if not SparkFiles._is_running_on_worker or hasattr(stock, "stock"):
        return False

    def invalidate_caches(self):
        key = _stat_key(self.archive)  # before the read: never stale
        if key is None or key != getattr(self, "_stat_key", None):
            stock(self)
            self._stat_key = key

    invalidate_caches.stock = stock
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
