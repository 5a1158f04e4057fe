"""Spark Python worker daemon: ``pyspark.daemon`` with stat-keyed zip caches.

pyspark calls ``importlib.invalidate_caches()`` at the start of every task
(``worker_util.setup_spark_files``). Before Python 3.13 that makes every
``zipimporter`` on ``sys.path`` re-read its whole archive directory
(pyspark.zip, py4j, the spark-core jar): 0.1-0.7 s per task on a 4-core
host. Python 3.13 made the invalidation lazy; this backports the effect by
re-reading only when the archive's ``(st_mtime_ns, st_size)`` changed, so
an archive that really changes (``addPyFile``) is still re-read. On 3.13+
the module is a pass-through. ``session.get_spark`` names it as the
daemon module.
"""

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is None or getattr(self, "_stat_key", None) != key:
        _reread(self)
        self._stat_key = key


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        # by package path, not as __main__, so workers can name the patch
        from openeo_odc_driver_spark import worker_daemon
        zipimport.zipimporter.invalidate_caches = worker_daemon.invalidate_caches
    from pyspark.daemon import manager
    manager()
