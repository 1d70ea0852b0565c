"""Re-read a zip archive on ``importlib.invalidate_caches()`` only when it
changed.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark.worker_util.setup_spark_files``). Before Python 3.13,
``zipimporter.invalidate_caches`` answers by re-reading its archive's whole
central directory. A Spark 4.1 worker's ``sys.path`` holds about seventeen
zip importers (pyspark.zip, the spark-core jar, py4j, the shipped engine
zip) over some 27k entries, so every task paid ~0.2 s before its first
batch. The replacement re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` differs from what this importer saw at
its last read, so a rewritten or newly added zip (``addPyFile``) is still
picked up. Python 3.13 made the method lazy itself; there nothing is
replaced.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None
    if key is None or key != getattr(self, "_archive_stat", None):
        _reread(self)
        self._archive_stat = key


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` for this process."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
