"""Keep zip importers from re-reading unchanged archives.

pyspark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark/worker_util.py``, ``setup_spark_files``).
Before Python 3.13, ``zipimporter.invalidate_caches`` re-reads the
archive's central directory eagerly, and a worker holds one zipimporter
per zip entry of ``sys.path`` it has searched: ``pyspark.zip``, the
py4j zip and, where it is on the path, the 37 MB spark-core jar (5,359
entries). Measured inside a worker on a 4-core host: 130-195 ms per
task, 72 ms of it the jar. Python 3.13 made the re-read lazy.

:func:`install` wraps the method so that an importer whose archive has
the same modification time (``st_mtime_ns``) and size as when that
importer last read it does not read it again. An archive whose stamp
changed, or that vanished, is re-read exactly as before. An archive
rewritten in place with the same size and modification time (a
filesystem with coarse timestamps, a tool that preserves them) is not:
its importer keeps the old directory until the stamp moves. The
package installs the wrapper only in pyspark's Python workers (the
processes that have imported ``pyspark.worker_util``), never in the
driver or other user processes.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Make re-invalidation of an unchanged archive a no-op, for the
    whole process (the package calls this once, on import in a Python
    worker); nothing to do on Python 3.13+."""
    if sys.version_info >= (3, 13):
        return
    original = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        # stamp before the read: a write during it reads again next time
        stamp = _stamp(self.archive)
        if stamp is not None and stamp == getattr(self, "_archive_stamp", None):
            return
        original(self)
        self._archive_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
