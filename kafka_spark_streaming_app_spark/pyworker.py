"""Spark's Python worker daemon, minus the per-task re-read of ``pyspark.zip``.

PySpark ends each task's setup with ``importlib.invalidate_caches()``, which
before Python 3.12 makes every ``zipimporter`` re-read its archive's directory.
Here an archive is re-read only when its ``(st_mtime_ns, st_size, st_ino)``
changed, so a new or rewritten ``addPyFile`` archive is still seen; 3.12+ is
lazy already (and has no ``_files``), so nothing is patched there. Forked
workers inherit the patch from the daemon that ``get_spark`` starts.
"""

import collections
import importlib
import os
import sys
import zipimport

EAGER = sys.version_info < (3, 12)  # zipimport re-reads on every invalidate_caches
reads: collections.Counter = collections.Counter()  # re-reads per archive
_read_at: dict = {}  # archive -> its stat key when last read
_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is None or _read_at.get(self.archive) != stamp:
        _read_at[self.archive] = stamp  # stat before read: a write in between re-reads next time
        _reread(self)
        reads[self.archive] += 1
    else:  # another importer of the same archive already re-read it
        self._files = zipimport._zip_directory_cache.get(self.archive, self._files)


def main() -> None:
    import pyspark.daemon

    if EAGER:
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()  # read and stamp each archive once, before any fork
    pyspark.daemon.manager()


if __name__ == "__main__":  # run the importable copy, whose counter workers can read
    from kafka_spark_streaming_app_spark import pyworker

    pyworker.main()
