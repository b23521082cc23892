"""Python-worker daemon for the sessions that ``session.get_spark`` builds.

Spark starts it in place of ``pyspark.daemon`` through the
``spark.python.daemon.module`` conf.  Before each task, a reused worker runs
``worker_util.setup_spark_files``, which calls ``importlib.invalidate_caches()``.
Up to Python 3.12, ``zipimport.zipimporter.invalidate_caches`` re-reads the
whole archive directory at once.  A worker holds 16 zipimporters, on
``pyspark.zip`` (1328 entries), the py4j zip and the ``spark-core`` jar, so
these re-reads were most of the ~0.3 s of CPU each Python task paid before
its UDF ran (``docs/SCALE.md`` §"Python-worker task start").

Here an importer re-reads its archive only when the archive's ``os.stat``
(``st_mtime_ns``, ``st_size``) differs from the stat taken before the last
read; otherwise the call is a no-op.  Python 3.13 made the call lazy, and
there this module only starts the daemon.  A zip added with ``addPyFile``
gets a new ``sys.path`` entry and so a new importer that reads it, and the
``FileFinder`` invalidation that finds new ``.py`` files is untouched.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size), taken just before the read whose
# directory zipimport._zip_directory_cache now holds
_read_stamps: dict[str, tuple[int, int] | None] = {}
_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read ``self.archive`` only if it changed since the last read."""
    try:
        st = os.stat(self.archive)
        stamp = st.st_mtime_ns, st.st_size
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp and stamp == _read_stamps.get(self.archive) and files is not None:
        # another importer on the same archive may have done the read
        self._files = files
        return
    _reread(self)
    _read_stamps[self.archive] = stamp


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # stamp the archives once here, so the forked workers inherit stamps
        importlib.invalidate_caches()
    # pyspark.daemon reads a non-default worker module from sys.argv[1] when
    # it is imported; ``python -m`` leaves that argument in place
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # run under the package name, so that workers and tests see one module
    from airflow_postgres_to_s3_pipeline_spark import pyworker

    pyworker.main()
