"""Python-worker entry point that skips re-reading unchanged zip archives.

Every Python-worker task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``.  Before Python 3.13 that makes
every cached ``zipimport.zipimporter`` re-parse its archive's whole central
directory, once per importer: the worker's ``sys.path`` carries
``pyspark.zip``, the py4j zip and the spark-core jar, and each imported
subpackage of ``pyspark.zip`` adds a prefix importer of its own.  Together
that is about 0.2 s per task on a 4-core x86 host before any user code
runs.  Python 3.13 made the invalidation lazy.

On import, and only before 3.13, this module guards
``zipimporter.invalidate_caches``: an importer re-reads its archive only
when the archive's ``(st_mtime_ns, st_size)`` differs from what that same
importer saw at its last read.  A rewritten archive is read again; a newly
added one is read normally.

``get_session`` puts this directory on ``PYTHONPATH`` and names the module in
``spark.python.worker.module``.  ``pyspark.daemon`` imports a worker module
only when its name starts with ``pyspark``, and every Python worker sees the
directory, so the module stays stdlib-only and alone in it.
"""

import os
import sys
import zipimport

if sys.version_info < (3, 13):
    _read_archive = zipimport.zipimporter.invalidate_caches

    def _invalidate_caches(self):
        """Re-read the archive only if it changed since this importer read it."""
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        # stat before reading: a change that lands mid-read shows up as a
        # new signature next time, so it is never missed
        if sig is None or sig != self.__dict__.get("_archive_sig"):
            _read_archive(self)
            self._archive_sig = sig

    zipimport.zipimporter.invalidate_caches = _invalidate_caches

if __name__ == "__main__":  # non-daemon mode: ``python -m pyspark_graft_worker``
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__", alter_sys=True)
else:
    from pyspark.worker import main  # noqa: F401  (pyspark.daemon calls it)
