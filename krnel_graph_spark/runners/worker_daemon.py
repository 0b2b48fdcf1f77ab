"""Python worker daemon for same-host sessions (``spark.python.daemon.module``).

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On Python 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read the central
directory of its archive: about 16 importers over the 1,328 entries of
``$SPARK_HOME/python/lib/pyspark.zip``, 235-325 ms of worker CPU per task
on a 4-vCPU VM, reused workers included. A 400-row pandas-UDF job then
costs about 480 ms against 120 ms for a JVM-only job.

This daemon re-reads an archive only when its ``(st_mtime_ns, st_size)``
changed since the last read, then hands over to pyspark's own daemon. A
zip added to ``sys.path`` later (``SparkContext.addPyFile``) has no
cached importer yet, so it is read as before.

``get_spark`` selects this module for same-host masters only (``local``,
``local[N]``, ``local-cluster[...]``), whose executors import the package
from the driver's package root; executors on another host may not have
it installed.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_signatures: dict[str, tuple[int, int] | None] = {}


def _signature(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    sig = _signature(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if sig is not None and files is not None and _signatures.get(self.archive) == sig:
        self._files = files  # another importer of this archive re-read it
        return
    _reread(self)  # stat first: a rewrite during the read is seen next time
    _signatures[self.archive] = sig


def main() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    # Record every archive's signature once here; forked workers inherit it.
    importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
