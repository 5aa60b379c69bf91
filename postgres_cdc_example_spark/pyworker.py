"""PySpark daemon whose workers re-read a zip archive only when it changed.

Before each task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``). Under CPython 3.11 that
makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole central directory. A worker holds 12 importers over
``pyspark.zip`` (1328 entries, 3.7 ms each) and 2 over the Spark core jar
(5359 entries, 16 ms each), so each task paid 73–77 ms before its function
ran (4-core box).

Run as ``__main__`` (``spark.python.daemon.module``, set by
``session.get_spark``), this module replaces
``zipimport.zipimporter.invalidate_caches`` with :func:`invalidate_caches`
and starts PySpark's own daemon, whose forked workers inherit the patch.
A changed, removed or new archive is still re-read, so ``addPyFile`` and
``addArchive`` keep working. Importing the module patches nothing.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive unless its ``(st_mtime_ns, st_size)`` matches the
    stamp saved at this importer's last re-read. A failed ``stat`` always
    re-reads, which empties ``_files`` as the original does."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reread(self)
        self._stamp = stamp


if __name__ == "__main__":
    # Import under the package name, so the installed function reports
    # ``postgres_cdc_example_spark.pyworker`` rather than ``__main__``.
    from pyspark import daemon

    from postgres_cdc_example_spark.pyworker import invalidate_caches as _patched

    zipimport.zipimporter.invalidate_caches = _patched
    daemon.manager()
