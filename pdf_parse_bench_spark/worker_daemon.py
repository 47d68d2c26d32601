"""The Python worker daemon: ``pyspark.daemon`` with a cheaper per-task
cache invalidation.

``get_spark`` names this module in ``spark.python.daemon.module``, so the
executor starts ``python -m pdf_parse_bench_spark.worker_daemon
pyspark.worker`` and every Python worker is forked from it.

Why. ``pyspark.worker_util.setup_spark_files`` ends every task with
``importlib.invalidate_caches()``. On CPython 3.11 a
``zipimport.zipimporter`` answers that by re-reading its archive's whole
directory (``zipimport.py``: ``invalidate_caches``), and the workers import
pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries) through
16 importers: 16 directory reads per task, 0.15 s of one core, on every
task of every Python stage.

What. Before ``pyspark.daemon.manager()`` forks any worker, this module
replaces ``zipimporter.invalidate_caches`` with ``invalidate_caches``
below: an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size, st_ino)`` differs from what it saw when it last
read it, or when ``os.stat`` fails. So a rewritten archive is re-read as
before, and a path added later still gets a fresh importer (the path
finder's own cache is untouched). The daemon stamps its importers once
before forking, so a forked worker re-reads none of them.

The workers must import this package to start at all: ``get_spark`` puts
the package root on their ``PYTHONPATH`` (``spark.executorEnv``), where
the package's kernels, module-level functions, need it anyway.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread_archive = zipimport.zipimporter.invalidate_caches


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` for an archive that changed since
    `importer` last read it; a no-op for an unchanged one."""
    try:
        st = os.stat(importer.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(importer, "_read_stamp", None):
        # stamped before the read: an archive rewritten during the read is
        # read again next time
        importer._read_stamp = stamp
        _reread_archive(importer)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon  # imports the worker module named in argv

    importlib.invalidate_caches()
    daemon.manager()
