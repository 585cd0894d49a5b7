"""Python worker daemon for the engine's Spark sessions.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task (``setup_spark_files`` in ``pyspark/worker_util.py``).  On CPython
3.10, 3.11 and 3.12 (checked: 3.10.13, 3.11.7, 3.12.1) that makes every
``zipimport.zipimporter`` re-read its archive's whole directory on the
spot.  Executors import pyspark from ``pyspark.zip`` (3.5 MB, 1,328
entries in Spark 4.1) through one importer per package they have
imported, about 16 by the first task, so each Python task (every
pandas UDF, ``mapInPandas`` and Python-RDD task) paid about 0.25 s of
CPU before its first row on a 4-vCPU host.  CPython 3.13 (checked:
3.13.0) only drops the cached directory and re-reads it when next
needed; the replacement below does no harm there.

This module replaces ``zipimporter.invalidate_caches`` with a version
that keeps an importer's directory while its archive's
``(st_mtime_ns, st_size)`` equals the stamp taken at that importer's
last read, then runs ``pyspark.daemon.manager()``.  An archive is still
re-read, exactly as the standard library does it:

- at an importer's first invalidation, which takes its stamp, so each
  worker re-reads each archive once, on its first task;
- whenever the archive's modification time or size has changed;
- whenever the archive cannot be stat'ed.

A rewrite that keeps both the size and the nanosecond modification time
is not seen.

Executors must be able to import ``sparkharvester`` when the daemon
starts, before any ``--py-files`` archive reaches a worker's
``sys.path``, so ``session.get_spark`` names this module in
``spark.python.daemon.module`` only on a ``local`` master with the
package loaded from a plain directory.  Run as
``python -m sparkharvester.pydaemon [worker module]``, the way Spark
starts a daemon.
"""
from __future__ import annotations

import os
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed
    archive."""
    # stamped before the read: a change during it shows at the next call
    try:
        st = os.stat(self.archive)
        stamp = st.st_mtime_ns, st.st_size
    except OSError:
        stamp = None
    if stamp is not None and stamp == getattr(self, "_archive_stamp", None):
        return
    _stdlib_invalidate_caches(self)
    self._archive_stamp = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
