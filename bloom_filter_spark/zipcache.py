"""Keep the zip-import directory cache across tasks in an engine Python worker.

A Spark Python worker serves many tasks, and each task calls
``importlib.invalidate_caches()`` once: ``setup_spark_files`` ends with it
(pyspark 4.1.2 ``pyspark/worker_util.py:144``), and ``pyspark/worker.py:3355``
runs that for every task.  On CPython 3.11 that call makes every
``zipimport.zipimporter`` re-read its archive's central directory, with no
check for whether the archive changed (3.11.7 ``Lib/zipimport.py:329-336``;
still eager in 3.12.1, ``Lib/zipimport.py:271-277``).  A worker holds 14-16
such importers on ``pyspark.zip`` (1,328 entries) and the py4j zip, so every
task paid about 0.1 CPU-s before it ran any engine code.  CPython 3.13 made
the re-read lazy (``Lib/zipimport.py:276-278``), so there the hook is not
installed.

The stamp rule: :func:`install` wraps ``zipimporter.invalidate_caches`` so
that it calls the original only when the archive's
``(st_mtime_ns, st_size, st_ino)`` differs from the stamp stored on that
importer instance by its last re-read.  An importer whose archive changed,
disappeared or cannot be stat'ed runs the original, so a rewritten or removed
zip is re-read exactly as before.  At install, every zip importer already in
``sys.path_importer_cache`` is stamped with its archive's current stat: the
task that installs has just re-read them in its own ``setup_spark_files``.

The hook is worker-only.  It is installed when the package is imported while
``pyspark.TaskContext.get()`` is not None, which holds inside a Python worker
while it unpickles engine code and never on the driver, so a driver or a
plain library user keeps the interpreter's own import behaviour.  It is
installed at most once per process.

The per-invocation boundary overhead this removes, rather than kernel work,
is what dominates short Python UDF calls ("Accelerating Python UDFs in
Vectorized Query Execution", CIDR 2022).
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

_STAMP = "_archive_stat_stamp"


def _archive_stamp(archive: str) -> tuple[int, int, int]:
    st = os.stat(archive)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _keep_unchanged(original):
    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            stamp = _archive_stamp(self.archive)
        except OSError:
            stamp = None
        if stamp is not None and getattr(self, _STAMP, None) == stamp:
            return
        original(self)
        setattr(self, _STAMP, stamp)

    invalidate_caches.keeps_unchanged_archives = True
    return invalidate_caches


def installed() -> bool:
    """Whether this process's zip importers keep unchanged directories."""
    return getattr(zipimport.zipimporter.invalidate_caches,
                   "keeps_unchanged_archives", False)


def install() -> bool:
    """Install the stamp rule in an engine worker; return whether it is on.

    A no-op on CPython >= 3.13, outside a Spark task, and when already
    installed.
    """
    # a process that has not imported pyspark is not a worker: leave a plain
    # library user's interpreter without a pyspark import
    if sys.version_info >= (3, 13) or "pyspark" not in sys.modules:
        return False
    from pyspark import TaskContext
    if TaskContext.get() is None:
        return False
    if installed():
        return True
    zipimport.zipimporter.invalidate_caches = _keep_unchanged(
        zipimport.zipimporter.invalidate_caches)
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            try:
                setattr(finder, _STAMP, _archive_stamp(finder.archive))
            except OSError:
                pass
    return True
