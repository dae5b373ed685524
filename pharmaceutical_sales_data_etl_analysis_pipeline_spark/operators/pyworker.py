"""Per-task setup for every Python kernel: call `ready()` first.

A PySpark worker runs `importlib.invalidate_caches()` at the start of
every task (`pyspark.worker_util.setup_spark_files`). On CPython 3.11 and
3.12 that makes every cached `zipimporter` read its archive's central
directory again at once: in a local worker, 16 importers over
`pyspark.zip`, the py4j zip and the `spark-core` jar (5,359 entries).
That one call took 135-270 ms per task on a 4-core host, several
times a whole one-task JVM job.

`ready()` installs, once per worker process, a
`zipimporter.invalidate_caches` that reads an archive again only when its
`(st_mtime_ns, st_size)` changed since that importer last read it, so a
file added or replaced through `addPyFile` is still read. Importers
already cached at install are stamped as read: the worker invalidated
every cache at this task's start, just before the kernel runs. The first
task in each new worker process still pays the full invalidation once.

The installed mark lives on the patched class, not in a module global:
this module is pickled by value (as dimfold.py is, so bare-session
workers get it), and its globals are rebuilt at every unpickle. It uses
only the standard library.

CPython 3.13 made the invalidation lazy (it drops the cached directory
and the next lookup reads it), so there `ready()` does nothing. Delete
this module and its calls when the Python floor reaches 3.13.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import cloudpickle


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def ready():
    """Make this worker's per-task import-cache invalidation re-read only
    the archives that changed. Cheap after the first call in a process."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or getattr(cls.invalidate_caches, "reads_on_change", False):
        return
    read_always = cls.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != self.__dict__.get("_read_stamp"):
            read_always(self)
            self._read_stamp = stamp

    invalidate_caches.reads_on_change = True
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder._read_stamp = _stamp(finder.archive)
    cls.invalidate_caches = invalidate_caches


cloudpickle.register_pickle_by_value(sys.modules[__name__])
