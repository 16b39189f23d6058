"""Python workers re-read a zip archive only when it changed.

Before every task, a pyspark Python worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``).  Before Python 3.13, every ``zipimport.zipimporter``
answers that call by re-reading its archive's whole central directory.
``pyspark.zip`` (1,328 entries) comes first on the worker path and a warm
worker holds 12-16 importers over it, so each task of every Python stage
(batch join, batch kNN, tile decode, heatmaps, ANN, pHash) paid about 75 ms
before its body started, on a reused worker too (Python 3.11, 4-vCPU host).
A warm 2-task ``mapInPandas`` job at local[2] took 124-145 ms; with this
module, 91-102 ms; a native job of the same size, 27-41 ms.

``install`` replaces ``zipimporter.invalidate_caches`` with one that
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed since
that importer last read it, so a rewritten or new archive (a ``--py-files``
zip shipped again) is still seen on the next task.  The package
``__init__`` calls ``install_on_worker``, which installs it only inside a
Python worker (pyspark sets ``SparkFiles._is_running_on_worker`` before it
unpickles a task's functions, and every Python stage of the package imports
the package) and only before Python 3.13, whose zipimport already
invalidates lazily.  ``install`` also stamps each cached importer whose
archive was last modified before this process started: pyspark re-read
every cached importer's archive after that start (the ``setup_spark_files``
call above, which precedes the unpickling that imports this package), so
its directory is current.  Where the start time cannot be read (no
``/proc``), an importer's first call through the replacement re-reads.
"""

from __future__ import annotations

import os
import sys
import time
import zipimport

_read_always = zipimport.zipimporter.invalidate_caches
_STAMP = "_opss_archive_stamp"


def _archive_stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    # stat before the read: an archive replaced in between is re-read next time
    stamp = _archive_stamp(self.archive)
    if stamp is not None and stamp == getattr(self, _STAMP, None):
        return
    _read_always(self)
    setattr(self, _STAMP, stamp)


def _process_start_ns():
    """This process's start on the wall clock, in ns, or None.  The boot
    time in /proc/stat is whole seconds, truncated, so the value errs
    early, which only leaves an archive unstamped."""
    try:
        with open("/proc/self/stat", "rb") as f:
            # fields after the parenthesised command name; starttime is 22nd
            ticks = int(f.read().rsplit(b")", 1)[1].split()[19])
        with open("/proc/stat", "rb") as f:
            btime = next(int(line.split()[1]) for line in f
                         if line.startswith(b"btime "))
        hz = os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError, StopIteration):
        return None
    start = btime * 10**9 + ticks * 10**9 // hz
    return start if start <= time.time_ns() else None


def install() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    start = _process_start_ns()
    if start is None:
        return
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            stamp = _archive_stamp(imp.archive)
            if stamp is not None and stamp[0] < start:
                setattr(imp, _STAMP, stamp)


def install_on_worker() -> None:
    if sys.version_info >= (3, 13):
        return
    files = sys.modules.get("pyspark.core.files")
    if files is not None and files.SparkFiles._is_running_on_worker:
        install()
