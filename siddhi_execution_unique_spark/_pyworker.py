"""Once-per-worker set-up that cuts the fixed cost of every Python task.

A reused PySpark worker pays two charges on every task that do not
depend on the task's data:

- pyspark's ``worker_util.setup_spark_files`` ends each task's set-up
  with ``importlib.invalidate_caches()``. On CPython < 3.12,
  ``zipimport.zipimporter.invalidate_caches`` re-reads the archive's
  whole central directory, and the worker holds one ``zipimporter`` per
  package path into ``pyspark.zip`` (16 in a pandas-UDF worker), each
  re-reading all 1,328 entries.
  CPython 3.12 made that re-read lazy (once per archive, on next use).
  Here it goes one step further: an archive is re-read only when its
  ``(inode, size, mtime_ns)`` differs from the last read, else the
  importer is rebound to the shared directory cache. A rewritten or
  newly added archive is still picked up on the next task.
- ``pyspark/daemon.py`` runs ``gc.collect()`` after every task, over
  every object the worker has imported (pandas, pyarrow, pyspark;
  about 73k tracked objects): 20-90 ms a task. Together the two came to
  0.23 s of worker CPU per no-op task on a 4-core host, and 4 ms with
  both savings. ``gc.freeze()`` moves what exists at install time
  into the permanent generation, so each collect scans only the objects
  made since. Freezing costs no collect and no copy. The price is that
  garbage cycles already present at install time are never freed: a
  one-time amount bounded by the first task's set-up.

:func:`install` runs when the package is first imported inside a
worker, which every package UDF does when the worker unpickles it. A
worker the factory reaps after a minute idle is replaced, when needed,
by a fresh process, which runs it again on its next package import.
Outside a worker it does nothing.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

from pyspark.core.files import SparkFiles

# process-wide, like the class method the wrapper replaces
_installed = False
# archive path -> (inode, size, mtime_ns) when its directory was last read
_read_stamps: dict[str, tuple[int, int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed archive."""
    archive = self.archive
    # stamped before the read, so a write racing the read shows next time
    try:
        st = os.stat(archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _read_stamps.get(archive) == stamp:
        self._files = files
        return
    _reread(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _read_stamps[archive] = stamp
    else:
        _read_stamps.pop(archive, None)


def install() -> None:
    """Install both per-worker savings once, and only inside a PySpark worker."""
    global _installed
    if _installed or not SparkFiles._is_running_on_worker:
        return
    _installed = True
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    gc.freeze()
