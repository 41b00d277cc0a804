"""Cut the fixed CPU cost a reused PySpark Python worker pays per task.

Spark reuses a Python worker for task after task, and the worker does two
things around every task whatever the task computes:

- before it, ``worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()``. Before Python 3.12 that makes every
  ``zipimporter`` on ``sys.path_importer_cache`` re-read its archive's
  whole central directory at once: a worker re-parses pyspark.zip (about
  1,300 entries) once per zipimporter, about 90 ms of CPU per task.
  Python 3.12 made the invalidation lazy.
- after it, ``pyspark.daemon`` runs ``gc.collect()``, a full collection
  whose cost grows with every object the worker holds: once pandas,
  pyarrow and this package are imported, about 45 ms of CPU per task.

``install`` runs when the package is imported, so a worker that unpickles
one of the package's UDFs keeps both fixes for the tasks that follow:

- on Python < 3.12 it replaces ``zipimporter.invalidate_caches`` with one
  that stats the archive first and re-reads it only when its (mtime_ns,
  size, inode) differs from the stamp taken before its last read. A
  changed archive is still re-read, and every zipimporter of that archive
  picks up the new directory;
- in a PySpark worker process only, it collects once and then
  ``gc.freeze()``s what the worker holds at that point (mostly modules,
  classes and functions), so each later collection scans only what the
  tasks allocate. Frozen objects are still freed by reference counting;
  only a reference cycle among objects alive at the freeze is never
  collected, a one-time cost per worker. The driver is left as it is.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

_ORIGINAL = zipimport.zipimporter.invalidate_caches

# archive path -> (stamp taken before the read, the directory that read returned)
_READS: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _reread(importer, stamp) -> None:
    _ORIGINAL(importer)
    # an unreadable archive is dropped from the cache; it is retried next time
    if stamp is not None and importer.archive in zipimport._zip_directory_cache:
        _READS[importer.archive] = (stamp, importer._files)


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    last = _READS.get(self.archive)
    if stamp is None or last is None or last[0] != stamp:
        _reread(self, stamp)
        return
    self._files = last[1]
    zipimport._zip_directory_cache[self.archive] = last[1]


def _in_worker() -> bool:
    """True in a PySpark Python worker: its task set-up (which runs before
    any UDF is unpickled) marks ``SparkFiles`` as running on a worker."""
    files = sys.modules.get("pyspark.core.files")
    return files is not None and bool(getattr(files.SparkFiles, "_is_running_on_worker", False))


def install() -> None:
    """Apply both fixes to this process (see the module docstring). Archives
    already read are read once more here, so each one carries a stamp that
    matches its cached directory."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
        for importer in list(sys.path_importer_cache.values()):
            if isinstance(importer, zipimport.zipimporter) and importer.archive not in _READS:
                _reread(importer, _stamp(importer.archive))
    if _in_worker():
        gc.collect()
        gc.freeze()
