"""Stat-checked `zipimporter.invalidate_caches` for Python workers.

Why: before every Python task, pyspark's worker calls
`importlib.invalidate_caches()` (`setup_spark_files` in
`pyspark/worker_util.py`). Up to Python 3.12 that makes every
`zipimport.zipimporter` in `sys.path_importer_cache` re-read its whole
archive directory at once. A warm worker holds 16 of them: 12 over
`pyspark.zip` (1,328 entries), 2 over the 5,359-entry `spark-core`
jar and 2 over the py4j zip, which costs 0.26-0.55 s per task on a
4-core host before the UDF runs a line. CPython 3.13 made the re-read
lazy, so there `install()` does nothing.

What: the replacement skips the re-read when the archive's
`(st_mtime_ns, st_size, st_ino)` equals the stat taken just before
its directory was last read, and hands the importer that directory,
which is what the re-read would return. A changed, missing or
unreadable archive falls through to the stdlib method. `install()`
seeds the archives of the importers that already exist, and runs only
inside a Python worker (the package's import there calls it); the
driver keeps the stdlib behaviour.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (stat key before the read, directory dict it read)
_READS: dict = {}
_STDLIB = zipimport.zipimporter.invalidate_caches


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    key = _stat_key(self.archive)
    last = _READS.get(self.archive)
    if key is not None and last is not None and last[0] == key:
        self._files = last[1]
        zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _STDLIB(self)
    if key is not None and self.archive in zipimport._zip_directory_cache:
        _READS[self.archive] = (key, self._files)
    else:
        _READS.pop(self.archive, None)


def in_python_worker() -> bool:
    """True inside a pyspark Python worker: `setup_spark_files` sets
    this flag before the task's functions are unpickled."""
    files = sys.modules.get("pyspark.core.files")
    return bool(files and files.SparkFiles._is_running_on_worker)


def install() -> bool:
    """Install the stat-checked method and seed the archive of every
    existing importer with its cached directory (archives are taken as
    unchanged since those importers read them). Returns whether it is
    installed: never on Python >= 3.13 or outside a Python worker."""
    if sys.version_info >= (3, 13) or not in_python_worker():
        return False
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter) and imp.archive not in _READS:
            files = zipimport._zip_directory_cache.get(imp.archive)
            key = _stat_key(imp.archive)
            if files is not None and key is not None:
                _READS[imp.archive] = (key, files)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True

