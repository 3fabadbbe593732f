"""The engine's Python worker daemon: ``pyspark.daemon`` with a
stat-checked zip directory cache.

Before each task, a Python worker runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), which calls
``zipimporter.invalidate_caches`` on every cached zip importer.  From
Python 3.10 to 3.12.1 that re-reads the archive's whole central
directory, once per importer: a worker holds 16 of them (12 over
``pyspark.zip``, 2 each over the py4j zip and the spark-core jar on the
worker path), so every task re-reads each archive's directory several
times before the UDF runs (see ``session.py``).

:func:`install` wraps ``zipimporter.invalidate_caches`` so an archive's
directory is re-read only when its ``(st_mtime_ns, st_size, st_ino)``
changed since the last read, and reads every cached archive once, so
the stats on record are those of the directories in memory.  The
daemon installs it before it forks, so every worker inherits it: an
unchanged ``pyspark.zip`` is never re-read, while a rewritten or newly
added archive (``addPyFile``) is read as before.

Run by Spark as ``python -m eodal_spark.pydaemon`` (``session.get_spark``
sets ``spark.python.daemon.module``).  The module itself imports the
stdlib and ``pyspark.daemon`` only; running it imports the package,
whose ``__init__`` loads ``session`` (pyarrow, pyspark.sql) before the
fork, so workers start with those loaded.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat of the file whose directory is in
# ``zipimport._zip_directory_cache``
_SEEN: dict[str, tuple] = {}
# directory reads done by the wrapper in this process; a forked worker
# starts from the daemon's count
REREADS = 0
_ORIGINAL = zipimport.zipimporter.invalidate_caches


def _stat(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches``, skipped while the archive's
    stat matches the one taken before its directory was last read."""
    global REREADS
    cache = zipimport._zip_directory_cache
    st = _stat(self.archive)
    if st is not None and _SEEN.get(self.archive) == st and self.archive in cache:
        # another importer of this archive may have done the last read
        self._files = cache[self.archive]
        return
    REREADS += 1
    _ORIGINAL(self)
    if st is not None and self.archive in cache:
        _SEEN[self.archive] = st
    else:
        _SEEN.pop(self.archive, None)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process and read
    each cached archive's directory once (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            imp.invalidate_caches()


def main() -> None:
    install()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # run the copy registered as ``eodal_spark.pydaemon``, so a worker
    # can import the module and read the state it inherited
    from eodal_spark.pydaemon import main as _main

    _main()
