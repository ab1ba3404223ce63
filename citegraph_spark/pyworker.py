"""Python worker daemon for local sessions: `pyspark.daemon` with one fix.

Every Python task starts in `pyspark.worker_util.setup_spark_files`,
which ends with `importlib.invalidate_caches()` so that files added with
`addPyFile` become importable. Below CPython 3.13 that call makes each
`zipimporter` re-read its archive's central directory in pure Python;
a worker holds about 16 of them over `$SPARK_HOME/python/lib/pyspark.zip`
(3.5 MB), which costs 0.15-0.3 s per task whatever the task's size.

Here an archive's directory is read again only when its `os.stat`
(mtime_ns, size, inode) differs from the last read in this process; a
new, rewritten or deleted archive takes the stock path. `get_spark` runs
this module as `spark.python.daemon.module` on `local[...]` masters when
the driver's working directory or `PYTHONPATH` holds the package, which
the daemon must import before any `addPyFile` (see
`session._ship_package`).
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
#: archive path -> (stat key, directory) of the last read in this process
_directories: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None
    seen = _directories.get(self.archive)
    if key is not None and seen is not None and seen[0] == key:
        self._files = seen[1]
        zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _directories.pop(self.archive, None)
    _stock_invalidate(self)
    if key is not None and self.archive in zipimport._zip_directory_cache:  # read succeeded
        _directories[self.archive] = (key, self._files)


def install() -> None:
    """Patch `zipimporter.invalidate_caches` (CPython < 3.13 only; from
    3.13 the stock method drops the cache entry and reads lazily)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    import importlib

    # through the package, so workers see citegraph_spark.pyworker's method
    from citegraph_spark.pyworker import install as _install
    from pyspark import daemon

    _install()
    importlib.invalidate_caches()  # read each archive once, before forking
    daemon.manager()
