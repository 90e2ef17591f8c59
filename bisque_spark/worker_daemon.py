"""Python worker daemon that stops reused workers re-reading zip archives.

`pyspark.worker` calls `importlib.invalidate_caches()` once per task, and
before CPython 3.13 `zipimporter.invalidate_caches()` re-reads the
archive's central directory at once, for every zipimporter on the path
(pyspark.zip, the py4j zip, the spark-core jar): ~200 ms per task on a
4-core box. Here an archive is re-read only when its (mtime, size)
changed since its last read. `session.get_spark` starts this module as
`spark.python.daemon.module`; the forked workers inherit the patch.
"""

import importlib
import os
import runpy
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive -> (st_mtime_ns, st_size) at its last read; process-wide, like
# zipimport's own directory cache
_stamps: dict[str, tuple[int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stock_invalidate(self)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files  # another importer of this archive re-read it
        return
    _stock_invalidate(self)
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()  # stamp every archive once, before forking
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
