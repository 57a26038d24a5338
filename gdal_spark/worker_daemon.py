"""Python worker daemon for engine sessions (`spark.python.daemon.module`).

Spark forks every Python worker from one daemon process per executor, and
each task starts with `pyspark.worker_util.setup_spark_files`, which calls
`importlib.invalidate_caches()`. For a zip or jar on `sys.path` the stdlib
`zipimporter.invalidate_caches` re-parses the archive's whole central
directory, once per importer: one importer per pyspark subpackage loaded
from `pyspark.zip`, two for the spark-core jar. That is 110-230 ms before
every UDF call, measured on a 4-vCPU VM with Python 3.11.

This module runs the stock `pyspark.daemon.manager()` after three steps:

* zipimport re-reads an archive only when its `(st_mtime_ns, st_size)`
  differs from what the importer last read, the rule FileFinder applies to
  directories; a changed archive is still re-read, a missing one takes the
  stdlib path;
* the worker stack (pyspark's worker and Arrow serializers, numpy, pandas,
  pyarrow, the engine's geometry and tile kernels) is imported once before
  fork instead of once per forked worker. Imports only: nothing here
  starts a numpy or pyarrow thread pool in the parent;
* `gc.freeze()` moves those objects to the permanent generation, so forked
  workers share their pages copy-on-write and the daemon's per-task
  `gc.collect()` skips them.
"""

from __future__ import annotations

import gc
import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """`zipimporter.invalidate_caches` that re-reads the archive only when
    its `(st_mtime_ns, st_size)` changed since this importer last read it."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stock_invalidate(self)
    sig = (st.st_mtime_ns, st.st_size)
    if getattr(self, "_dir_sig", None) != sig:
        _stock_invalidate(self)
        self._dir_sig = sig


def main():
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401

    from .core import geomops, tilemath, wkb  # noqa: F401
    from .raster import tiles  # noqa: F401

    # imports pyspark.worker (or the module Spark names in argv[1])
    import pyspark.daemon

    # read every importer's archive once here, so forked workers inherit
    # the recorded signatures
    importlib.invalidate_caches()
    gc.freeze()
    pyspark.daemon.manager()


if __name__ == "__main__":
    # run under the package name, so the patched method reports
    # `gdal_spark.worker_daemon` as its module, not `__main__`
    from gdal_spark.worker_daemon import main as _main
    _main()
