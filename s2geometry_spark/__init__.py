"""s2geometry_spark — a PySpark-native spherical spatial-join + tiling engine.

From-scratch re-expression of S2's query capabilities (Hilbert cell ids,
region coverings, point-in-polygon containment joins, cell-expansion kNN)
as vectorized NumPy kernels inside pandas/Arrow UDFs over DataFrames.
Reference semantics: SINHASantos/s2geometry (read-only study copy).
"""

import os
import sys

__version__ = "0.1.0"


def _guard_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task.  On CPython 3.10-3.12 that makes each cached ``zipimporter``
    re-read its whole zip directory.  A reused worker holds over a dozen
    importers for pyspark.zip, py4j and the spark-core jar; re-reading
    them cost about 0.2 CPU-s per task (Python 3.11, Spark 4.1).  Here a
    directory is read again only when the archive's ``(st_mtime_ns,
    st_size, st_ino)`` differs from the stamp of the importer's last read,
    so a zip added or rewritten by ``addPyFile`` is still picked up.  A
    missing archive goes to the stdlib method.  Every worker that runs an
    engine UDF imports this package, so the guard is in place from the
    worker's second task on.
    """
    import zipimport

    stdlib = zipimport.zipimporter.invalidate_caches
    if hasattr(stdlib, "stdlib"):  # installed by an earlier import
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self.__dict__.pop("_stamp", None)
            return stdlib(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        if self.__dict__.get("_stamp") != stamp:
            stdlib(self)
            self._stamp = stamp

    invalidate_caches.stdlib = stdlib
    zipimport.zipimporter.invalidate_caches = invalidate_caches


# 3.13 on only drops the cached directory; nothing is re-read eagerly
if sys.version_info < (3, 13):
    _guard_zip_rereads()


def _freeze_worker_heap() -> None:
    """Move a Python worker's import-time objects out of the collector's
    reach.

    PySpark's daemon runs ``gc.collect()`` after every task of a reused
    worker, and each run walks every tracked object.  Importing numpy,
    pandas and pyarrow alone leaves about 59k of them, 13 ms per
    collection (Python 3.11, bare interpreter; a worker holds more).
    Those objects live as long as the worker, so after one collection
    they are frozen into the permanent generation and later collections
    walk only what tasks allocate.
    """
    import gc

    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    gc.collect()
    gc.freeze()


# only a Python worker started by Spark carries its factory's secret; the
# driver's heap is left alone
if "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
    _freeze_worker_heap()
