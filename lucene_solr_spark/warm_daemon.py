"""PySpark worker daemon with warm imports and stamped zip importers.

Use via ``spark.python.daemon.module=lucene_solr_spark.warm_daemon``.

It exists for two per-worker fixed costs:

1. Cold imports. The stock daemon imports only pyspark; every forked
   worker then pays the pandas/pyarrow/numpy import (~1-2 s CPU) on
   its first Arrow UDF. When the worker pool churns (idle timeouts,
   one-off stages, pool rebuilds between jobs), that cold import
   repeats per fork and — at high core counts — the fork+import storm
   serializes in the kernel (measured: sys-time-dominated stalls with
   idle CPUs). Importing the heavy modules HERE, before the daemon
   starts forking, lets every worker inherit them copy-on-write: a
   fork costs pages, not imports.

2. A zip re-read on every task. Each PySpark task calls
   ``importlib.invalidate_caches()`` (``pyspark/worker_util.py``
   ``setup_spark_files``), and on CPython 3.11 a ``zipimporter``
   answers that by re-reading its archive's whole central directory.
   Workers import pyspark from ``pyspark.zip`` through one importer
   per sub-package, so every task re-read the 1328-entry archive ~16
   times: ~250 ms of Python CPU per task on a 4-CPU host, more than
   the leaf of a 512-query v2 batch spends on BM25. With
   :func:`stamp_zip_importers` applied before the fork, a trivial
   ``applyInPandas`` over 10 tasks went from 1850-2160 ms to 330-440 ms
   of Python CPU (wall 890-1170 ms to 450-590 ms), and the v2 batch of
   512 queries from ~1000 ms to ~860 ms.
"""

import os
import sys
import zipimport

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401

if os.environ.get("LSS_THP_DISABLE", "1") == "1":
    # Default-ON opt-out of transparent hugepages for this process
    # tree (PR_SET_THP_DISABLE, inherited across fork; set
    # LSS_THP_DISABLE=0 to keep THP). Rationale: Python workers
    # allocate multi-MB SHORT-LIVED numpy/Arrow temporaries per task —
    # they never amortize a hugepage's TLB win, but every fresh large
    # mmap can stall on khugepaged compaction (this host: ~0.75 s
    # intermittent stalls under madvise+defer policy, see util/env.py;
    # adjacent A/B at 400k docs x 32 workers: +14% build throughput
    # with THP off). Per-process flag only — no system state touched.
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        PR_SET_THP_DISABLE = 41
        libc.prctl(PR_SET_THP_DISABLE, 1, 0, 0, 0)
    except Exception:  # pragma: no cover - non-linux/glibc
        pass

try:  # the engine's own worker-side imports, if resolvable
    from lucene_solr_spark.index import codec  # noqa: F401
    from lucene_solr_spark.util import smallfloat  # noqa: F401
except Exception:  # pragma: no cover - py-files layout may differ
    pass


def _archive_stamp(path: str):
    """``(st_mtime_ns, st_size)`` of a zip archive, None if unstat-able."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def stamp_zip_importers() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its ``(st_mtime_ns, st_size)`` stamp changed since the
    importer last read it, or when it cannot be stat'ed (then the stock
    method runs and drops the importer's files, as CPython does).
    Importers that exist now are stamped as read. Idempotent; the
    patch is per-process and inherited by forked workers."""
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "stamped", False):
        return

    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_dir_stamp", None):
            stock(self)
            self._dir_stamp = stamp

    invalidate_caches.stamped = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            imp._dir_stamp = _archive_stamp(imp.archive)


if __name__ == "__main__":
    from pyspark.daemon import manager

    stamp_zip_importers()
    manager()
