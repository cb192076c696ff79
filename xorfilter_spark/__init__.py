"""xorfilter_spark — a PySpark-native approximate-membership / sketch engine.

Re-expresses the capabilities of the xorfilter reference crate
(/root/reference) as Spark DataFrame operators: xor8 / binary-fuse filter
banks built by hash-prefix sharding + vectorized Arrow kernels, probed via
broadcast lookup, plus a mergeable sketch suite (HLL, Bloom, count-min,
t-digest, KLL) and web-text pipeline operators.
"""

import sys

__version__ = "0.1.0"


def _trim_worker_import_caches() -> None:
    """Make a reused Python worker's between-task housekeeping cheap.

    Spark's worker calls ``importlib.invalidate_caches()`` before every
    task (``pyspark/worker_util.py``), and on Python 3.10+ every cached
    ``zipimporter`` then re-reads its archive's central directory: 16
    importers over ``pyspark.zip``, the py4j zip and the 5k-entry
    ``spark-core`` jar cost 120-270 CPU-ms per task (Spark 4.1, Python
    3.11, 4-vCPU x86 VM).  The jar holds no Python, so it leaves
    ``sys.path``.  The zip importers are rebuilt, by the next import that
    needs one, from a ``zipimporter`` subclass whose ``invalidate_caches``
    does nothing, so they never re-read their archive.  Spark does not
    rewrite an archive already on a worker's ``sys.path``; a file added
    later with ``addPyFile`` arrives under a new path and gets a new
    importer, which reads it once.

    The daemon also runs a full ``gc.collect()`` after every task in a
    reused worker (``pyspark/daemon.py``), which walked the ~73k objects
    that imports created: ~27 ms per task.  So this imports numpy, pandas
    and pyarrow, which every UDF here loads anyway, and then calls
    ``gc.freeze()``: the objects that exist by then leave the collector's
    reach, and it walks only what later tasks create.  No collection runs
    before the freeze: it would cost ~23 ms, for nothing in a worker that
    is not reused.
    """
    import gc
    import zipimport

    class _StaticZipImporter(zipimport.zipimporter):
        def invalidate_caches(self):
            pass

    sys.path_hooks[:] = [
        _StaticZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    sys.path[:] = [p for p in sys.path if not p.endswith(".jar")]
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]

    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    gc.freeze()


# Only Spark's Python workers import pyspark.worker; the driver never does.
# Once per worker process is enough: the path hook and the frozen heap last
# for the life of the process.
if "pyspark.worker" in sys.modules:
    _trim_worker_import_caches()
