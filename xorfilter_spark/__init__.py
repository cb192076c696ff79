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
    """Make the Python worker's per-task ``importlib.invalidate_caches()``
    cheap.

    Spark's worker calls it before every task, and on Python 3.10+ every
    cached ``zipimporter`` then re-reads its archive's central directory:
    16 importers over ``pyspark.zip``, the py4j zip and the 5k-entry
    ``spark-core`` jar cost 120-270 CPU-ms per task (Spark 4.1, Python
    3.11, 4-vCPU x86 VM).  The jar holds no Python, so it leaves
    ``sys.path``.  The evicted zipimporters are rebuilt by the next import
    that needs one, from ``zipimport._zip_directory_cache``, without
    reading the archive again.
    """
    import zipimport

    sys.path[:] = [p for p in sys.path if not p.endswith(".jar")]
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


# Only the daemon's reused workers import pyspark.worker; the driver never
# does.  Once per worker process is enough: the importers rebuilt later are
# the few that imports still need.
if "pyspark.worker" in sys.modules:
    _trim_worker_import_caches()
