"""Python-worker state after a library operation.  Importing the package in
a Spark worker, once per process:

- drops the jar entries from ``sys.path`` and the cached zipimporters, and
  makes the rebuilt zip importers static, so Spark's per-task
  ``importlib.invalidate_caches()`` re-reads no archive;
- freezes the import-time heap, so the daemon's per-task ``gc.collect()``
  walks only what later tasks create.

Each state is reported from inside a ``mapInPandas`` task."""

import json
import zipfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from xorfilter_spark import bank as xb


def _run_library_op(spark):
    keys = spark.range(0, 20_000, numPartitions=4).select(F.col("id").alias("key"))
    bank = xb.build_bank(keys, "key", num_shards=4)
    assert xb.contains(keys, "key", bank).where("contains").count() == 20_000


@pytest.fixture(scope="module")
def worker_states(spark):
    """States reported by tasks that ran in a worker which had already run
    the library."""
    _run_library_op(spark)

    def report(batches):
        import gc
        import importlib
        import sys
        import weakref
        import zipimport

        for _ in batches:
            pass

        reads = []
        read_directory = zipimport._read_directory

        def counting_read(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory

        class Node:
            pass

        a, b = Node(), Node()
        a.peer, b.peer = b, a
        dead = weakref.ref(a)
        del a, b
        gc.collect()

        state = {
            "loaded": "xorfilter_spark" in sys.modules,
            "jar_paths": [p for p in sys.path if p.endswith(".jar")],
            "jar_importers": [
                path
                for path, finder in sys.path_importer_cache.items()
                if isinstance(finder, zipimport.zipimporter)
                and finder.archive.endswith(".jar")
            ],
            "archive_reads": len(reads),
            "freeze_count": gc.get_freeze_count(),
            "tracked": len(gc.get_objects()),
            "cycle_reclaimed": dead() is None,
        }
        yield pd.DataFrame({"state": [json.dumps(state)]})

    rows = spark.range(0, 8, numPartitions=8).mapInPandas(report, "state string")
    states = [json.loads(r["state"]) for r in rows.collect()]
    trimmed = [s for s in states if s["loaded"]]
    assert trimmed, "no task ran in a worker that had run the library"
    return trimmed


def test_worker_drops_jar_path_and_zipimporters(worker_states):
    for s in worker_states:
        assert s["jar_paths"] == []
        assert s["jar_importers"] == []


def test_worker_invalidate_caches_reads_no_archive(worker_states):
    for s in worker_states:
        assert s["archive_reads"] == 0


def test_worker_gc_walks_only_post_import_objects(worker_states):
    for s in worker_states:
        assert s["freeze_count"] > 0
        assert s["tracked"] < 10_000, s["tracked"]
        assert s["cycle_reclaimed"]


def test_worker_imports_py_file_added_mid_session(spark, tmp_path):
    """A zip shipped with ``addPyFile`` after the workers installed the
    static importer hook arrives under a new path, so it gets a new
    importer that reads it."""
    _run_library_op(spark)
    archive = tmp_path / "xfs_midsession_dep.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("xfs_midsession_dep.py", "def triple(x):\n    return 3 * x\n")
    spark.sparkContext.addPyFile(str(archive))

    def use_dep(batches):
        import sys

        import xfs_midsession_dep

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "y": pdf["id"].map(xfs_midsession_dep.triple),
                    "loaded": "xorfilter_spark" in sys.modules,
                }
            )

    rows = (
        spark.range(0, 80, numPartitions=8)
        .mapInPandas(use_dep, "y long, loaded boolean")
        .collect()
    )
    assert sorted(r["y"] for r in rows) == [3 * i for i in range(80)]
    assert any(r["loaded"] for r in rows), "no task ran in a library worker"
