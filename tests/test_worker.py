"""Python-worker state after a library operation: importing the package in
a Spark worker drops the jar entries from ``sys.path`` and the cached
zipimporters, so Spark's per-task ``importlib.invalidate_caches()`` no
longer re-reads the jar's central directory."""

import json

import pandas as pd
from pyspark.sql import functions as F

from xorfilter_spark import bank as xb


def test_worker_drops_jar_path_and_zipimporters(spark):
    keys = spark.range(0, 20_000, numPartitions=4).select(F.col("id").alias("key"))
    bank = xb.build_bank(keys, "key", num_shards=4)
    assert xb.contains(keys, "key", bank).where("contains").count() == 20_000

    def report(batches):
        import sys
        import zipimport

        for _ in batches:
            pass
        state = {
            "loaded": "xorfilter_spark" in sys.modules,
            "jar_paths": [p for p in sys.path if p.endswith(".jar")],
            "jar_importers": [
                path
                for path, finder in sys.path_importer_cache.items()
                if isinstance(finder, zipimport.zipimporter)
                and finder.archive.endswith(".jar")
            ],
        }
        yield pd.DataFrame({"state": [json.dumps(state)]})

    rows = spark.range(0, 8, numPartitions=8).mapInPandas(report, "state string")
    states = [json.loads(r["state"]) for r in rows.collect()]
    trimmed = [s for s in states if s["loaded"]]
    assert trimmed, "no task ran in a worker that had run the library"
    for s in trimmed:
        assert s["jar_paths"] == []
        assert s["jar_importers"] == []
