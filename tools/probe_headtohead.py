"""Interleaved head-to-head of the contains_join payload shapes.

Measures, at BENCH-scale probe counts, the two cogroup probe shapes on a
narrow (bare 8-byte key) and a wide (~450 B/row) probe table:

  rows    full rows through the cogroup (one shuffle, Arrow freight grows
          with width)
  digest  (digest, shard) cogroup + a join-back that AQE plans from the
          hit table's runtime size

Shapes are interleaved A/B/A/B within one JVM so hypervisor-steal drift
hits all of them equally; per-shape best-of-REPS is reported.  Writes
BENCH/probe_headtohead_r4.json in the checkout this script lives in, and
prints it.

Usage: python tools/probe_headtohead.py [n_keys] [reps]
Env:   SPARK_GRAFT_CPUS (default: this host's core count)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from tools.pyfiles import driver_heap
    from xorfilter_spark import bank as B

    n_keys = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("probe-headtohead")
        .config("spark.sql.shuffle.partitions", str(max(CPUS * 2, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", driver_heap())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1000000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    keys = spark.range(n_keys).select(F.col("id").alias("key"))
    bank = B.build_bank(
        keys, "key", variant="xor8", num_shards=max(64, CPUS * 8), dedup="kernel"
    ).cache()
    B.bank_len(bank)  # materialize + warm the worker pool

    probes = spark.range(n_keys // 2, n_keys + n_keys // 2).select(
        F.col("id").alias("key")
    )
    wide = probes.withColumn("payload", F.repeat(F.lit("x"), 400))

    shapes = {
        "narrow_rows": lambda: B.contains_join(
            probes, "key", bank, "hit", payload="rows"
        ),
        "narrow_digest_auto": lambda: B.contains_join(
            probes, "key", bank, "hit", payload="digest"
        ),
        "wide_rows": lambda: B.contains_join(
            wide, "key", bank, "hit", payload="rows"
        ),
        "wide_digest_auto": lambda: B.contains_join(
            wide, "key", bank, "hit", payload="digest"
        ),
    }

    results: dict[str, list[float]] = {k: [] for k in shapes}
    for _ in range(reps):  # interleave: every rep touches every shape
        for name, fn in shapes.items():
            t0 = time.perf_counter()
            fn().agg(
                F.sum(F.col("hit").cast("long")).alias("h"),
                F.count("*").alias("n"),
            ).collect()
            results[name].append(round(time.perf_counter() - t0, 3))
    spark.stop()

    out = {
        "n_keys": n_keys,
        "cpus": CPUS,
        "reps": reps,
        "best": {k: min(v) for k, v in results.items()},
        "samples": results,
    }
    with open(os.path.join(REPO, "BENCH", "probe_headtohead_r4.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
