"""One ≥10^8-key xor8 bank build — the Spark analog of the reference's
ignored 1-billion-key tests (src/xor8/xor8_test.rs:205-215,
src/fuse8_test.rs:249-263).

Validates at real shard counts (auto sharding targets ~64k keys/shard →
~2k shards at 10^8 keys) what the small-SF suite validates at toy scale:

  * zero false negatives on a sampled member subset (2M probes)
  * FPP ≤ 0.4% on held-out probes (reference bound, xor8_test.rs:78-87)
  * geometry-exact space (bank bytes == capacity-rule bytes, P12)
  * build + probe throughput (keys/s) at the full key count

Runs once and writes BENCH/big_build_<keys>.json in the checkout this
script lives in.

Usage: python tools/big_build.py [n_keys]        (default 100_000_000)
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
N_PROBES = 2_000_000


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from tools.pyfiles import driver_heap
    from xorfilter_spark import bank as B

    n_keys = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("xorfilter-big-build")
        .config("spark.sql.shuffle.partitions", str(max(CPUS * 2, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", driver_heap())
        # the bank-rows collect at 10^9 keys is ~1.23 GB of fingerprints
        # (9.84 bits/key) — the deliberate, documented broadcast side;
        # the 1g default caps it mid-collect
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1000000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    keys = spark.range(n_keys).select(F.col("id").alias("key"))
    # warm-up: python worker pool + codegen, excluded from the timing
    B.bank_len(B.build_bank(keys.limit(200_000), "key", variant="xor8",
                            num_shards=64, dedup="kernel"))

    t0 = time.perf_counter()
    bank = B.build_bank(
        keys, "key", variant="xor8", num_shards="auto", dedup="kernel"
    ).cache()
    total = B.bank_len(bank)
    build_sec = time.perf_counter() - t0

    num_shards = int(bank.select("num_shards").first()[0])
    shard_rows = bank.count()
    size_bytes = B.bank_size_bytes(bank)
    expected_bytes = B.bank_expected_size_bytes(bank)

    # zero false negatives on a 2M sampled member subset
    stride = max(1, n_keys // N_PROBES)
    members = spark.range(0, n_keys, stride).select(F.col("id").alias("key"))
    t1 = time.perf_counter()
    mrow = (
        B.contains(members, "key", bank, "hit")
        .agg(F.sum(F.col("hit").cast("long")).alias("h"),
             F.count("*").alias("n"))
        .collect()[0]
    )
    probe_sec = time.perf_counter() - t1

    # FPP on held-out probes (disjoint from [0, n_keys))
    frow = (
        B.contains(
            spark.range(2 * n_keys, 2 * n_keys + N_PROBES)
            .select(F.col("id").alias("key")),
            "key", bank, "hit",
        )
        .agg(F.avg(F.col("hit").cast("double")).alias("fpp"))
        .collect()[0]
    )
    spark.stop()

    fpp = float(frow["fpp"])
    out = {
        "n_keys": n_keys,
        "cpus": CPUS,
        "variant": "xor8",
        "num_shards": num_shards,
        "shard_rows": shard_rows,
        "bank_len": total,
        "build_sec": round(build_sec, 3),
        "build_keys_per_sec": round(total / build_sec, 1),
        "member_probes": int(mrow["n"]),
        "member_hits": int(mrow["h"]),
        "zero_false_negatives": int(mrow["h"]) == int(mrow["n"]),
        "probe_sec": round(probe_sec, 3),
        "probe_keys_per_sec": round(int(mrow["n"]) / probe_sec, 1),
        "heldout_probes": N_PROBES,
        "fpp": round(fpp, 6),
        "fpp_bound": 0.004,
        "bits_per_key": round(8.0 * size_bytes / total, 3),
        "size_bytes": size_bytes,
        "expected_size_bytes": expected_bytes,
        "space_geometry_exact": size_bytes == expected_bytes,
        "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "reference": "xor8_test.rs:205-215 (ignored 1B-key test); "
                     "FPP bound xor8_test.rs:78-87",
    }
    assert total == n_keys, (total, n_keys)
    assert out["zero_false_negatives"], (mrow["h"], mrow["n"])
    assert fpp <= 0.004, fpp
    assert out["space_geometry_exact"], (size_bytes, expected_bytes)

    path = os.path.join(REPO, "BENCH", f"big_build_{n_keys // 1_000_000}m.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out, indent=2))
    print(f"wrote {path}", flush=True)


if __name__ == "__main__":
    main()
