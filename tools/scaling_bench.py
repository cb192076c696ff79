"""Two-cluster-size scaling evidence (north rule).

A real N-vs-4N-executor cluster does not exist in this sandbox, so we
evidence the scaling criterion by running the IDENTICAL bank build at two
parallelism levels on the same input — local[N] and local[4N] — in
separate fresh JVMs, and reporting throughput at both plus
efficiency = T_4N / (4 * T_N).

Each run is launched exactly as the north rule words it: ``spark-submit
--py-files xorfilter_spark.zip`` — the library is zipped
(tools/pyfiles.py), shipped via --py-files, and imported from the zip
(the worker never puts the repo dir on sys.path), proving the package is
self-contained the way a real cluster submission requires.

The N and 4N runs alternate, REPS pairs in all, and each config's fastest
run of this invocation is reported.  The result goes to stdout (progress
to stderr), so it never overwrites the recorded BENCH/scaling.json.
Usage:

    python tools/scaling_bench.py [n_keys] [small_cores] [reps] > out.json
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from pyfiles import driver_heap, make_pyfiles_zip, spark_submit_path  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import json, sys, time
# NOTE: no repo-dir sys.path insert — xorfilter_spark must import from the
# --py-files zip, as on a real cluster
from pyspark.sql import SparkSession, functions as F
from xorfilter_spark import bank as B

cores = int(sys.argv[1]); n_keys = int(sys.argv[2])
# FIXED across runs: same job, same partitioning, only cores vary.
# Sized so the per-shard peel scratch (~1.23n slots + accumulators) stays
# L2-resident (~64k keys/shard): beyond L2 the random-access peel turns
# DRAM-bound and added cores fight over the memory bus (measured 2x at
# 60M keys — BENCH/membw_scaling.json documents the bus ceiling).
shards = 1 << max(8, (n_keys // 64_000).bit_length())
# master / memory / shuffle conf all come from spark-submit flags
spark = SparkSession.builder.appName(f"scaling-{cores}").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
assert "xorfilter_spark.zip" in (B.__file__ or ""), (
    f"library must load from the --py-files zip, got {B.__file__}")

keys = spark.range(n_keys).select(F.col("id").alias("key"))
# warm-up: JVM + python worker pool + codegen (excluded from timing)
B.bank_len(B.build_bank(keys.limit(200_000), "key", variant="xor8",
                        num_shards=shards, dedup="kernel"))

t0 = time.perf_counter()
bank = B.build_bank(keys, "key", variant="xor8", num_shards=shards,
                    dedup="kernel").cache()
total = B.bank_len(bank)
el = time.perf_counter() - t0

t1 = time.perf_counter()
probes = spark.range(n_keys).select(F.col("id").alias("key"))
B.contains(probes, "key", bank, "hit").agg(F.sum(F.col("hit").cast("long"))).collect()
pel = time.perf_counter() - t1
spark.stop()
print(json.dumps({"cores": cores, "n_keys": total, "shards": shards,
                  "build_sec": round(el, 3),
                  "build_keys_per_sec": round(total / el, 1),
                  "probe_sec": round(pel, 3),
                  "probe_keys_per_sec": round(n_keys / pel, 1)}))
"""


def _submit_cmd(cores: int, n_keys: int, worker_py: str, zip_path: str) -> list[str]:
    shards = 256
    return [
        spark_submit_path(),
        "--master", f"local[{cores}]",
        "--py-files", zip_path,
        "--driver-memory", driver_heap(),
        "--conf", f"spark.sql.shuffle.partitions={shards}",
        "--conf", "spark.sql.adaptive.enabled=false",
        "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=500000",
        "--conf", "spark.ui.enabled=false",
        worker_py, str(cores), str(n_keys),
    ]


def run(cores: int, n_keys: int) -> dict | None:
    with tempfile.TemporaryDirectory(prefix="scaling-submit-") as tmp:
        zip_path = make_pyfiles_zip(os.path.join(tmp, "xorfilter_spark.zip"))
        worker_py = os.path.join(tmp, "scaling_worker.py")
        with open(worker_py, "w") as f:
            f.write(WORKER)
        out = subprocess.run(
            _submit_cmd(cores, n_keys, worker_py, zip_path),
            capture_output=True, text=True, timeout=3600,
            cwd=tmp,  # not the repo: imports must come from the zip
        )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        print(f"worker cores={cores} produced no result; stderr tail:\n"
              f"{out.stderr[-1500:]}", file=sys.stderr, flush=True)
        return None
    return json.loads(lines[-1])


def main() -> None:
    n_keys = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    small = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    large = small * 4
    samples: dict[int, list[dict]] = {small: [], large: []}
    for pair in range(reps):
        for cores in (small, large):  # A/B alternation
            r = run(cores, n_keys)
            if r is None:
                continue
            samples[cores].append(r)
            print(f"pair {pair} cores {cores}: build {r['build_sec']}s "
                  f"({r['build_keys_per_sec']}/s) probe {r['probe_sec']}s",
                  file=sys.stderr, flush=True)
    if not samples[small] or not samples[large]:
        raise SystemExit("no successful samples for one config")

    best_small = max(samples[small], key=lambda r: r["build_keys_per_sec"])
    best_large = max(samples[large], key=lambda r: r["build_keys_per_sec"])
    bp_small = max(samples[small], key=lambda r: r["probe_keys_per_sec"])
    bp_large = max(samples[large], key=lambda r: r["probe_keys_per_sec"])
    ratio = large / small
    rev = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], capture_output=True,
        text=True, cwd=REPO, timeout=10,
    ).stdout.strip()
    print(json.dumps({
        "n_keys": n_keys,
        "reps": reps,
        "selection": "best-of-k per config this invocation",
        "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "rev": rev,
        "small_best": best_small,
        "large_best": best_large,
        "build_scaling_efficiency": round(
            best_large["build_keys_per_sec"]
            / (ratio * best_small["build_keys_per_sec"]), 3),
        "probe_scaling_efficiency": round(
            bp_large["probe_keys_per_sec"]
            / (ratio * bp_small["probe_keys_per_sec"]), 3),
        "samples": samples,
    }, indent=2))


if __name__ == "__main__":
    main()
