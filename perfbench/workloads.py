"""The two workloads: build and probe.

Every input is generated inside Spark from ``range`` and the run's seed:
key ``i`` is ``xxhash64(i, seed)``.  Members are keys of ids below the
bank's key count; non-members are keys of ids from ``NON_MEMBER_BASE`` up,
so each probe table knows which of its rows must be found.

Each workload has a set-up (repeated ``SETUP_REPS`` times, the median is
the set-up time), one warm-up round, and a closed loop of rounds with one
client: the next round starts when the previous one has returned.  Rounds
run until the next one would end after ``--seconds``.  The benchmark's own
verification runs in ``check`` spans, so the layer table keeps it apart
from the library's layers.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from xorfilter_spark import bank as B
from xorfilter_spark.streaming import incremental as I

SETUP_REPS = 5
NON_MEMBER_BASE = 1 << 40
PAYLOAD_BYTES = 400
FPP_BOUND = 0.004  # xor8 and fuse8 both sit at 2^-8 = 0.39%
FPP_SIGMAS = 5.0

# Sizes: the 8M / 4M-key target shapes scaled down so that a 25-second
# loop on local[4] holds several rounds of each workload, keeping the
# ratios that decide which layer does the work (distinct : duplicate rows,
# bank : probe rows, contains : join calls).  Auto-sharded key counts sit
# mid-way between the shard-count steps, so the ~5% error of the HLL
# estimate that picks the count never flips it between seeds.
BUILD_KEYS = 375_000            # distinct keys
BUILD_DUPLICATES = 93_750       # duplicate rows, 4 : 1 as in 8M : 2M
# Keys per shard for the build workload.  xor8 keeps build_bank's default
# (64k keys, the peel's L2-resident working set): 8 shards of ~47k keys.
# fuse8's default (1M keys) is divided by 16, so its bank also gets 8
# shards, two per core as 8M keys give at the default, instead of one
# shard peeled on one core.
BUILD_SHARD_TARGET = {"xor8": None, "fuse8": 62_500}
BUILD_SAMPLE = BUILD_KEYS // 40  # members probed per bank (200k of 8M)
BUILD_NONMEMBERS = 250_000      # non-members probed per bank, for the FPP
PROBE_BANK_KEYS = 187_500
PROBE_SHARDS = 4                # what build_bank's default target gives
PROBE_ROWS = 187_500            # per probe table, half members
PROBE_CONTAINS_PER_ROUND = 3    # about 10 : 4 contains : contains_join
PROBE_JOINS_PER_ROUND = 1
PROBE_HELD_OUT = 375_000        # held-out non-members, once per run


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def keys_df(spark, lo: int, hi: int, seed: int):
    ids = spark.range(lo, hi, numPartitions=4)
    return ids.select(F.xxhash64("id", F.lit(seed)).alias("key"))


def build_input(spark, n: int, dups: int, seed: int):
    """``n`` distinct keys plus ``dups`` rows repeating earlier keys."""
    ids = spark.range(0, n + dups, numPartitions=4)
    src = F.when(F.col("id") < n, F.col("id")).otherwise(
        F.pmod(F.col("id") * 7919, F.lit(n))
    )
    return ids.select(F.xxhash64(src, F.lit(seed)).alias("key"))


def probe_table(spark, members: int, bank_keys: int, nonmembers: int,
                non_lo: int, seed: int, offset: int = 0, payload: bool = False):
    """``members`` keys drawn from the bank's ids (a seeded permutation
    walk) plus ``nonmembers`` fresh keys from ``non_lo`` up; column
    ``member`` says which is which."""
    walk = F.pmod(F.col("id") * 2654435761 + F.lit(offset + seed), F.lit(bank_keys))
    m = spark.range(0, members, numPartitions=4).select(
        F.xxhash64(walk, F.lit(seed)).alias("key"), F.lit(True).alias("member"),
        F.col("id"),
    )
    n = spark.range(non_lo, non_lo + nonmembers, numPartitions=4).select(
        F.xxhash64("id", F.lit(seed)).alias("key"), F.lit(False).alias("member"),
        F.col("id"),
    )
    t = m.unionByName(n)
    if payload:
        text = F.repeat(F.sha2(F.col("id").cast("string"), 256), 7)
        t = t.withColumn("payload", F.substring(text, 1, PAYLOAD_BYTES))
    return t.drop("id")


# ---------------------------------------------------------------------------
# measured operations: each returns a record of what it did
# ---------------------------------------------------------------------------

class Ops:
    """Calls into the library's layers, each inside spans of its layer."""

    def __init__(self, spark, tracer, work_dir: str):
        self.spark = spark
        self.tr = tracer
        self.work = work_dir
        self.records: list[dict] = []
        self.recording = True  # off for the warm-up round
        self.attempted = 0
        self.failed: list[str] = []

    # -- correctness gate -------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(what)

    def check_fpp(self, variant: str) -> None:
        """Observed FPP over every probe of ``variant`` in the run must not
        exceed the bound by more than ``FPP_SIGMAS`` binomial sigmas (a
        correct 2^-8 filter sits 2.4% under the bound, so a bare
        ``observed <= 0.4%`` fails on sampling noise alone)."""
        probes = [r for r in self.records if r.get("variant") == variant and "fp" in r]
        n = sum(r["nonmembers"] for r in probes)
        fp = sum(r["fp"] for r in probes)
        limit = n * FPP_BOUND + FPP_SIGMAS * math.sqrt(n * FPP_BOUND * (1 - FPP_BOUND))
        self.check(n > 0 and fp <= limit, f"{variant} fpp {fp}/{n}")

    def record(self, **kw) -> dict:
        if self.recording:
            self.records.append(kw)
        return kw

    # -- build ------------------------------------------------------------
    def build(self, df, variant: str, distinct: int, target: int | None = None):
        """``build_bank`` (auto-sharded, ``target`` keys per shard or the
        library's default) materialized with cache + count."""
        with self.tr.span("build.call", variant=variant) as call:
            bank = B.build_bank(df, "key", variant=variant,
                                target_keys_per_shard=target)
        with self.tr.span("build.action", variant=variant) as action:
            bank = bank.cache()
            shards = bank.count()
        rec = self.record(
            op="build", variant=variant, keys=distinct, shards=shards,
            wall_s=call.wall + action.wall, cpu_s=call.cpu() + action.cpu(),
            spans=[call.idx, action.idx],
        )
        return bank, rec

    def incremental_build(self, df, distinct: int, log: str, bank_path: str,
                          shards: int):
        """An xor8 bank built through the streaming path: every key of
        ``df`` appended to an empty digest log, every shard rebuilt from
        it, and the bank read back, cached and counted."""
        with self.tr.span("update.append") as ap:
            dirty = I.append_digest_log(df, "key", log, shards)
        with self.tr.span("update.rebuild") as rb:
            I.rebuild_dirty_shards(self.spark, log, bank_path, dirty, num_shards=shards)
        with self.tr.span("update.read") as rd:
            bank = B.read_bank(self.spark, bank_path).cache()
            bank.count()
        rec = self.record(
            op="update", variant="xor8", keys=distinct, dirty_shards=len(dirty),
            append_s=ap.wall, rebuild_s=rb.wall, rebuild_cpu_s=rb.cpu(),
            read_s=rd.wall, log_bytes=dir_bytes(log),
        )
        return bank, rec

    def check_build(self, bank, rec: dict) -> list:
        """Collect a built bank outside the timed calls: it must hold the
        distinct keys it was built from; its rows fill in ``rec``."""
        with self.tr.span("check.collect"):
            rows = bank.collect()
        self.check(sum(r["num_keys"] for r in rows) == rec["keys"],
                   f"{rec['variant']} bank holds {rec['keys']} keys")
        rec.update(
            fp_bytes=sum(len(r["fingerprints"]) for r in rows),
            duplicates=sum(r["duplicates"] for r in rows),
            retries=sum(r["retries"] for r in rows),
            kernel_ms=sum(r["build_ms"] for r in rows),
        )
        return rows

    def check_size(self, bank, what: str) -> None:
        with self.tr.span("check.size"):
            ok = B.bank_size_bytes(bank) == B.bank_expected_size_bytes(bank)
        self.check(ok, f"{what} size matches geometry")

    # -- probe ------------------------------------------------------------
    def _probe_counts(self, out, payload: bool):
        member, hit = F.col("member"), F.col("contains")
        aggs = [
            F.count(F.lit(1)).alias("rows"),
            F.sum(member.cast("long")).alias("members"),
            F.sum((member & hit).cast("long")).alias("member_hits"),
            F.sum((~member & hit).cast("long")).alias("fp"),
        ]
        if payload:  # consume the payload so the join-back carries it
            aggs.append(F.sum(F.length("payload")).alias("payload_bytes"))
        return out.agg(*aggs).collect()[0]

    def contains(self, table, bank, variant: str, bank_bytes: int | None,
                 tag: str = "contains"):
        with self.tr.span("contains.call") as call:
            out = B.contains(table, "key", bank)
        with self.tr.span("contains.action") as action:
            r = self._probe_counts(out, payload=False)
        return self._probe_record(tag, variant, r, call, action, bank_bytes)

    def contains_join(self, table, bank, variant: str, bank_bytes: int):
        with self.tr.span("join.call") as call:
            out = B.contains_join(table, "key", bank)
        with self.tr.span("join.action") as action:
            r = self._probe_counts(out, payload=True)
        self.check(r["payload_bytes"] == r["rows"] * PAYLOAD_BYTES,
                   "join keeps every payload row")
        return self._probe_record("join", variant, r, call, action, bank_bytes)

    def _probe_record(self, op, variant, r, call, action, bank_bytes):
        members = int(r["members"])
        self.check(int(r["member_hits"]) == members,
                   f"{op}: no false negatives ({members - r['member_hits']} missed)")
        return self.record(
            op=op, variant=variant, rows=int(r["rows"]), members=members,
            nonmembers=int(r["rows"]) - members, fp=int(r["fp"]),
            hits=int(r["member_hits"]) + int(r["fp"]), bank_bytes=bank_bytes,
            wall_s=call.wall + action.wall, cpu_s=call.cpu() + action.cpu(),
            call_s=call.wall, action_s=action.wall, spans=[call.idx, action.idx],
        )

    # -- persistence ------------------------------------------------------
    def _persist_paths(self) -> tuple[str, str]:
        return (os.path.join(self.work, "bank.parquet"),
                os.path.join(self.work, "bank.tl2"))

    def persist_round_trip(self, bank) -> tuple[dict, dict]:
        """Parquet and ^TL2 round trips; returns the record and the shards
        read back, for ``check_round_trip``."""
        pq, tl2 = self._persist_paths()
        shutil.rmtree(tl2, ignore_errors=True)
        with self.tr.span("persist.parquet_write") as pw:
            B.write_bank(bank, pq)
        with self.tr.span("persist.parquet_read") as pr:
            got_pq = B.read_bank(self.spark, pq).select("shard", "fingerprints").collect()
        with self.tr.span("persist.tl2_write") as tw:
            files = B.write_bank_tl2(bank, tl2)
        with self.tr.span("persist.tl2_read") as tr_:
            got_tl2 = B.read_bank_tl2(self.spark, tl2).select("shard", "fingerprints").collect()
        rec = self.record(
            op="persist", files=files,
            parquet_write_s=pw.wall, parquet_read_s=pr.wall,
            tl2_write_s=tw.wall, tl2_read_s=tr_.wall,
            wall_s=pw.wall + pr.wall + tw.wall + tr_.wall,
        )
        return rec, {"parquet": got_pq, "tl2": got_tl2}

    def check_round_trip(self, rec: dict, got: dict, rows) -> None:
        """Both round trips byte-identical per shard to the bank's ``rows``;
        fills in the record's fingerprint and disk bytes."""
        want = {int(r["shard"]): bytes(r["fingerprints"]) for r in rows}
        for fmt, back in got.items():
            same = {int(r["shard"]): bytes(r["fingerprints"]) for r in back} == want
            self.check(same, f"{fmt} round trip is byte-identical per shard")
        rec.update(fp_bytes=sum(len(v) for v in want.values()),
                   disk_bytes=sum(dir_bytes(p) for p in self._persist_paths()))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total


def setup_reps(tr, body):
    """Run ``body(previous)`` ``SETUP_REPS`` times in ``bench.setup`` spans;
    each rep releases the previous rep's state and redoes the work.  The
    first rep runs on a cold JVM; the median is a warm one."""
    state = None
    for rep in range(SETUP_REPS):
        with tr.span("bench.setup", rep=rep):
            state = body(state)
    return state


def run_rounds(ops: Ops, seconds: float, body, after=None) -> int:
    """One warm-up round in a ``session.warmup`` span, checked but not
    recorded: it starts the Python workers and compiles the JVM code paths
    the rounds take, so the first timed round runs like the rest.  Then a
    closed loop: ``body()`` in a ``bench.round`` span, then the benchmark's
    checks ``after()`` outside it, until the next round, at the median pace
    so far, would end after ``seconds``."""
    tr = ops.tr
    ops.recording = False
    with tr.span("session.warmup"):
        body()
        if after is not None:
            after()
    ops.recording = True
    t0 = time.perf_counter()
    paces: list[float] = []
    while True:
        start = time.perf_counter()
        with tr.span("bench.round", round=len(paces) + 1):
            body()
        if after is not None:
            after()
        paces.append(time.perf_counter() - start)
        if time.perf_counter() - t0 + statistics.median(paces) > seconds:
            return len(paces)


def _unpersist(*dfs) -> None:
    for df in dfs:
        if df is not None:
            df.unpersist()


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def workload_build(spark, ops: Ops, seed: int, seconds: float) -> dict:
    """Per round: auto-sharded xor8 and fuse8 builds over the same keys,
    parquet and ^TL2 round trips of the xor8 bank, and a member sample
    plus non-members probed against both banks.  The banks are collected
    and checked after the round."""
    tr = ops.tr

    def setup(prev):
        _unpersist(*(prev or ()))
        with tr.span("input.keys"):
            keys = build_input(spark, BUILD_KEYS, BUILD_DUPLICATES, seed).cache()
            keys.count()
        with tr.span("input.sample"):
            sample = probe_table(spark, BUILD_SAMPLE, BUILD_KEYS, BUILD_NONMEMBERS,
                                 NON_MEMBER_BASE, seed).cache()
            sample.count()
        return keys, sample

    keys, sample = setup_reps(tr, setup)
    state = {}

    def body():
        built = {v: ops.build(keys, v, BUILD_KEYS, BUILD_SHARD_TARGET[v])
                 for v in ("xor8", "fuse8")}
        persisted = ops.persist_round_trip(built["xor8"][0])
        probes = {v: ops.contains(sample, bank, v, None)  # bytes set in after()
                  for v, (bank, _) in built.items()}
        state.update(built=built, persisted=persisted, probes=probes)

    def after():
        for variant, (bank, rec) in state["built"].items():
            rows = ops.check_build(bank, rec)
            state["probes"][variant]["bank_bytes"] = rec["fp_bytes"]
            if variant == "xor8":
                ops.check_round_trip(*state["persisted"], rows)
            ops.check_size(bank, f"{variant} bank")
            bank.unpersist()

    rounds = run_rounds(ops, seconds, body, after)
    ops.check_fpp("xor8")
    ops.check_fpp("fuse8")
    _unpersist(keys, sample)
    return {"rounds": rounds}


def workload_probe(spark, ops: Ops, seed: int, seconds: float) -> dict:
    """A fixed xor8 bank built in set-up through the streaming path
    (``append_digest_log`` into an empty log, ``rebuild_dirty_shards`` of
    every shard, ``read_bank``), cached; per round, ``contains`` over fresh
    narrow tables and ``contains_join`` over a fresh table with a 400-byte
    payload, half members each; after the loop, one held-out non-member
    probe."""
    tr = ops.tr
    log = os.path.join(ops.work, "digest_log")
    bank_path = os.path.join(ops.work, "bank")

    def setup(prev):
        _unpersist(*(prev or (None, None))[:2])
        for p in (log, bank_path):
            shutil.rmtree(p, ignore_errors=True)
        with tr.span("input.keys"):
            keys = keys_df(spark, 0, PROBE_BANK_KEYS, seed).cache()
            keys.count()
        bank, rec = ops.incremental_build(keys, PROBE_BANK_KEYS, log, bank_path,
                                          PROBE_SHARDS)
        ops.check_build(bank, rec)
        ops.check_size(bank, "probe bank")
        return keys, bank, rec

    half = PROBE_ROWS // 2
    tables = iter(range(1, 1 << 20))  # each table gets fresh non-members

    def fresh(payload=False):
        t = next(tables)
        return probe_table(spark, half, PROBE_BANK_KEYS, half,
                           NON_MEMBER_BASE + t * PROBE_ROWS, seed,
                           offset=t * half, payload=payload)

    keys, bank, rec = setup_reps(tr, setup)

    def body():
        for _ in range(PROBE_CONTAINS_PER_ROUND):
            ops.contains(fresh(), bank, "xor8", rec["fp_bytes"])
        for _ in range(PROBE_JOINS_PER_ROUND):
            ops.contains_join(fresh(payload=True), bank, "xor8", rec["fp_bytes"])

    rounds = run_rounds(ops, seconds, body)
    held_out = probe_table(spark, 0, PROBE_BANK_KEYS, PROBE_HELD_OUT,
                           NON_MEMBER_BASE - PROBE_HELD_OUT, seed)
    ops.contains(held_out, bank, "xor8", rec["fp_bytes"], tag="held_out")
    ops.check_fpp("xor8")
    _unpersist(keys, bank)
    return {"rounds": rounds}


WORKLOADS = {
    "build": workload_build,
    "probe": workload_probe,
}


# ---------------------------------------------------------------------------
# kernels, single core (traced runs only)
# ---------------------------------------------------------------------------

KERNEL_XOR8_SHARD = 65_536   # the xor8 auto-sharding target
KERNEL_FUSE8_KEYS = 262_144


def _digests(spark, lo: int, n: int, seed: int):
    import numpy as np

    t = keys_df(spark, lo, lo + n, seed).select(F.xxhash64("key").alias("d")).toArrow()
    return t.column("d").to_numpy().astype(np.uint64)


def kernel_rates(spark, ops: Ops, seed: int) -> dict:
    """``process_time`` around the public kernel builders and lookups on
    digests of this workload's keys (members) and non-members."""
    import numpy as np

    from xorfilter_spark.kernels.fuse import build_fuse, lookup_fuse
    from xorfilter_spark.kernels.xor8 import build_xor8, lookup_xor8

    members = _digests(spark, 0, KERNEL_FUSE8_KEYS, seed)
    others = _digests(spark, NON_MEMBER_BASE, KERNEL_FUSE8_KEYS, seed)
    cpu = {"xor8_build": 0.0, "xor8_lookup": 0.0, "fuse8_build": 0.0, "fuse8_lookup": 0.0}
    keys = dict.fromkeys(cpu, 0)
    retries = 0
    for lo in range(0, KERNEL_FUSE8_KEYS, KERNEL_XOR8_SHARD):
        shard = members[lo : lo + KERNEL_XOR8_SHARD]
        probes = np.concatenate([shard, others[lo : lo + KERNEL_XOR8_SHARD]])
        t = time.process_time()
        f = build_xor8(shard)
        cpu["xor8_build"] += time.process_time() - t
        keys["xor8_build"] += shard.size
        retries += f["retries"]
        t = time.process_time()
        hit = lookup_xor8(probes, f["seed"], f["block_length"], f["fingerprints"])
        cpu["xor8_lookup"] += time.process_time() - t
        keys["xor8_lookup"] += probes.size
        ops.check(bool(hit[: shard.size].all()), "lookup_xor8 finds every member")
    t = time.process_time()
    f = build_fuse(members)
    cpu["fuse8_build"] += time.process_time() - t
    keys["fuse8_build"] += members.size
    probes = np.concatenate([members, others])
    t = time.process_time()
    hit = lookup_fuse(probes, f["seed"], f["segment_length"], f["segment_count"],
                      f["fingerprints"])
    cpu["fuse8_lookup"] += time.process_time() - t
    keys["fuse8_lookup"] += probes.size
    ops.check(bool(hit[: members.size].all()), "lookup_fuse finds every member")
    out = {f"{k}_keys_per_cpu_s": keys[k] / cpu[k] for k in cpu}
    out["xor8_retries"] = retries
    return out
