"""Distributed bank tests: build/probe round-trip on real parquet inputs,
merge associativity, persistence, resume, shard-join probe path, and the
exact-oracle relationships (semi-join superset / anti-join subset)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from xorfilter_spark import bank as xb


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.mark.parametrize(
    "variant", ["xor8", "xor16", "fuse8", "fuse16", "fuse8x4", "fuse16x4"]
)
def test_build_probe_zero_false_negatives(spark, lineitem, variant):
    b = xb.build_bank(lineitem, "l_orderkey", variant=variant, num_shards=4)
    rows = b.collect()
    assert {r["shard"] for r in rows} <= set(range(4))
    assert xb.bank_len(b) == lineitem.select("l_orderkey").distinct().count()

    probed = xb.contains(lineitem.select("l_orderkey").distinct(), "l_orderkey", b)
    n = probed.count()
    n_pos = probed.where("contains").count()
    assert n_pos == n, "false negatives are forbidden"


def test_fpp_bound_on_held_out(spark, lineitem):
    b = xb.build_bank(lineitem, "l_orderkey", variant="xor8", num_shards=4)
    member_max = lineitem.agg(F.max("l_orderkey")).collect()[0][0]
    probes = spark.range(member_max + 1, member_max + 200_001).withColumnRenamed("id", "l_orderkey")
    fp = xb.contains(probes, "l_orderkey", b).where("contains").count()
    assert fp / 200_000 < 0.006  # xor8 bound 0.4% + slack


def test_string_keys_documents(spark, documents):
    b = xb.build_bank(documents, "text", variant="fuse16", num_shards=2)
    probed = xb.contains(documents, "text", b)
    assert probed.where(~F.col("contains")).count() == 0
    # near-miss negatives: truncate each text by one char (distinct keys)
    trunc = documents.select(F.expr("substring(text, 1, length(text)-1)").alias("text"))
    fp = xb.contains(trunc, "text", b).where("contains").count()
    assert fp <= max(2, 0.001 * trunc.count())  # fuse16 fpp ~0.002%


@pytest.mark.parametrize("payload", ["rows", "digest", "auto"])
@pytest.mark.parametrize("variant", ["xor8", "xor16"])
def test_contains_join_matches_broadcast(spark, lineitem, payload, variant):
    b = xb.build_bank(lineitem, "l_partkey", variant=variant, num_shards=4)
    keys = lineitem.select("l_partkey").distinct()
    a = xb.contains(keys, "l_partkey", b).orderBy("l_partkey").collect()
    c = (
        xb.contains_join(keys, "l_partkey", b, payload=payload)
        .orderBy("l_partkey")
        .collect()
    )
    assert a == c


def test_contains_join_digest_wide_payload_and_duplicates(spark, lineitem):
    """The payload='digest' join-back must preserve row cardinality and
    payload values even with duplicate keys and a wide non-key column, and
    'auto' must pick it for a wide table (its plan has a join, not a
    full-row cogroup)."""
    b = xb.build_bank(lineitem, "l_partkey", variant="xor8", num_shards=4)
    probes = lineitem.select(
        "l_partkey", F.repeat(F.lit("x"), 200).alias("payload")
    ).limit(2000)
    n = probes.count()
    got = xb.contains_join(probes, "l_partkey", b, "hit", payload="digest")
    assert got.count() == n
    assert got.where(~F.col("hit")).count() == 0  # all members
    assert set(got.columns) == {"l_partkey", "payload", "hit"}
    auto_plan = xb.contains_join(
        probes, "l_partkey", b, "hit", payload="auto"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" in auto_plan  # auto chose the digest/join-back shape
    # the forced join-back modes must produce identical results to the
    # default AQE-decided join-back
    for mode in ("broadcast", "shuffle"):
        forced = xb.contains_join(
            probes, "l_partkey", b, "hit", payload="digest", join_back=mode
        )
        assert forced.count() == n
        assert forced.where(~F.col("hit")).count() == 0


@pytest.mark.parametrize("payload", ["rows", "digest"])
def test_contains_join_empty_bank(spark, payload):
    """A bank built from no keys has no rows to read its shard count from:
    contains_join must answer all-False, as contains does, not fail."""
    b = xb.build_bank(spark.range(0).select(F.col("id").alias("key")), "key")
    assert b.count() == 0
    probes = spark.range(100).select(
        F.col("id").alias("key"), F.lit("x").alias("payload")
    )
    got = xb.contains_join(probes, "key", b, "hit", payload=payload)
    want = xb.contains(probes, "key", b, "hit")
    assert got.columns == want.columns
    assert got.orderBy("key").collect() == want.orderBy("key").collect()
    assert got.where("hit").count() == 0


def test_merge_associativity(spark, lineitem):
    full = xb.build_bank(lineitem, "l_orderkey", variant="xor8", num_shards=8)
    parts = [full.where(F.col("shard") == s) for s in range(8)]
    m1 = xb.merge_banks(parts[0], xb.merge_banks(*parts[1:]))
    m2 = xb.merge_banks(xb.merge_banks(*parts[:4]), xb.merge_banks(*parts[4:]))
    cols = ["shard", "seed", "num_keys", "block_length", "fingerprints"]
    r1 = sorted([tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r) for r in m1.select(cols).collect()])
    r2 = sorted([tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r) for r in m2.select(cols).collect()])
    rf = sorted([tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r) for r in full.select(cols).collect()])
    assert r1 == r2 == rf


def test_merge_rejects_overlap(spark, lineitem):
    b = xb.build_bank(lineitem, "l_orderkey", num_shards=2)
    with pytest.raises(ValueError, match="overlap"):
        xb.merge_banks(b, b).collect()


def test_partition_layout_independence(spark, lineitem):
    """Same bank rows regardless of input partitioning (order independence)."""
    cols = ["shard", "seed", "num_keys", "fingerprints"]

    def snap(df):
        b = xb.build_bank(df, "l_orderkey", num_shards=4)
        return sorted(
            (r["shard"], r["seed"], r["num_keys"], bytes(r["fingerprints"]))
            for r in b.select(cols).collect()
        )

    assert snap(lineitem) == snap(lineitem.repartition(13)) == snap(lineitem.orderBy(F.desc("l_orderkey")))


def test_build_tasks_decoupled_from_shards(spark, lineitem):
    """num_shards >> task count: one task builds many shards sequentially
    (the kernel splits its partition by shard id), so the bank content
    must be identical across input layouts and the build must run in
    _build_tasks(...) partitions, not one per shard (at 60M keys / 1024
    L2-sized shards, per-shard tasks paid +56% wall at 2 cores)."""
    tasks = xb._build_tasks(spark, 256)
    assert tasks < 256  # decoupling active at this session's parallelism

    def snap(df):
        b = xb.build_bank(df, "l_orderkey", num_shards=256)
        assert b.rdd.getNumPartitions() == tasks
        return sorted(
            (r["shard"], r["seed"], r["num_keys"], bytes(r["fingerprints"]))
            for r in b.collect()
        )

    rows = snap(lineitem)
    assert rows == snap(lineitem.repartition(13))
    assert len({r[0] for r in rows}) > tasks  # many shards actually built


def test_build_tasks_conf_override(spark):
    """spark.xorfilter.build.tasks overrides the defaultParallelism
    heuristic (ADVICE r4: on a dynamic-allocation cluster few executors
    may be registered at plan-build time, so the heuristic would cap the
    build at its 64-task floor regardless of eventual cluster width).
    Still never exceeds num_shards — tasks beyond that would be empty."""
    default = xb._build_tasks(spark, 4096)
    spark.conf.set("spark.xorfilter.build.tasks", "512")
    try:
        assert xb._build_tasks(spark, 4096) == 512
        assert xb._build_tasks(spark, 256) == 256  # capped by shard count
    finally:
        spark.conf.unset("spark.xorfilter.build.tasks")
    assert xb._build_tasks(spark, 4096) == default


def test_dedup_modes_agree(spark, lineitem):
    a = xb.build_bank(lineitem, "l_orderkey", num_shards=4, dedup="pre")
    c = xb.build_bank(lineitem, "l_orderkey", num_shards=4, dedup="kernel")
    key = lambda r: (r["shard"], r["seed"], r["num_keys"], bytes(r["fingerprints"]))
    assert sorted(map(key, a.collect())) == sorted(map(key, c.collect()))


def test_persistence_roundtrip_and_resume(spark, lineitem, tmp_path):
    path = str(tmp_path / "bank")
    b = xb.build_bank(lineitem, "l_orderkey", num_shards=4)
    xb.write_bank(b, path)
    r = xb.read_bank(spark, path)
    key = lambda rows: sorted((x["shard"], x["seed"], bytes(x["fingerprints"])) for x in rows)
    assert key(b.collect()) == key(r.collect())

    # simulate a killed job: drop two shards from the checkpoint, resume
    partial = r.where(F.col("shard").isin(0, 1))
    path2 = str(tmp_path / "bank2")
    xb.write_bank(partial, path2)
    resumed = xb.resume_build(spark, lineitem, "l_orderkey", path2, num_shards=4)
    assert key(resumed.collect()) == key(b.collect())


def test_approx_semi_anti_join_oracle(spark, lineitem):
    """Exact-join relationships: semi ⊇ exact semi, anti ⊆ exact anti,
    and (semi ∪ anti) = all rows."""
    member = lineitem.where("l_orderkey % 3 = 0")
    b = xb.build_bank(member, "l_orderkey", num_shards=4)
    probes = lineitem.select("l_orderkey").distinct()
    semi = xb.approx_semi_join(probes, "l_orderkey", b)
    anti = xb.approx_anti_join(probes, "l_orderkey", b)
    exact_members = probes.where("l_orderkey % 3 = 0")
    # zero false negatives: every exact member is in the approx semi join
    assert exact_members.join(semi, "l_orderkey", "left_anti").count() == 0
    # anti never contains a true member
    assert anti.join(exact_members, "l_orderkey", "semi").count() == 0
    assert semi.count() + anti.count() == probes.count()


def test_auto_shards(spark, lineitem):
    b = xb.build_bank(lineitem, "l_orderkey", num_shards="auto", target_keys_per_shard=500)
    ns = b.select("num_shards").first()["num_shards"]
    assert ns >= 2  # sf0.001 has 1500 distinct orderkeys
    assert xb.bank_len(b) == lineitem.select("l_orderkey").distinct().count()


def test_duplicate_flood_skew(spark):
    """Re-crawl flood: 50k rows over only 200 distinct keys (250x dup ratio).
    All three dedup modes must absorb the skew and produce byte-identical
    banks (the north rule's skewed-url mitigation: map-side partial
    aggregation for 'pre', per-shard np.unique for 'kernel', literal salted
    repartition + local distinct for 'salted')."""
    from pyspark.sql import functions as F

    from xorfilter_spark import bank as B

    flood = spark.range(50_000).select(
        (F.col("id") % 200).cast("string").alias("url")
    )
    bank_pre = B.build_bank(flood, "url", num_shards=8, dedup="pre")
    bank_kernel = B.build_bank(flood, "url", num_shards=8, dedup="kernel")
    bank_salt = B.build_bank(
        flood, "url", num_shards=8, dedup="salted", salt_partitions=4
    )
    rows_pre = {r["shard"]: r for r in bank_pre.collect()}
    rows_k = {r["shard"]: r for r in bank_kernel.collect()}
    rows_s = {r["shard"]: r for r in bank_salt.collect()}
    assert set(rows_pre) == set(rows_k) == set(rows_s)
    for s in rows_pre:
        for other in (rows_k, rows_s):
            assert rows_pre[s]["seed"] == other[s]["seed"]
            assert rows_pre[s]["num_keys"] == other[s]["num_keys"]
            assert bytes(rows_pre[s]["fingerprints"]) == bytes(other[s]["fingerprints"])
    assert B.bank_len(bank_kernel) == 200
    assert B.bank_len(bank_salt) == 200
    # and the dup-inflated row count is visible in lineage for 'kernel'
    total_rows = sum(r["num_rows"] for r in rows_k.values())
    assert total_rows == 50_000


def test_resume_kernel_dedup(spark, lineitem, tmp_path):
    """Resume on the unified one-Arrow-crossing path with dedup='kernel'
    produces the same bank as a fresh build."""
    full = xb.build_bank(lineitem, "l_orderkey", num_shards=4, dedup="kernel")
    key = lambda rows: sorted(
        (x["shard"], x["seed"], x["num_keys"], bytes(x["fingerprints"]))
        for x in rows
    )
    path = str(tmp_path / "bank_kernel")
    partial = full.where(F.col("shard") == 2)
    xb.write_bank(partial, path)
    resumed = xb.resume_build(
        spark, lineitem, "l_orderkey", path, num_shards=4, dedup="kernel"
    )
    assert key(resumed.collect()) == key(full.collect())


def test_composite_key_bank(spark, lineitem):
    """Multi-column keys: (l_orderkey, l_linenumber) is the lineitem PK —
    zero false negatives on the pairs, and near-miss pairs stay out."""
    key = ["l_orderkey", "l_linenumber"]
    b = xb.build_bank(lineitem, key, num_shards="auto", target_keys_per_shard=2000)
    assert xb.bank_len(b) == lineitem.select(*key).distinct().count()
    probed = xb.contains(lineitem.select(*key), key, b)
    assert probed.where(~F.col("contains")).count() == 0
    # shifted linenumbers are (mostly) absent pairs
    miss = lineitem.select(
        "l_orderkey", (F.col("l_linenumber") + 100).alias("l_linenumber")
    )
    fp = xb.contains(miss, key, b).where("contains").count()
    assert fp <= max(3, 0.01 * miss.count())
    # null in ANY component -> never indexed
    with_null = spark.createDataFrame(
        [(1, None), (None, 2), (3, 4)], "l_orderkey long, l_linenumber long"
    )
    b2 = xb.build_bank(with_null, key, num_shards=2)
    assert xb.bank_len(b2) == 1
