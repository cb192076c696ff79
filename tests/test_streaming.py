"""Structured Streaming: real readStream -> watermarked window agg -> sink,
plus the incremental filter-bank maintenance loop driven through an actual
streaming query (foreachBatch), not direct function calls."""

import os
import time

import pytest
from pyspark.sql import functions as F

from xorfilter_spark import bank as B
from xorfilter_spark.streaming import incremental as INC


def _wait_for(cond, timeout=60):
    t0 = time.time()
    while time.time() - t0 < timeout:
        if cond():
            return True
        time.sleep(1)
    return False


def test_windowed_counts_streaming(spark, sf_dir, tmp_path):
    """events parquet replayed as a file stream -> event-time windowed
    counts with watermark -> memory sink; totals must match batch."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / "stream_src")
    events.write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    out = INC.streaming_sketch_counts(stream, window_dur="1 day", watermark="2 days")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        # append mode only emits windows the watermark has closed; the last
        # window(s) stay open, so compare against the closed subset
        got = {
            r["window_start"]: r["n_events"]
            for r in spark.sql("select * from win_counts").collect()
        }
        batch = {
            r["window_start"]: r["n_events"]
            for r in INC.streaming_sketch_counts(
                events, window_dur="1 day", watermark="2 days"
            ).collect()
        }
        assert got, "no closed windows emitted"
        for w, n in got.items():
            assert batch[w] == n
    finally:
        q.stop()


def test_incremental_bank_via_streaming_query(spark, sf_dir, tmp_path):
    """foreachBatch bank maintenance driven by an actual streaming query."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    urls = docs.select(
        F.concat(F.lit("u://"), F.col("source"), F.lit("/"), F.col("doc_id")).alias("url")
    )
    src = str(tmp_path / "url_src")
    urls.write.mode("overwrite").parquet(src)

    log = str(tmp_path / "digest_log")
    bankp = str(tmp_path / "bank")
    stream = (
        spark.readStream.schema(urls.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            INC.incremental_bank_sink(spark, "url", log, bankp, num_shards=8)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    bank = B.read_bank(spark, bankp)
    assert B.bank_len(bank) == urls.distinct().count()
    probed = B.contains(urls, "url", bank, "hit")
    assert probed.where(~F.col("hit")).count() == 0


def test_rebuild_all_shards_matches_build_bank(spark, tmp_path):
    """Rebuilding every one of 128 dirty shards runs in ``_build_tasks``
    tasks, not one per shard, and gives the same shard bytes as a full
    ``build_bank`` over the same keys."""
    keys = spark.range(0, 64_000, numPartitions=4).select(F.col("id").alias("key"))
    log = str(tmp_path / "all_log")
    bankp = str(tmp_path / "all_bank")
    dirty = INC.append_digest_log(keys, "key", log, 128)
    assert len(dirty) == 128
    INC.rebuild_dirty_shards(spark, log, bankp, dirty, num_shards=128)

    parts = [f for f in os.listdir(bankp) if f.startswith("part-")]
    assert len(parts) <= B._build_tasks(spark, 128) < 128

    def shard_bytes(bank):
        return [
            (r["shard"], r["seed"], bytes(r["fingerprints"]))
            for r in bank.select("shard", "seed", "fingerprints").orderBy("shard").collect()
        ]

    built = shard_bytes(B.build_bank(keys, "key", num_shards=128))
    assert len(built) == 128
    assert shard_bytes(B.read_bank(spark, bankp)) == built


def test_streaming_distinct(spark, sf_dir, tmp_path):
    """Stateful first-arrival dedup through a real stream: emitted rows are
    unique per key and cover every key."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / "dd_src")
    events.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    out = INC.streaming_distinct(stream, "user_id", watermark="365 days")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dd_out")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("select user_id from dd_out").collect()
    finally:
        q.stop()
    ids = [r["user_id"] for r in got]
    assert len(ids) == len(set(ids))  # no key emitted twice
    assert set(ids) == {
        r["user_id"] for r in events.select("user_id").distinct().collect()
    }
    # batch fallback agrees
    assert INC.streaming_distinct(events, "user_id").count() == len(set(ids))


def test_streaming_novel_keys(spark, sf_dir, tmp_path):
    """Two-tier frontier loop: bank anti-join + incremental rebuild via a
    real streaming query; re-sent urls never reach the output twice."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    urls = docs.select(
        F.concat(F.lit("n://"), F.col("source"), F.lit("/"), F.col("doc_id")).alias("url")
    )
    src = str(tmp_path / "nk_src")
    # write the same urls TWICE (two files) — the second file is a re-crawl
    urls.write.mode("overwrite").parquet(src)
    urls.write.mode("append").parquet(src)

    bankp = str(tmp_path / "nk_bank")
    log = str(tmp_path / "nk_log")
    outp = str(tmp_path / "nk_out")
    stream = (
        spark.readStream.schema(urls.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            INC.streaming_novel_keys(spark, "url", bankp, log, outp,
                                     num_shards=8)
        )
        .option("checkpointLocation", str(tmp_path / "nk_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(outp)
    n_distinct = urls.distinct().count()
    seen = [r["url"] for r in out.collect()]
    assert len(seen) == len(set(seen))  # a url is emitted at most once
    # every emission is a real url, and ~all urls made it through (an
    # approx anti-join may falsely drop <=FPP of genuinely-novel keys)
    assert set(seen) <= {r["url"] for r in urls.distinct().collect()}
    assert len(seen) >= 0.98 * n_distinct
    bank = B.read_bank(spark, bankp)
    assert B.bank_len(bank) == len(set(seen))


def test_stateful_hll_by_group_streaming(spark, sf_dir, tmp_path):
    """Custom user-state operator (applyInPandasWithState): per-group HLL
    registers live in the state store across micro-batches; after a
    multi-file replay the LAST update per group must equal the batch twin
    exactly (HLL register-max merge is batch-split invariant), and the
    `updates` lineage must show the state really crossed batches."""
    from xorfilter_spark.streaming.stateful import (
        hll_by_group_batch,
        stateful_hll_by_group,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / "hll_src")
    events.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = stateful_hll_by_group(stream, "event_type", "user_id", p=12)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("hll_state")
        .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.sql(
        "select event_type, approx_distinct, updates from ("
        "  select *, row_number() over "
        "    (partition by event_type order by updates desc) as rn"
        "  from hll_state) where rn = 1"
    ).collect()
    got = {r["event_type"]: r["approx_distinct"] for r in rows}
    max_updates = max(r["updates"] for r in rows)
    assert max_updates > 1, "state never crossed a micro-batch boundary"

    # read from the parquet replay (not the in-memory `events`) so both
    # faces digest the same physical rows
    batch = {
        r["event_type"]: r["approx_distinct"]
        for r in hll_by_group_batch(
            spark.read.parquet(src), "event_type", "user_id", p=12
        ).collect()
    }
    assert set(got) == set(batch)
    for k, v in got.items():
        assert v == pytest.approx(batch[k], rel=1e-12), k

    # sanity: estimates are near the exact per-group distincts
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, v in got.items():
        assert abs(v - exact[k]) <= 0.1 * exact[k] + 5, (k, v, exact[k])
