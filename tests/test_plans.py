"""Physical-plan shape assertions — the 100-TB properties the BENCH/PLANS.md
audit claims, locked in as regression tests:

- the bank build is ONE shuffle, its peel reads one packed row per shard,
  and its parquet scan reads only the key
- the broadcast probe is a pure narrow map (zero shuffles)
- the matmul ANN scorer shuffles only the per-batch top-k survivors
- signature computation is shuffle-free once the input is spread
"""

import re

import pytest
from pyspark.sql import functions as F

from xorfilter_spark import bank as B
from xorfilter_spark.operators import dedup as DD
from xorfilter_spark.operators import similarity as SIM


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _n_exchanges(df) -> int:
    # count shuffle exchanges; broadcast exchanges counted separately
    return len(re.findall(r"Exchange (?:hash|round|range|Single)", _plan(df)))


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def test_build_plan_one_shuffle_and_pruned_scan(spark, lineitem):
    plan = B.build_bank(lineitem, "l_orderkey", num_shards=8, dedup="kernel")
    assert _n_exchanges(plan) == 1, _plan(plan)
    # the peel reads one packed row per shard: MapInPandas sits directly
    # on the shard aggregate, which the shard shuffle already satisfies
    lines = _plan(plan).splitlines()
    i = next(i for i, ln in enumerate(lines) if "MapInPandas" in ln)
    assert "ObjectHashAggregate" in lines[i + 1], _plan(plan)
    assert "collect_list(__digest" in lines[i + 1], _plan(plan)
    # column pruning: the scan must read ONLY the key column
    m = re.search(r"ReadSchema: struct<([^>]*)>", _plan(plan))
    assert m and m.group(1).split(":")[0] == "l_orderkey", _plan(plan)


def test_build_plan_pre_dedup_two_shuffles(spark, lineitem):
    plan = B.build_bank(lineitem, "l_orderkey", num_shards=8, dedup="pre")
    assert _n_exchanges(plan) == 2, _plan(plan)  # dropDuplicates + shard


def test_probe_plan_zero_shuffles(spark, lineitem):
    bank = B.build_bank(lineitem, "l_orderkey", num_shards=4)
    probed = B.contains(lineitem.select("l_orderkey"), "l_orderkey", bank)
    assert _n_exchanges(probed) == 0, _plan(probed)
    assert "ArrowEvalPython" in _plan(probed)


def test_anti_and_semi_join_plans_zero_shuffles(spark, lineitem):
    # the frontier faces (approx_semi_join / approx_anti_join) are
    # contains + a filter: still a pure narrow map — no shuffle appears
    # at any probe-table width or size
    bank = B.build_bank(lineitem, "l_orderkey", num_shards=4)
    probes = lineitem.select("l_orderkey")
    for face in (B.approx_semi_join, B.approx_anti_join):
        out = face(probes, "l_orderkey", bank)
        assert _n_exchanges(out) == 0, _plan(out)
        assert "__c" not in out.columns  # probe flag column dropped


def test_probe_ships_only_digest(spark, lineitem):
    # VERDICT r2 item 1: the probe must transfer ONLY the 8-byte digest to
    # Python — a wide probe table's other columns stay JVM-side.  The
    # ArrowEvalPython node's input expression must reference the key column
    # alone, never the payload columns.
    bank = B.build_bank(lineitem, "l_orderkey", num_shards=4)
    probed = B.contains(lineitem, "l_orderkey", bank)
    plan = _plan(probed)
    arrow_lines = [l for l in plan.splitlines() if "ArrowEvalPython" in l]
    assert arrow_lines, plan
    for l in arrow_lines:
        assert "l_comment" not in l and "l_shipdate" not in l, l
    assert "MapInPandas" not in plan, plan


def test_contains_join_digest_hit_table_is_digest_only(spark, lineitem):
    """The digest-path cogroup must emit ONLY the 8-byte digests that hit
    — no payload columns and not even the hit bool cross Arrow; the bool
    is attached JVM-side and reaches the rows via null→False left join.
    The join-back carries no hint, so AQE picks the physical join from the
    hit table's runtime size (a forced driver-side broadcast build measured
    4.5x slower at 10M probes)."""
    bank = B.build_bank(lineitem, "l_partkey", num_shards=4)
    probes = lineitem.select(
        "l_partkey", F.repeat(F.lit("x"), 200).alias("payload")
    )
    au = B.contains_join(probes, "l_partkey", bank, "hit", payload="digest")
    # the operator's OUTPUT list is the last bracket on its plan line
    line = next(
        ln for ln in _plan(au).splitlines() if "FlatMapCoGroupsInPandas" in ln
    )
    out_cols = re.findall(r"\[([^\[\]]*)\]", line)[-1]
    assert re.fullmatch(r"__digest#\d+L", out_cols.strip()), line
    assert "payload" not in out_cols, line
    assert "AdaptiveSparkPlan" in _plan(au), _plan(au)


def test_cosine_topk_plan_single_topk_shuffle(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    res = SIM.cosine_topk(emb, emb.where(F.col("vec_id") < 3), k=5)
    # corpus streams through the scorer narrow map; the only shuffle is the
    # tiny global top-k window over per-batch survivors
    assert _n_exchanges(res) == 1, _plan(res)
    assert "MapInPandas" in _plan(res)
    assert "Window" in _plan(res)


def test_signature_plan_shuffle_free_when_spread(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(8)
    sig = DD.minhash_signatures(docs, "doc_id", "text", n_hashes=16)
    # input already spread -> shingle+hash+run-reduce is a pure narrow map
    # (the one visible exchange belongs to the test's own repartition)
    assert _n_exchanges(sig) <= 1, _plan(sig)
    assert "MapInPandas" in _plan(sig)


def test_ngram_bucket_filter_is_broadcast(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    pairs = DD.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    assert "BroadcastHashJoin" in _plan(pairs) or "BroadcastExchange" in _plan(pairs)
    assert "CartesianProduct" not in _plan(pairs)
    assert "BroadcastNestedLoopJoin" not in _plan(pairs)


def test_stateful_hll_plan_group_digest_only(spark, sf_dir, tmp_path):
    """The stateful streaming HLL must ship only (group, 8-byte digest)
    into the state operator — never the full event row — and the logical
    plan must contain the with-state node (not a plain aggregate)."""
    from xorfilter_spark.streaming.stateful import stateful_hll_by_group

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / "plan_src")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = stateful_hll_by_group(stream, "event_type", "user_id", p=8)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    lines = analyzed.splitlines()
    op_idx = next(
        (i for i, ln in enumerate(lines) if "FlatMapGroupsInPandasWithState" in ln),
        None,
    )
    assert op_idx is not None, analyzed
    # the state operator's DIRECT child must project exactly (group,
    # digest): payload columns must never reach the Python state worker.
    # Assert on that child line explicitly — a plan-wide regex without
    # DOTALL only scanned the operator's own line (ADVICE r3).
    child = lines[op_idx + 1]
    assert "Project" in child and "__digest" in child, analyzed
    for payload in ("event_id#", "ts#", "value#", "props#", "user_id#"):
        assert payload not in child, f"payload {payload} leaks into state op:\n{analyzed}"
