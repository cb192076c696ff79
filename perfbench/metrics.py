"""End-to-end and per-layer metrics from one run's spans and op records.

Timings are medians over the run's own samples; ``samples`` gives each
metric's sample count.  Per-layer figures are means per call of that
layer (0 when the workload makes no such call), except where a name says
otherwise.
"""

from __future__ import annotations

import statistics

from spans import Tracer

def _median(xs: list) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs: list) -> float:
    return float(sum(xs) / len(xs)) if xs else 0.0


def _ops(records: list[dict], *names: str, variant: str | None = None) -> list[dict]:
    return [r for r in records if r["op"] in names
            and (variant is None or r.get("variant") == variant)]


def end_to_end(tr: Tracer, records: list[dict], rss_mb: float) -> tuple[dict, dict]:
    """(metric -> value, metric -> sample count)."""
    start = tr.named("session.start")[0].wall
    warm = tr.named("session.warmup")[0].wall
    setups = [s.wall for s in tr.named("bench.setup")]
    rounds = tr.named("bench.round")

    # xor8 builds: build_bank calls (build), or the set-up's rebuilds of
    # every shard from the digest log (probe)
    builds = [(r["keys"], r["wall_s"], r["cpu_s"], r["fp_bytes"])
              for r in _ops(records, "build", variant="xor8")]
    builds += [(r["keys"], r["rebuild_s"], r["rebuild_cpu_s"], r["fp_bytes"])
               for r in _ops(records, "update")]
    probes = _ops(records, "contains")
    membership = [r for r in records if "fp" in r]
    values = {
        "setup_s": start + warm + _median(setups),
        "round_p50_s": _median([s.wall for s in rounds]),
        "round_cpu_s": _median([s.cpu() for s in rounds]),
        "xor8_build_keys_per_s": _median([k / w for k, w, _, _ in builds]),
        "build_cpu_us_per_key": _median([c / k * 1e6 for k, _, c, _ in builds]),
        "xor8_bits_per_key": _median([8 * b / k for k, _, _, b in builds]),
        "probe_keys_per_s": _median([r["rows"] / r["wall_s"] for r in probes]),
        "probe_cpu_us_per_key": _median([r["cpu_s"] / r["rows"] * 1e6 for r in probes]),
        "fpp": (sum(r["fp"] for r in membership)
                / max(1, sum(r["nonmembers"] for r in membership))),
        "driver_rss_mb": rss_mb,
    }
    samples = {
        "setup_s": len(setups), "round_p50_s": len(rounds),
        "round_cpu_s": len(rounds), "xor8_build_keys_per_s": len(builds),
        "build_cpu_us_per_key": len(builds), "xor8_bits_per_key": len(builds),
        "probe_keys_per_s": len(probes), "probe_cpu_us_per_key": len(probes),
        "fpp": sum(r["nonmembers"] for r in membership), "driver_rss_mb": 1,
    }
    return values, samples


def _span_sum(tr: Tracer, idxs: list[int], key: str) -> float:
    return sum(tr.spans[i].spark.get(key, 0.0) for i in idxs)


def _cpu_sum(tr: Tracer, idxs: list[int], key: str) -> float:
    return sum(tr.spans[i].cpu(key) for i in idxs)


def _layer_calls(tr: Tracer, recs: list[dict], prefix: str, spark_keys, cpu_keys) -> dict:
    out = {}
    for key in spark_keys:
        out[f"{prefix}.{key}"] = _mean([_span_sum(tr, r["spans"], key) for r in recs])
    for key in cpu_keys:
        out[f"{prefix}.{key}"] = _mean([_cpu_sum(tr, r["spans"], key) for r in recs])
    out[f"{prefix}.call_s"] = _mean([tr.spans[r["spans"][0]].wall for r in recs])
    out[f"{prefix}.action_s"] = _mean([tr.spans[r["spans"][1]].wall for r in recs])
    return out


def per_layer(tr: Tracer, records: list[dict], table: dict, kernels: dict,
              steal: float, attempted: int, failed: int) -> dict:
    m: dict[str, float] = {}
    inputs = {}
    for s in tr.named("bench.setup"):
        inputs[s.idx] = 0.0
    for s in tr.spans:
        if s.layer == "input" and s.parent in inputs:
            inputs[s.parent] += s.wall
    m["session.start_s"] = tr.named("session.start")[0].wall
    m["session.warmup_s"] = tr.named("session.warmup")[0].wall
    m["session.input_s"] = _median(list(inputs.values()))

    builds = _ops(records, "build")
    m.update(_layer_calls(
        tr, builds, "build",
        ("shuffle_write_bytes", "py_bytes_in", "py_bytes_out", "py_run_s",
         "py_init_s", "tasks"),
        ("cpu_s", "jvm_cpu_s", "py_cpu_s"),
    ))
    m["build.duplicates"] = _mean([r["duplicates"] for r in builds])
    m["build.peel_retries"] = _mean([r["retries"] for r in builds])
    m["build.kernel_ms"] = _mean([r["kernel_ms"] for r in builds])
    py_run = sum(_span_sum(tr, r["spans"], "py_run_s") for r in builds)
    m["build.kernel_share"] = (sum(r["kernel_ms"] for r in builds) / 1e3 / py_run
                               if py_run else 0.0)
    fuse = _ops(records, "build", variant="fuse8")
    m["build.fuse8_keys_per_s"] = _median([r["keys"] / r["wall_s"] for r in fuse])
    m["build.fuse8_bits_per_key"] = _median([8 * r["fp_bytes"] / r["keys"] for r in fuse])

    for k in ("xor8_build_keys_per_cpu_s", "fuse8_build_keys_per_cpu_s",
              "xor8_lookup_keys_per_cpu_s", "fuse8_lookup_keys_per_cpu_s",
              "xor8_retries"):
        m[f"kernel.{k}"] = float(kernels.get(k, 0.0))

    probes = _ops(records, "contains", "held_out")
    m.update(_layer_calls(
        tr, probes, "contains",
        ("py_bytes_in", "py_bytes_out", "py_run_s", "py_init_s", "tasks"),
        ("cpu_s", "jvm_cpu_s", "py_cpu_s"),
    ))
    m["contains.bank_bytes"] = _mean(
        [r["bank_bytes"] for r in probes if r["bank_bytes"] is not None])

    joins = _ops(records, "join")
    m.update(_layer_calls(
        tr, joins, "join",
        ("shuffle_write_bytes", "shuffle_read_bytes", "py_bytes_in",
         "py_bytes_out", "py_run_s"),
        ("cpu_s", "py_cpu_s"),
    ))
    m["join.hit_rows"] = _mean([r["hits"] for r in joins])
    m["join.keys_per_s"] = _median([r["rows"] / r["wall_s"] for r in joins])
    m["join.cpu_us_per_key"] = _median([r["cpu_s"] / r["rows"] * 1e6 for r in joins])

    persists = _ops(records, "persist")
    for k in ("parquet_write_s", "parquet_read_s", "tl2_write_s", "tl2_read_s",
              "disk_bytes", "files"):
        m[f"persist.{k}"] = _mean([r[k] for r in persists])
    m["persist.disk_bytes_per_fp_byte"] = _mean(
        [r["disk_bytes"] / r["fp_bytes"] for r in persists])
    # each round trip writes and reads the fingerprints in two formats
    m["persist.mb_per_s"] = _median(
        [4 * r["fp_bytes"] / r["wall_s"] / 1e6 for r in persists])

    updates = _ops(records, "update")
    for k, src in (("append_log_s", "append_s"), ("rebuild_s", "rebuild_s"),
                   ("read_bank_s", "read_s"), ("dirty_shards", "dirty_shards"),
                   ("log_bytes", "log_bytes")):
        m[f"update.{k}"] = _mean([r[src] for r in updates])

    m["host.steal_share"] = steal
    m["table.attributed_share"] = table["coverage"]
    m["trace.tag_share"] = tr.overhead_s / table["wall_s"]
    m["checks.failed_op_ratio"] = failed / attempted if attempted else 0.0
    return m

