"""Run one benchmark workload against the xorfilter_spark library.

    python3 perfbench/run.py --workload build --seed 1 --seconds 25 --trace 0

Starts Spark on ``local[4]`` in this process, generates the workload's
inputs from the seed, runs its set-up and its timed loop, checks every
answer, and prints one JSON object as the last line of standard output:
``correct``, ``attempted``, ``failed`` (correctness checks) and
``metrics``, the end-to-end metrics with ``--trace 0`` or the per-layer
metrics with ``--trace 1``.  Exits non-zero when a check fails.

Everything the run writes stays under ``.perfbench-run/`` in the
checkout: Spark's local and temporary directories, the banks it persists,
and ``results/<workload>-seed<seed>-trace<t>.json`` (samples, spans and,
for traced runs, the layer table).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench-run")
MASTER = "local[4]"


def spark_session(work: str):
    from pyspark.sql import SparkSession

    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return (
        SparkSession.builder.master(MASTER)
        .appName("xorfilter-spark-perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(b")") + 2 :].split()[0] != b"Z"


def stop_spark(spark, tree) -> None:
    """Stop Spark, end the JVM, and wait until every process it started
    (the JVM, the Python worker daemon and its workers) has ended."""
    started = tree.pids()
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in started:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in started):
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "probe"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the library comes from this checkout, for the driver and its workers
    sys.path.insert(0, ROOT)
    import xorfilter_spark  # noqa: F401  (fails here, before Spark starts)

    from meters import ProcTree, cpu_ticks, steal_share
    from metrics import end_to_end, per_layer
    from spans import Tracer, format_table
    from workloads import WORKLOADS, Ops, kernel_rates

    work = os.path.join(RUN_DIR, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the launcher's too: temp files here, no /tmp/hsperfdata.
    # C1 only: with C2 the JVM was still compiling after five timed rounds
    # (a build's process-tree CPU fell by 40-45% from the first round to
    # the fifth), so a run's figures depended on how many rounds it fitted;
    # C1 settles within the warm-up round.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -XX:TieredStopAtLevel=1 "
        f"-Djava.io.tmpdir={os.environ['TMPDIR']}")

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tree = ProcTree(os.getpid())
    tr = Tracer(run_id, tree, traced=bool(args.trace))
    ticks0 = cpu_ticks()
    spark = None
    try:
        with tr.span("bench.run", workload=args.workload, seed=args.seed) as root:
            with tr.span("session.start"):
                spark = spark_session(work)
                spark.sparkContext.setLogLevel("ERROR")
            tree.jvm_pid = spark.sparkContext._gateway.proc.pid
            tr.spark = spark
            ops = Ops(spark, tr, work)
            info = WORKLOADS[args.workload](spark, ops, args.seed, args.seconds)
        steal = steal_share(ticks0, cpu_ticks())
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        e2e, samples = end_to_end(tr, ops.records, rss_mb)
        out = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "master": MASTER, "rounds": info["rounds"],
            "host_steal_share": steal, "end_to_end": e2e, "samples": samples,
            "setup_rep_s": [s.wall for s in tr.named("bench.setup")],
            "round_s": [s.wall for s in tr.named("bench.round")],
            "records": ops.records,
        }
        if args.trace:
            t0 = time.perf_counter()
            kernels = kernel_rates(spark, ops, args.seed)
            tr.harvest_spark()
            table = tr.layer_table([root])
            out["harvest_s"] = time.perf_counter() - t0
            out["layer_table"] = table
            out["layer_table_rounds"] = tr.layer_table(tr.named("bench.round"))
            out["per_layer"] = per_layer(tr, ops.records, table, kernels, steal,
                                         ops.attempted, len(ops.failed))
            out["spans"] = [s.to_json(run_id) for s in tr.spans]
            print(f"whole run:\n{format_table(table)}\n"
                  f"rounds only:\n{format_table(out['layer_table_rounds'])}",
                  file=sys.stderr)
        out["attempted"], out["failed"] = ops.attempted, ops.failed
    finally:
        if spark is not None:
            stop_spark(spark, tree)
        shutil.rmtree(work, ignore_errors=True)

    results = os.path.join(RUN_DIR, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(out, f, indent=1)

    # names and units come from BENCHMARK.json; a metric it does not
    # declare, or one it declares that the run did not produce, is an error
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = out["per_layer"] if args.trace else e2e
    if set(values) != {m["name"] for m in declared}:
        raise SystemExit(f"metrics differ from BENCHMARK.json: {sorted(set(values))}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared}
    for what in ops.failed:
        print(f"check failed: {what}", file=sys.stderr)
    print(json.dumps({"samples": samples, "rounds": info["rounds"],
                      "host_steal_share": steal}))
    print(json.dumps({
        "correct": not ops.failed, "attempted": ops.attempted,
        "failed": len(ops.failed), "metrics": metrics,
    }))
    return 0 if not ops.failed else 1


if __name__ == "__main__":
    sys.exit(main())
