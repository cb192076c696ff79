"""Run sets of benchmark runs and summarize their spread.

    python3 perfbench/report.py --seeds 1-10 --out perfbench/baseline/set_a.json
    python3 perfbench/report.py --seeds 1 --trace 1 \\
        --untraced perfbench/baseline/set_a.json \\
        --out perfbench/baseline/traced.json

Each run is ``perfbench/run.py`` in a child process, for every workload
and with the seconds in ``BENCHMARK.json``.  For every workload and
end-to-end metric the summary gives the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread, (Q3 - Q1) /
median, next to the metric's bound.  A traced set also keeps each run's
layer table and, given an untraced set, the tracing overhead: traced
end-to-end value / untraced median - 1.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])
    name = f"{workload}-seed{seed}-trace{trace}.json"
    with open(os.path.join(ROOT, ".perfbench-run", "results", name)) as f:
        full = json.load(f)
    return {"seed": seed, "process_wall_s": wall, "result": result,
            "detail": detail, "layer_table": full.get("layer_table"),
            "layer_table_rounds": full.get("layer_table_rounds"),
            "end_to_end": full["end_to_end"], "setup_rep_s": full["setup_rep_s"],
            "round_s": full["round_s"], "records": full["records"]}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--untraced", help="untraced set to compare a traced set with")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    base = None
    if args.untraced:
        with open(args.untraced) as f:
            base = json.load(f)["workloads"]

    out = {"seconds": bench["run_seconds"], "trace": args.trace, "workloads": {}}
    for w in (wl["name"] for wl in bench["workloads"]):
        runs = []
        for s in seeds(args.seeds):
            r = run_one(w, s, bench["run_seconds"], args.trace)
            print(f"{w} seed {s}: {r['process_wall_s']:.1f} s, "
                  f"correct={r['result']['correct']}", file=sys.stderr)
            runs.append(r)
        summary = {}
        for name in bounds:
            vals = [r["end_to_end"][name] for r in runs]
            summary[name] = {**spread(vals), "bound": bounds[name]}
            if base is not None:
                ref = base[w]["summary"][name]["median"]
                summary[name]["tracing_overhead"] = (
                    statistics.median(vals) / ref - 1 if ref else 0.0)
        out["workloads"][w] = {
            "summary": summary,
            "process_wall_s": spread([r["process_wall_s"] for r in runs]),
            "runs": runs,
        }
        for name, s in summary.items():
            flag = "" if s["spread"] <= s["bound"] / 3 else "  <-- above bound/3"
            print(f"{w:7s} {name:24s} median {s['median']:.6g}  "
                  f"spread {s['spread']:.3f} (bound {s['bound']}){flag}",
                  file=sys.stderr)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
