"""Fit build_sec = a + b/cores over the scaling pool's per-config bests.

Reproduces the BASELINE.md Amdahl analysis from the raw samples so the
numbers are checkable: `a` is the fixed serial driver work (planning, the
build+count actions, task coordination), `b` the parallel build itself.
The pool (BENCH/scaling_samples.jsonl) is frozen round-5 data; the filters
are the ones the recorded fit used: build-path version 2 (task count
decoupled from shard count) and a recorded window health of at least 60.

Usage: python tools/amdahl_fit.py [n_keys=60000000]
Writes BENCH/amdahl_fit.json and prints it.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
POOL = os.path.join(REPO, "BENCH", "scaling_samples.jsonl")
OUT = os.path.join(REPO, "BENCH", "amdahl_fit.json")
BPV = 2
FLOOR = 60.0


def main() -> None:
    n_keys = int(sys.argv[1]) if len(sys.argv) > 1 else 60_000_000
    best: dict[int, dict] = {}
    with open(POOL) as f:
        for line in f:
            try:
                r = json.loads(line)
            except Exception:
                continue
            if (
                r.get("n_keys") != n_keys
                or r.get("bpv") != BPV
                or r.get("health_before", 0.0) < FLOOR
            ):
                continue
            c = r["cores"]
            if c not in best or r["build_sec"] < best[c]["build_sec"]:
                best[c] = r
    if len(best) < 2:
        raise SystemExit(f"need >=2 core configs in the pool, got {sorted(best)}")

    # least squares of T on x = 1/cores
    pts = sorted((c, best[c]["build_sec"]) for c in best)
    xs = [1.0 / c for c, _ in pts]
    ts = [t for _, t in pts]
    n = len(pts)
    mx, mt = sum(xs) / n, sum(ts) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    sxt = sum((x - mx) * (t - mt) for x, t in zip(xs, ts))
    b = sxt / sxx
    a = mt - b * mx
    fitted = {c: round(a + b / c, 2) for c, _ in pts}
    ss_res = sum((t - (a + b / c)) ** 2 for c, t in pts)
    ss_tot = sum((t - mt) ** 2 for t in ts)

    def eff_1to4(bb: float) -> float:
        return round((a + bb) / (4 * a + bb), 3)

    out = {
        "n_keys": n_keys,
        "build_path_version": BPV,
        "pool_floor": FLOOR,
        "bests": {
            str(c): {
                "build_sec": best[c]["build_sec"],
                "health_before": best[c].get("health_before"),
                "rev": best[c].get("rev"),
            }
            for c in sorted(best)
        },
        "serial_sec_a": round(a, 2),
        "parallel_sec_b": round(b, 2),
        "fitted_build_sec": {str(c): fitted[c] for c in sorted(fitted)},
        "r_squared": round(1 - ss_res / ss_tot, 5) if ss_tot else None,
        "model_eff_1to4_at_n": eff_1to4(b),
        # b scales linearly with keys; the serial term does not, so the
        # identical job's efficiency is a function of job size
        "model_eff_1to4_at_2n": eff_1to4(2 * b),
        "model_eff_1to4_at_4n": eff_1to4(4 * b),
    }
    with open(OUT, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
