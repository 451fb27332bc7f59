"""Record the traced baseline: for each workload, one untraced and one
traced run on the same seed, written to perfbench/baseline/BASELINE.json
with the per-layer breakdown, the per-operation span check and the
tracing overhead (traced minus untraced end-to-end result).

    python3 perfbench/baseline.py [--seed 1] [--out perfbench/baseline/BASELINE.json]
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} trace={trace} failed ({p.returncode}):\n{p.stderr[-2000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(HERE, "baseline", "BASELINE.json"))
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = {"seed": args.seed, "run_seconds": spec["run_seconds"],
           "host": {"machine": platform.machine(), "nproc": len(os.sched_getaffinity(0))},
           "workloads": {}}
    for w in run.WORKLOAD_NAMES:
        plain_detail, plain = run_once(w, args.seed, spec["run_seconds"], 0)
        traced_detail, traced = run_once(w, args.seed, spec["run_seconds"], 1)
        tr = traced_detail["trace"]
        out["workloads"][w] = {
            "end_to_end": {k: v["value"] for k, v in plain["metrics"].items()},
            "workload_metrics": plain_detail["metrics"],
            "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
            "self_s_per_op": tr["self_s_per_op"],
            "ops": [{k: o[k] for k in ("op", "wall_s", "residual_s", "layers")}
                    for o in tr["ops"]],
            "tracing_overhead": {
                k: tr["traced_end_to_end"][k] - v["value"]
                for k, v in plain["metrics"].items()
            },
            "env": plain_detail["env"],
        }
        print(f"{w}: done", file=sys.stderr, flush=True)
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
