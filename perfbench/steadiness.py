"""Run one workload under several seeds and report each end-to-end
metric's median and quartile spread (Q3 - Q1 over the median, from
``statistics.quantiles(values, n=4)``) next to its bound.

    python3 perfbench/steadiness.py --workload student_page --seeds 1 2 3 4 5

Runs are sequential, from the checkout root, with BENCHMARK.json's
``run_seconds``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import iqr_share, median  # noqa: E402


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = [sys.executable, *spec["command"][1:], "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
               "--trace", "0"]
        t = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=600)
        wall = time.perf_counter() - t
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        try:
            out = json.loads(last)
        except json.JSONDecodeError:
            print(f"seed {seed}: exit {proc.returncode}, no result\n{proc.stderr[-2000:]}")
            return 1
        vals = {k: v["value"] for k, v in out["metrics"].items()}
        steal = next((float(line.split("=")[1]) for line in proc.stdout.splitlines()
                      if line.startswith("env cpu_steal_share")), float("nan"))
        print(f"seed {seed}: exit {proc.returncode} wall {wall:.1f}s "
              f"steal={steal:.3f} "
              f"correct={out['correct']} attempted={out['attempted']} "
              f"failed={out['failed']} "
              + " ".join(f"{k}={v:.4g}" for k, v in vals.items()), flush=True)
        for k, v in vals.items():
            values.setdefault(k, []).append(v)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for k, vs in values.items():
        spread = iqr_share(vs) if len(vs) >= 2 else float("nan")
        bound = bounds.get(k)
        print(f"{k:28} median {median(vs):10.4g}  spread {spread:6.3f}"
              + (f"  bound {bound}" if bound is not None else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
