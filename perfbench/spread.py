#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end metric's
median and quartile spread (IQR / median) against its bound.

    python3 perfbench/spread.py --workload curate --seeds 1-10

Runs are sequential; each run's last output line is kept under
`.perfbench/spread/`. Exit status 1 if any run fails or is incorrect.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    args = p.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    out_dir = ROOT / ".perfbench" / "spread"
    out_dir.mkdir(parents=True, exist_ok=True)
    results, ok = [], True
    for seed in seeds(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        (out_dir / f"{args.workload}-s{seed}.json").write_text(last + "\n")
        try:
            res = json.loads(last)
        except json.JSONDecodeError:
            res = None
        good = proc.returncode == 0 and res is not None and res["correct"]
        ok &= good
        print(f"seed {seed}: exit {proc.returncode} wall {wall:.1f}s "
              f"{'ok' if good else 'FAILED'} {last[:200]}", flush=True)
        if res:
            results.append(res)
    if len(results) >= 2:
        print(f"{'metric':16s} {'median':>14s} {'spread':>8s} {'bound':>6s}")
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            s = spread(vals)
            flag = "" if s < m["bound"] / 3 else "  (above bound/3)"
            print(f"{m['name']:16s} {statistics.median(vals):14.4f} {s:8.4f} "
                  f"{m['bound']:6.2f}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
