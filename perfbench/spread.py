"""Run the benchmark once per seed and report, for each end-to-end
metric, the median and the quartile spread ((Q3 - Q1) / median) next
to the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload extract_mixed --seeds 1 2 3 4 5

Run from the repository root. Each run's result line is echoed as it
arrives, with the run's wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import median, quartile_spread  # noqa: E402


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    ok = True
    for seed in args.seeds:
        cmd = [
            *bench["command"], "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: exit {proc.returncode} wall {wall:.1f} s {json.dumps(result)}", flush=True)
        ok &= proc.returncode == 0 and result["correct"]
        for name, m in result["metrics"].items():
            values[name].append(m["value"])
    print(f"{'metric':16s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    for m in bench["end_to_end"]:
        vals = values[m["name"]]
        spread = quartile_spread(vals)
        flag = "" if spread < m["bound"] / 3 else "  above bound/3"
        print(f"{m['name']:16s} {median(vals):12.4f} {spread:8.4f} {m['bound']:6.2f}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
