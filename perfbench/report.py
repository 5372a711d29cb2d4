"""Run every workload once and print all its end-to-end metrics.

    python3 perfbench/report.py [--seed 1] [--seconds 5]

Each workload runs as ``perfbench/run.py --trace 0`` in its own process;
the table has every end-to-end metric the run reports (the ones
BENCHMARK.json tracks and the workload-only ones), each with its unit,
and each workload's correctness counts.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args()
    with open(os.path.join(HERE, "spec.json"), encoding="utf-8") as f:
        workloads = list(json.load(f)["workloads"])
    status = 0
    for wl in workloads:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True,
        )
        lines = p.stdout.strip().splitlines()
        if p.returncode or len(lines) < 2:
            print(f"{wl}: run failed (exit {p.returncode})\n{p.stderr[-2000:]}")
            status = 1
            continue
        details, result = json.loads(lines[-2]), json.loads(lines[-1])
        print(f"{wl}: correct={result['correct']} attempted={result['attempted']} failed={result['failed']}")
        for name, m in details["end_to_end"].items():
            extra = f"  (p{m['percentile']} of {m['samples']} ops)" if "percentile" in m else ""
            print(f"  {name:14s} {m['value']:12.4f} {m['unit']}{extra}")
        status |= int(not result["correct"])
    return status


if __name__ == "__main__":
    sys.exit(main())
