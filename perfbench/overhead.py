"""Tracing overhead: run one workload untraced and traced on the same seeds,
alternating, and print each end-to-end metric's median both ways.

    python3 perfbench/overhead.py --workload chart_read --seeds 1,2,3 --seconds 15

The traced value of a metric is its ``traced.<metric>`` entry; the overhead
is (traced median - untraced median) / untraced median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", seconds, "--trace", str(trace)],
        capture_output=True, text=True, cwd=os.path.dirname(HERE), check=True,
    )
    return json.loads(p.stdout.strip().splitlines()[-1])["metrics"]


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", default="15")
    args = ap.parse_args(argv)
    sys.path.insert(0, os.path.dirname(HERE))
    from perfbench.metrics import E2E

    plain: dict[str, list[float]] = {k: [] for k in E2E}
    traced: dict[str, list[float]] = {k: [] for k in E2E}
    for i, seed in enumerate(int(s) for s in args.seeds.split(",")):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            m = run_once(args.workload, seed, args.seconds, trace)
            for k in E2E:
                if trace:
                    traced[k].append(m[f"traced.{k}"]["value"])
                else:
                    plain[k].append(m[k]["value"])
    for k, unit in E2E.items():
        a, b = statistics.median(plain[k]), statistics.median(traced[k])
        print(f"{args.workload} {k}: untraced {a:.4g} {unit}, traced {b:.4g} {unit}, "
              f"overhead {100 * (b - a) / a:+.1f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
