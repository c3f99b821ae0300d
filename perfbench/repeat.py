"""Run one workload over several seeds and print each end-to-end metric's
median and quartile spread, (Q3 - Q1) / median — the figures a bound in
BENCHMARK.json is judged against.

    python3 perfbench/repeat.py --workload ivf_serve --seeds 1-10 --seconds 6
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
sys.path.insert(0, HERE)

from checks import quartile_spread  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="first-last")
    p.add_argument("--seconds", default="6")
    p.add_argument("--trace", default="0")
    args = p.parse_args()
    first, last = (int(x) for x in args.seeds.split("-"))

    runs, walls = [], []
    for seed in range(first, last + 1):
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=300,
        )
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        walls.append(time.perf_counter() - t0)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed} ({walls[-1]:.1f} s): " + json.dumps(result), flush=True)
        runs.append(result)

    print(f"{args.workload}: correct {sum(r['correct'] for r in runs)}/{len(runs)}, "
          f"failed {sum(r['failed'] for r in runs)}/{sum(r['attempted'] for r in runs)}, "
          f"run wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        spread = quartile_spread(values) if len(values) > 1 and statistics.median(values) else 0.0
        print(f"  {name:34s} median {statistics.median(values):14.4f}  spread {spread:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
