"""Steadiness evidence: run one workload several times back to back, each run
a fresh process with its own seed, and print every metric's median, quartiles
and spread, (q3 - q1) / median, the figures the bounds in BENCHMARK.json rest
on.

    python3 perfbench/run.py --workload zipf --seed 1 --seconds 20 --repeat 10
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

from perfbench.stats import spread

RUN = Path(__file__).resolve().parent / "run.py"


def run_once(workload: str, seed: int, seconds: float, trace: int):
    t0 = time.perf_counter()
    res = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stderr[-4000:])
        raise SystemExit(f"run with seed {seed} exited {res.returncode}")
    return json.loads(lines[-1]), wall


def main(args) -> int:
    values: dict[str, list] = {}
    units: dict[str, str] = {}
    walls, failed = [], 0
    for i in range(args.repeat):
        out, wall = run_once(args.workload, args.seed + i, args.seconds,
                             args.trace)
        walls.append(wall)
        failed += out["failed"]
        for k, m in out["metrics"].items():
            values.setdefault(k, []).append(m["value"])
            units[k] = m["unit"]
        print(f"seed {args.seed + i}: {wall:.1f} s, failed {out['failed']}",
              file=sys.stderr)
    summary = {k: {**spread(v), "unit": units[k], "values": v}
               for k, v in values.items()}
    width = max(len(k) for k in summary)
    print(f"{'metric':{width}}  {'median':>14}  {'q1':>14}  {'q3':>14}  spread")
    for k, s in summary.items():
        print(f"{k:{width}}  {s['median']:14.6g}  {s['q1']:14.6g}  "
              f"{s['q3']:14.6g}  {s['spread']:.4f}  {s['unit']}")
    print(json.dumps({"workload": args.workload, "runs": args.repeat,
                      "wall_s": walls, "failed": failed,
                      "metrics": summary}))
    return 0 if failed == 0 else 1
