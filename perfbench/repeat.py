"""Repeatability: run each workload N times, one seed per run, and print
each end-to-end metric's median, quartiles and spread (IQR / median).

    python3 perfbench/repeat.py --runs 10 [--workloads codec_kernel,spark_mix]
        [--first-seed 1]

Run from the root of a checkout. The runs are sequential; each is a
fresh untraced ``perfbench/run.py`` process of ``run_seconds`` from
``BENCHMARK.json``, as the benchmark is meant to be run. A metric whose
spread is above a third of its bound is marked (``setup_s`` excepted:
its spread is not gated, only its median).
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


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        shares, wall = set(), []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            a = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True,
            )
            wall.append(time.time() - a)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                ok = False
                continue
            res = json.loads(lines[-1])
            if not res["correct"]:
                ok = False
                print(f"{wl} seed {seed}: correct=false")
            shares.add((res["failed"], res["attempted"]))
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        fails = sorted({f"{f}/{a}" for f, a in shares})
        print(f"\n{wl}: {len(wall)} runs, wall median {statistics.median(wall):.1f} s, "
              f"max {max(wall):.1f} s, failed/attempted {fails}")
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else 0.0
            b = bounds.get(k)
            flag = "" if b is None or k == "setup_s" or spread <= b / 3 else "  <-- above bound/3"
            print(f"  {k:40s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {spread:6.3f}" + (f"  bound {b}" if b is not None else "") + flag)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
