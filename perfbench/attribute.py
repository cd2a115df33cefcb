"""Attribution: each layer's total and self time per workload, from the
spans of traced runs, and the tracing overhead.

    python3 perfbench/run.py --workload spark_mix --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --workload spark_mix --seed 1 --seconds 25 --trace 1
    python3 perfbench/attribute.py

It reads the result and trace files that runs leave in
``.perfbench_runs/`` of the current directory.

Times are per warm pass (the cold passes are left out), averaged over
the traced runs found. Self time is a span's time minus its child
spans'. The overhead compares the traced runs' median warm pass with
the untraced runs' median warm pass of the same workload.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

from spans import self_times


RUNS = ".perfbench_runs"


def main() -> int:
    traces: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(RUNS, "trace_*.json"))):
        with open(path) as fh:
            d = json.load(fh)
        traces.setdefault(d["workload"], []).append(d)
    if not traces:
        print(f"no trace_*.json in {RUNS}; run perfbench/run.py with --trace 1 first")
        return 1
    for wl, runs in traces.items():
        total: dict[str, float] = {}
        own: dict[str, float] = {}
        n_warm = 0
        for d in runs:
            spans = d["spans"]
            selfs = self_times(spans)
            n_warm += d["passes"] - d["cold_passes"]
            for s in spans:
                if s["pass"] is None or s["pass"] < d["cold_passes"]:
                    continue
                total[s["name"]] = total.get(s["name"], 0.0) + s["end"] - s["start"]
                own[s["name"]] = own.get(s["name"], 0.0) + selfs[s["id"]]
        traced = statistics.median(t for d in runs for t in d["pass_times_s"][d["cold_passes"]:])
        untraced = []
        for path in glob.glob(os.path.join(RUNS, f"result_{wl}_s*_t0.json")):
            with open(path) as fh:
                d = json.load(fh)
            untraced += d["pass_times_s"][d["cold_passes"]:]
        print(f"\n{wl}: {len(runs)} traced run(s), {n_warm} warm passes, "
              f"traced pass {traced:.3f} s", end="")
        if untraced:
            base = statistics.median(untraced)
            print(f", untraced pass {base:.3f} s, tracing overhead {100 * (traced / base - 1):+.1f}%")
        else:
            print(" (no untraced result_*_t0.json for the overhead)")
        print(f"  {'layer span':48s} {'total s/pass':>12s} {'self s/pass':>12s}")
        for name in sorted(total, key=lambda k: -total[k]):
            print(f"  {name:48s} {total[name] / n_warm:12.4f} {own[name] / n_warm:12.4f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
