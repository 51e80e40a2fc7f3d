"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --runs 10 --seed 100 [--workload NAME]

Runs ``run.py`` once per seed (``seed .. seed+runs-1``) on each workload,
untraced, and prints for every end-to-end metric its median and the
distance between its first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound.  A
spread below a third of the bound is marked ``ok``.  The values are saved
to ``.perfbench/spread-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main(argv: list[str]) -> int:
    spec = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=100)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args(argv)
    names = args.workload or [w["name"] for w in spec["workloads"]]
    values: dict = {}
    for wl in names:
        for seed in range(args.seed, args.seed + args.runs):
            t0 = time.monotonic()
            out = subprocess.run(
                [*spec["command"], "--workload", wl, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True, timeout=200)
            res = json.loads(out.stdout.strip().splitlines()[-1])
            print(f"{wl} seed {seed}: {time.monotonic() - t0:.1f} s, "
                  f"correct={res['correct']} failed={res['failed']}",
                  flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(wl, {}).setdefault(k, []).append(v["value"])
    for wl, metrics in values.items():
        print(f"\n{wl}")
        for m in spec["end_to_end"]:
            xs = metrics.get(m["name"], [])
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            share = (q3 - q1) / med
            ok = "ok" if share < m["bound"] / 3 else "WIDE"
            print(f"  {m['name']:22} median {med:12.4f} spread {share:7.4f}"
                  f"  bound {m['bound']:.2f}  {ok}")
    os.makedirs(".perfbench", exist_ok=True)
    with open(f".perfbench/spread-{int(time.time())}.json", "w") as f:
        json.dump(values, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
