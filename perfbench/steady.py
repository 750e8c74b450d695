"""Steadiness check: run each workload N times with different seeds and
print, per end-to-end metric, the median, the quartiles and their spread
as a share of the median, against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workload NAME ...]

A spread above a third of its bound is flagged (setup_s is reported but
not flagged: its bound applies to the median only). The failed share must
be the same in every run.
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
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", nargs="*", choices=names, default=names)
    args = p.parse_args()

    steady = True
    for workload in args.workload:
        values: dict[str, list[float]] = {}
        shares = set()
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.perf_counter()
            out = subprocess.run(
                [*bench["command"], "--workload", workload, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            if out.returncode != 0:
                print(out.stderr[-3000:], file=sys.stderr)
                raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            shares.add((res["failed"], res["attempted"]))
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{workload} seed {seed}: {time.perf_counter() - t0:.1f} s wall, "
                  f"correct={res['correct']} failed={res['failed']}/{res['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        print(f"== {workload}: failed/attempted over runs: {sorted(shares)}")
        steady &= len({f / a for f, a in shares}) == 1
        for m in bench["end_to_end"]:
            v = values[m["name"]]
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med
            flag = m["name"] != "setup_s" and spread > m["bound"] / 3
            steady &= not flag
            print(f"   {m['name']:<14} median {med:.4g} {m['unit']}  q1 {q1:.4g}  q3 {q3:.4g}  "
                  f"spread {spread:.1%}  bound {m['bound']:.0%}" + ("  TOO WIDE" if flag else ""))
    print("steady" if steady else "NOT steady")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
