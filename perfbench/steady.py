#!/usr/bin/env python3
"""Steadiness check: run one workload with several seeds and report, for each
end-to-end metric, the median and the interquartile spread as a share of the
median (`statistics.quantiles(values, n=4)`), next to the bound in
BENCHMARK.json. Also reports each run's elapsed time.

Usage (from the root of a checkout):
  python3 perfbench/steady.py --workload llm-ops --runs 10 [--first-seed 1]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    values, elapsed = {}, []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.time()
        out = subprocess.run(
            spec["command"] + ["--workload", a.workload, "--seed", str(seed),
                               "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, text=True, check=True).stdout
        elapsed.append(time.time() - t0)
        res = json.loads(out.strip().splitlines()[-1])
        if not res["correct"]:
            sys.exit(f"seed {seed}: incorrect result {res}")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {elapsed[-1]:.1f}s " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for line in out.strip().splitlines()[:-1]:
            print("    " + line)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    print(f"{a.workload}: elapsed per run median {statistics.median(elapsed):.1f}s, "
          f"max {max(elapsed):.1f}s")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        print(f"  {k:16s} median {med:12.4f}  spread {spread:6.3f}  bound {bounds[k]}"
              f"  {'ok' if spread < bounds[k] / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
