#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, from the checkout root:

    python3 perfbench/spread.py --workload chess_live --seeds 1-10 11-20

Runs the benchmark once per seed (untraced), for BENCHMARK.json's
`run_seconds` unless `--seconds` says otherwise. For each set of seeds it
prints, per metric, the median of the per-run values and the distance
between their first and third quartiles as a share of that median -- the
figure each metric's `bound` in BENCHMARK.json is compared against. With
two or more sets it also prints how far each later set's median is from
the first set's, as a share of the first (positive = worse).
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_set(workload, spec, seconds, bounds):
    values = {}
    for seed in seeds(spec):
        t0 = time.time()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}")
        res = json.loads(p.stdout.decode().splitlines()[-1])
        row = {k: v["value"] for k, v in res["metrics"].items()}
        print(f"seed {seed}: wall {time.time() - t0:.1f} s, failed {res['failed']}"
              f"/{res['attempted']}, " + ", ".join(f"{k}={v:.4g}" for k, v in row.items()),
              flush=True)
        for k, v in row.items():
            values.setdefault(k, []).append(v)
    medians = {}
    for k, vs in values.items():
        q1, _, q3 = statistics.quantiles(vs, n=4)
        medians[k] = statistics.median(vs)
        print(f"seeds {spec}: {k}: median {medians[k]:.4g}, "
              f"IQR/median {(q3 - q1) / medians[k]:.4f} (bound {bounds[k][0]})", flush=True)
    return medians


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", nargs="+", default=["1-10"])
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    a = ap.parse_args()
    bounds = {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}
    sets = [run_set(a.workload, s, a.seconds, bounds) for s in a.seeds]
    for s, later in zip(a.seeds[1:], sets[1:]):
        for k, first in sets[0].items():
            bound, better = bounds[k]
            worse = (later[k] - first) / first * (1 if better == "lower" else -1)
            print(f"seeds {s} vs {a.seeds[0]}: {k}: {worse:+.4f} worse (bound {bound})")


if __name__ == "__main__":
    main()
