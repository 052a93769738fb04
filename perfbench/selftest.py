#!/usr/bin/env python3
"""Self-test of the benchmark, from the checkout root:

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced at the tiny input
scale and asserts that the result line names every metric BENCHMARK.json
declares, each with its declared unit and a finite value, and that no
operation failed. Then checks that the benchmark refuses to run, without
printing a result, in a directory that holds only BENCHMARK.json and the
benchmark's own files.
"""
import json
import math
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(cwd, *args):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          timeout=900)


def result(p, what):
    assert p.returncode == 0, f"{what}: exit {p.returncode}"
    res = json.loads(p.stdout.decode().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, what
    assert res["attempted"] >= 1 and res["failed"] == 0 and res["correct"], \
        f"{what}: failed_frac {res['failed']}/{res['attempted']}"
    return res["metrics"]


def expect(metrics, declared, what):
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    assert not missing, f"{what}: missing {missing}"
    for m in declared:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"], f"{what}: {m['name']} unit {got['unit']}"
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"]), \
            f"{what}: {m['name']} = {got['value']}"
    extra = set(metrics) - {m["name"] for m in declared}
    assert not extra, f"{what}: undeclared {sorted(extra)}"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        name = w["name"]
        m = result(run(ROOT, "--workload", name, "--seed", "1", "--seconds", "1",
                       "--trace", "0", "--scale", "tiny"), f"{name} untraced")
        expect(m, spec["end_to_end"], f"{name} untraced")
        print(f"ok  {name}: {len(m)} end-to-end metrics, failed_frac 0", flush=True)
    name = spec["workloads"][0]["name"]
    m = result(run(ROOT, "--workload", name, "--seed", "1", "--seconds", "3",
                   "--trace", "1", "--scale", "tiny"), "traced")
    expect(m, spec["per_layer"], "traced")
    print(f"ok  traced: {len(m)} per-layer metrics, failed_frac 0", flush=True)

    bare = os.path.join(BENCH, "out", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("out", "target", "project"))
    shutil.copytree(os.path.join(BENCH, "project"), os.path.join(bare, "perfbench", "project"),
                    ignore=shutil.ignore_patterns("target", "project"))
    p = run(bare, "--workload", name, "--seed", "1", "--seconds", "1", "--trace", "0")
    shutil.rmtree(bare)
    assert p.returncode != 0 and not p.stdout.strip(), "bare directory: ran anyway"
    print("ok  refuses to run without the program's sources", flush=True)


if __name__ == "__main__":
    main()
