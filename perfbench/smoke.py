#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on tiny inputs.

    python3 perfbench/smoke.py

For every workload in BENCHMARK.json it runs one untraced and one traced
run at --scale tiny and checks the result line: the exact keys, the
checks passing, every declared metric present with its unit. It then
checks that the benchmark refuses to run (non-zero exit, no result line)
in a directory holding only BENCHMARK.json and the benchmark's files.
Exits non-zero on the first failure.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()


def fail(msg):
    print(f"smoke: FAIL: {msg}")
    sys.exit(1)


def result_line(stdout):
    lines = stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines else None


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run(spec["command"] + [
                "--workload", w, "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--scale", "tiny"],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                timeout=900)
            if p.returncode != 0:
                fail(f"{w} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
            res = result_line(p.stdout)
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                fail(f"{w} trace={trace}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                fail(f"{w} trace={trace}: checks failed: {res}\n{p.stderr[-3000:]}")
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                fail(f"{w} trace={trace}: metrics differ from {group}: "
                     f"{sorted(set(got) ^ set(want))}")
            if trace == 0 and any(v["value"] <= 0 for v in res["metrics"].values()):
                fail(f"{w}: an end-to-end metric is not positive: {res['metrics']}")
            print(f"smoke: {w} trace={trace} ok")

    bare = os.path.join(ROOT, ".bench_work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    for d in spec["paths"]:
        shutil.copytree(d, os.path.join(bare, d))
    try:
        p = subprocess.run(spec["command"] + [
            "--workload", spec["workloads"][0]["name"], "--seed", "1",
            "--seconds", "1", "--trace", "0"], cwd=bare,
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        fail(f"bare directory: exit {p.returncode}, stdout {p.stdout[-500:]!r}")
    print("smoke: bare directory refused ok")


if __name__ == "__main__":
    main()
