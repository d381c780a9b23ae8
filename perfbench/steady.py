#!/usr/bin/env python3
"""Steadiness check for the benchmark, the way its acceptance is judged.

Runs every workload of BENCHMARK.json once per seed (untraced), then for
each end-to-end metric reports the median, the quartiles from
statistics.quantiles(values, n=4) and the spread (q3 - q1) / median.
A metric other than setup_s is steady when its spread is within its
bound; the aim is a third of the bound.

    python3 perfbench/steady.py --runs 10 --first-seed 100 \\
        --out perfbench/steadiness/sitting1.json

Compare two sittings (the second median may not be worse than the first
by more than the bound, setup_s included):

    python3 perfbench/steady.py --compare A.json B.json
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def load_spec():
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def summarize(values, bound, name):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med if med else float("inf")
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": spread, "bound": bound,
            "within_bound": name == "setup_s" or spread <= bound,
            "within_third": name == "setup_s" or spread <= bound / 3}


def run(args):
    spec = load_spec()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"started": time.strftime("%Y-%m-%d %H:%M:%S UTC", time.gmtime()),
              "runs": args.runs, "first_seed": args.first_seed,
              "workloads": {}}
    for w in [x["name"] for x in spec["workloads"]]:
        per_metric = {m: [] for m in bounds}
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.time()
            p = subprocess.run(spec["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            secs = time.time() - t0
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            summary = [json.loads(x.split(" ", 2)[2]) for x in lines
                       if x.startswith("perfbench summary ")]
            runs.append({"seed": seed, "exit": p.returncode,
                         "run_s": round(secs, 1), "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"],
                         "summary": summary[0] if summary else None})
            for m in bounds:
                per_metric[m].append(res["metrics"][m]["value"])
            print(w, seed, f"{secs:.1f}s", res["correct"],
                  {m: round(v[-1], 3) for m, v in per_metric.items()},
                  flush=True)
        report["workloads"][w] = {
            "runs": runs,
            "metrics": {m: summarize(v, bounds[m], m)
                        for m, v in per_metric.items()}}
    report["finished"] = time.strftime("%Y-%m-%d %H:%M:%S UTC", time.gmtime())
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")
    show(report)


def show(report):
    for w, r in report["workloads"].items():
        print(f"\n{w}: {len(r['runs'])} runs, "
              f"{sum(x['failed'] for x in r['runs'])} failed")
        for m, s in r["metrics"].items():
            print(f"  {m:14s} median {s['median']:14.4f}  spread "
                  f"{s['spread']:.4f}  bound {s['bound']}  "
                  f"{'ok' if s['within_bound'] else 'WIDE'}"
                  f"{'' if s['within_third'] else ' (over a third)'}")


def compare(a_path, b_path):
    """Spreads of both sittings and the drift of the medians, judged by the
    bounds in the current BENCHMARK.json."""
    spec = load_spec()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    a, b = (json.load(open(p)) for p in (a_path, b_path))
    ok = True
    for w, ra in a["workloads"].items():
        for m, sa in ra["metrics"].items():
            sb = b["workloads"][w]["metrics"][m]
            spreads = [summarize(x["values"], bounds[m], m) for x in (sa, sb)]
            worse = (sb["median"] - sa["median"]) / sa["median"]
            if better[m] == "higher":
                worse = -worse
            good = worse <= bounds[m] and all(x["within_bound"] for x in spreads)
            ok &= good
            print(f"{w:15s} {m:13s} bound {bounds[m]:.2f}  spreads "
                  f"{spreads[0]['spread']:.4f} {spreads[1]['spread']:.4f}  "
                  f"median {sa['median']:.4g} -> {sb['median']:.4g} "
                  f"({worse:+.4f})  {'ok' if good else 'FAIL'}")
    return ok


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=100)
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    a = p.parse_args()
    if a.compare:
        sys.exit(0 if compare(*a.compare) else 1)
    if not a.out:
        p.error("--out is required unless --compare is given")
    run(a)


if __name__ == "__main__":
    main()
