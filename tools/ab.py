#!/usr/bin/env python3
"""Alternating A/B of the end-to-end benchmark: a git ref against this checkout.

Usage (from anywhere inside the repository):

    python3 tools/ab.py --ref HEAD~1 --workload monthly_batch --pairs 10

Checks the ref out with `git worktree` under a temporary directory and
copies this checkout's perfbench/ over the ref's, so both sides run
identical benchmark code on their own engine sources. Each pair runs
`perfbench/run.py` (untraced, BENCHMARK.json's command and run length) on
both trees with the same seed, the ref first in odd pairs and this checkout
first in even pairs; pair i uses seed first-seed + i - 1.

Prints every pair, then each side's median and quartiles for every
end-to-end metric of BENCHMARK.json, then per metric:

- the gain verdict: the change wins at least 9 of 10 pairs run (ties count
  for neither side, a pair with a failed run is not a win) and the medians
  differ by more than the ref's interquartile range;
- the bound verdict: the change's median is not worse than the ref's by
  more than the metric's bound.

Runs that fail, exit non-zero or report correct=false are counted and
listed; their metrics are left out of the statistics. The worktree and its
build are removed at the end.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def git(root, *args):
    return subprocess.run(["git", "-C", root] + list(args), check=True,
                          stdout=subprocess.PIPE, text=True).stdout.strip()


def run_once(spec, tree, workload, seed, log):
    """One untraced benchmark run in `tree`; the parsed result line or None."""
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", "0"]
    with open(log, "w") as err:
        p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=err,
                           text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = None
    if p.returncode != 0 or res is None or not res.get("correct"):
        with open(log) as fh:
            tail = fh.read().strip().splitlines()[-5:]
        print(f"  run failed in {tree} (exit {p.returncode}):", *tail,
              sep="\n    ", flush=True)
        return None
    return res


def quartiles(values):
    if len(values) < 2:
        return values[0], statistics.median(values), values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def report(spec, pairs):
    metrics = spec["end_to_end"]
    ok = [(r, c) for r, c in pairs if r is not None and c is not None]
    print(f"\n{len(ok)} of {len(pairs)} pairs complete "
          f"(ref failed {sum(r is None for r, _ in pairs)}, "
          f"change failed {sum(c is None for _, c in pairs)})")
    if not ok:
        return
    print(f"\n{'metric':<14}{'side':<8}{'q1':>12}{'median':>12}{'q3':>12}")
    verdicts = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        ref = [r["metrics"][name]["value"] for r, _ in ok]
        chg = [c["metrics"][name]["value"] for _, c in ok]
        for side, vals in (("ref", ref), ("change", chg)):
            q1, med, q3 = quartiles(vals)
            print(f"{name:<14}{side:<8}{q1:>12.4g}{med:>12.4g}{q3:>12.4g}")
        wins = sum((c < r) if lower else (c > r) for r, c in zip(ref, chg))
        q1, ref_med, q3 = quartiles(ref)
        chg_med = statistics.median(chg)
        gap = (ref_med - chg_med) if lower else (chg_med - ref_med)
        gain = wins * 10 >= 9 * len(pairs) and gap > q3 - q1
        worse_by = -gap / ref_med if ref_med else 0.0
        verdicts.append(
            f"{name:<14} wins {wins}/{len(pairs)}, median {ref_med:.4g} -> "
            f"{chg_med:.4g} ({'worse' if worse_by > 0 else 'better'} by "
            f"{abs(worse_by):.1%}), ref IQR {q3 - q1:.4g}: "
            f"{'GAIN' if gain else 'no gain'}; "
            f"{'WORSE than' if worse_by > m['bound'] else 'within'} "
            f"bound {m['bound']}")
    print("\nverdict (gain: wins >= 9/10 and median gap > ref IQR)")
    print("\n".join(verdicts))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--ref", required=True, help="git ref to compare against")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, required=True)
    p.add_argument("--first-seed", type=int, default=1)
    a = p.parse_args()
    root = git(os.getcwd(), "rev-parse", "--show-toplevel")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"ab: unknown workload {a.workload}")
    sha = git(root, "rev-parse", "--verify", a.ref + "^{commit}")
    tmp = tempfile.mkdtemp(prefix="ab-")
    tree = os.path.join(tmp, "ref")
    git(root, "worktree", "add", "--detach", tree, sha)
    try:
        shutil.rmtree(os.path.join(tree, "perfbench"), ignore_errors=True)
        shutil.copytree(os.path.join(root, "perfbench"),
                        os.path.join(tree, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        print(f"ab: ref {a.ref} ({sha[:12]}) in {tree} vs {root}, "
              f"workload {a.workload}, {a.pairs} pairs", flush=True)
        pairs = []
        for i in range(1, a.pairs + 1):
            seed = a.first_seed + i - 1
            order = ["ref", "change"] if i % 2 else ["change", "ref"]
            res = {}
            for side in order:
                res[side] = run_once(
                    spec, tree if side == "ref" else root, a.workload, seed,
                    os.path.join(tmp, f"pair{i}-{side}.log"))
            pairs.append((res["ref"], res["change"]))
            shown = {m["name"]: [None if res[s] is None else
                                 round(res[s]["metrics"][m["name"]]["value"], 3)
                                 for s in ("ref", "change")]
                     for m in spec["end_to_end"]}
            print(f"pair {i} seed {seed} ({order[0]} first) ref,change: "
                  + json.dumps(shown), flush=True)
        report(spec, pairs)
    finally:
        subprocess.run(["git", "-C", root, "worktree", "remove", "--force",
                        tree])
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
