"""A/B of two revisions on one wirebench workload, in alternating fresh
processes.

Usage:  python tools/ab_bench.py REV_A REV_B --workload W [--pairs N]
                                 [--seconds S] [--seed0 K]

Both revisions are checked out as detached ``git worktree``s under /tmp
(removed at exit).  Pair i runs ``wirebench/run.py --workload W --seed
K+i --seconds S`` once in each worktree, A first on even pairs and B first
on odd ones, each run a fresh process, so host drift hits both sides
alike.  The report gives, per end-to-end metric of BENCHMARK.json, A's
median and quartiles, B's median and its change, the pairs B wins, and
whether the change stays within the metric's bound; then the failed
statement counts.  The last line is the same report as JSON.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(tree: str, workload: str, seed: int, seconds: float) -> dict:
    proc = subprocess.run(
        [sys.executable, "wirebench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=tree, capture_output=True, text=True)
    if proc.returncode:
        raise SystemExit(f"run in {tree} (seed {seed}) failed:\n"
                         f"{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _report(runs: dict[str, list[dict]], spec: list[dict]) -> dict:
    out = {}
    for m in spec:
        name, sign = m["name"], 1 if m["better"] == "lower" else -1
        a = [r["metrics"][name]["value"] for r in runs["A"]]
        b = [r["metrics"][name]["value"] for r in runs["B"]]
        q1, _, q3 = statistics.quantiles(a, n=4, method="inclusive")
        ma, mb = statistics.median(a), statistics.median(b)
        change = (mb - ma) / ma if ma else 0.0
        out[name] = {
            "a_median": ma, "a_quartiles": [q1, q3], "b_median": mb,
            "change": change,
            "b_wins": sum(sign * (y - x) < 0 for x, y in zip(a, b)),
            "within_bound": sign * change <= m["bound"],
        }
    for side in ("A", "B"):
        out[f"failed_{side}"] = [sum(r["failed"] for r in runs[side]),
                                 sum(r["attempted"] for r in runs[side])]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["end_to_end"]

    tmp = tempfile.mkdtemp(prefix="ab_bench-", dir="/tmp")
    trees: dict[str, str] = {}
    runs: dict[str, list[dict]] = {"A": [], "B": []}
    try:
        for side, rev in (("A", args.rev_a), ("B", args.rev_b)):
            path = os.path.join(tmp, side)
            subprocess.run(["git", "-C", REPO, "worktree", "add", "--detach",
                            path, rev], check=True, capture_output=True)
            trees[side] = path
        for i in range(args.pairs):
            for side in ("AB" if i % 2 == 0 else "BA"):
                r = _run(trees[side], args.workload, args.seed0 + i,
                         args.seconds)
                runs[side].append(r)
                vals = " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.4g}"
                                for m in spec)
                print(f"pair {i} {side}: {vals} failed={r['failed']}",
                      file=sys.stderr, flush=True)
    finally:
        for path in trees.values():
            subprocess.run(["git", "-C", REPO, "worktree", "remove",
                            "--force", path], capture_output=True)
        subprocess.run(["git", "-C", REPO, "worktree", "prune"],
                       capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)

    report = _report(runs, spec)
    print(f"{args.workload}: A={args.rev_a} B={args.rev_b}, "
          f"{args.pairs} pairs")
    for m in spec:
        r = report[m["name"]]
        print(f"  {m['name']}: A {r['a_median']:.4g} "
              f"[{r['a_quartiles'][0]:.4g}, {r['a_quartiles'][1]:.4g}] "
              f"-> B {r['b_median']:.4g} ({r['change']:+.1%}), "
              f"B better in {r['b_wins']}/{args.pairs}"
              f"{'' if r['within_bound'] else ', OUTSIDE BOUND'}")
    print(f"  failed: A {report['failed_A'][0]}/{report['failed_A'][1]}, "
          f"B {report['failed_B'][0]}/{report['failed_B'][1]}")
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
