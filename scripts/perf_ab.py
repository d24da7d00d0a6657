#!/usr/bin/env python3
"""Paired A/B of the repo benchmark: a parent revision against a change.

    python3 scripts/perf_ab.py PARENT_REV WORKLOAD SEED [SEED ...] [--out FILE]

Checks out PARENT_REV and the change (HEAD) as two detached git
worktrees in a temporary directory (under $TMPDIR), then runs
`perfbench/run.py` once per seed on each side for the run length
BENCHMARK.json sets, alternating which side runs first (the first seed
runs the parent first). Each side builds and caches its own inputs in
its own worktree, so the runs share nothing but the machine. Prints one
markdown row per pair with every end-to-end metric BENCHMARK.json
declares, then per metric: each side's median and quartiles, how many
pairs the change won (ties count for neither), and whether the median
gap exceeds the parent's interquartile range.
The raw result lines go to --out as JSON. Run it from the repository;
the worktrees are removed at the end.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile


def git(*args, cwd=None):
    return subprocess.run(["git", *args], cwd=cwd, check=True, text=True,
                          capture_output=True).stdout.strip()


def bench(tree, workload, seed, seconds):
    """The result line of one untraced run in `tree`, or None on failure."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, text=True, capture_output=True)
    for line in reversed(p.stdout.splitlines()):
        if line.startswith('{"correct"'):
            return json.loads(line)
    sys.stderr.write(p.stderr[-2000:])
    return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def fmt(x):
    return f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("workload")
    ap.add_argument("seeds", nargs="+", type=int)
    ap.add_argument("--out")
    a = ap.parse_args()

    repo = git("rev-parse", "--show-toplevel")
    revs = {"P": git("rev-parse", a.parent, cwd=repo), "C": git("rev-parse", "HEAD", cwd=repo)}
    work = tempfile.mkdtemp(prefix="perf_ab_")
    trees = {side: os.path.join(work, side) for side in revs}
    for side, rev in revs.items():
        git("worktree", "add", "--detach", trees[side], rev, cwd=repo)
    try:
        spec = json.load(open(os.path.join(trees["C"], "BENCHMARK.json")))
        seconds = spec["run_seconds"]
        metrics = [(m["name"], m["better"]) for m in spec["end_to_end"]]
        print(f"parent {revs['P'][:10]}, change {revs['C'][:10]}, {a.workload}, "
              f"--seconds {seconds}", flush=True)
        runs = []
        for i, seed in enumerate(a.seeds):
            order = ("P", "C") if i % 2 == 0 else ("C", "P")
            pair = {"seed": seed, "order": ",".join(order)}
            for side in order:
                pair[side] = bench(trees[side], a.workload, seed, seconds)
            runs.append(pair)
            print(f"seed {seed} ({pair['order']}): " + ", ".join(
                f"{side} " + ("failed" if pair[side] is None else
                              f"correct={pair[side]['correct']} "
                              f"unit_s={fmt(pair[side]['metrics']['unit_s']['value'])}")
                for side in ("P", "C")), file=sys.stderr, flush=True)
        if a.out:
            with open(a.out, "w") as fh:
                json.dump({"parent": revs["P"], "change": revs["C"], "workload": a.workload,
                           "seconds": seconds, "runs": runs}, fh, indent=1)
        report(a.workload, metrics, runs)
    finally:
        for tree in trees.values():
            subprocess.run(["git", "worktree", "remove", "--force", tree], cwd=repo)
        os.rmdir(work)


def report(workload, metrics, runs):
    ok = [r for r in runs if r["P"] and r["C"]]
    value = lambda r, side, m: r[side]["metrics"][m]["value"]
    head = [f"{m} {side}" for m, _ in metrics for side in ("P", "C")]
    print(f"\n| {workload} seed | order | " + " | ".join(head) + " | correct P, C |")
    print("|---" * (len(head) + 3) + "|")
    for r in runs:
        if r not in ok:
            print(f"| {r['seed']} | {r['order']} | " + " | ".join("-" for _ in head) +
                  f" | {'failed' if not r['P'] else r['P']['correct']}, "
                  f"{'failed' if not r['C'] else r['C']['correct']} |")
            continue
        cells = [fmt(value(r, side, m)) for m, _ in metrics for side in ("P", "C")]
        print(f"| {r['seed']} | {r['order']} | " + " | ".join(cells) +
              f" | {r['P']['correct']}, {r['C']['correct']} |")
    print(f"\n{len(ok)} of {len(runs)} pairs completed on both sides.\n")
    if not ok:
        return
    print("| metric | better | P median [q1, q3] | C median [q1, q3] | C/P | C wins | "
          "median gap > P IQR |")
    print("|---|---|---|---|---|---|---|")
    for m, better in metrics:
        p = [value(r, "P", m) for r in ok]
        c = [value(r, "C", m) for r in ok]
        sign = -1 if better == "lower" else 1
        wins = sum(1 for x, y in zip(p, c) if sign * (y - x) > 0)
        pm, cm = statistics.median(p), statistics.median(c)
        (p1, p3), (c1, c3) = quartiles(p), quartiles(c)
        gap = sign * (cm - pm) > (p3 - p1)
        print(f"| {m} | {better} | {fmt(pm)} [{fmt(p1)}, {fmt(p3)}] | "
              f"{fmt(cm)} [{fmt(c1)}, {fmt(c3)}] | {cm / pm:.3f} | {wins}/{len(ok)} | "
              f"{'yes' if gap else 'no'} |")


if __name__ == "__main__":
    main()
