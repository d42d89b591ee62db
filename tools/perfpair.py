#!/usr/bin/env python3
"""Alternating parent/tree pairs of the benchmark, judged against its bounds.

    python3 tools/perfpair.py <parent-rev> --workload W --pairs N
        [--seed0 71] [--seconds 6] [--trace 0] [--tree DIR] [--work DIR] [--json OUT]

Extracts <parent-rev> with `git archive` into a scratch directory (kept in
--work, default <tmp>/perfpair-<rev>, and reused while it holds the same
revision), then runs `python3 perfbench/run.py` once in the parent checkout
and once in the tree (--tree, default: this repository) per pair, with seeds
seed0, seed0+1, ... Pairs alternate which side runs first. Each side builds
its own harness under its own .bench_build/.

Prints one line per run, then per metric of the run's result: the medians,
the quartiles, the pairs the tree wins and a verdict. A BENCHMARK.json
end-to-end metric is WORSE when the tree's median is worse than the
parent's by more than its bound, and GAIN when at least 10 pairs ran, the
tree wins at least nine tenths of them and the medians differ by more than
the parent's interquartile range; the rest are within the bound. Per-layer metrics (traced runs) and
the per-op median times get no verdict. A failed run is reported and
counted, never dropped silently. This tool only reads perfbench/ and
BENCHMARK.json.
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between order statistics."""
    s = sorted(xs)

    def q(p):
        k = (len(s) - 1) * p
        lo = int(k)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (k - lo)

    return q(0.25), q(0.5), q(0.75)


def extract(rev, work):
    """The parent checkout for `rev`, extracted once into `work`."""
    sha = subprocess.run(["git", "rev-parse", rev], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout.strip()
    parent = os.path.join(work, "parent")
    marker = os.path.join(work, "parent.rev")
    if os.path.isfile(marker) and open(marker).read().strip() == sha:
        return parent, sha
    if os.path.exists(parent):
        sys.exit(f"perfpair: {parent} holds another revision; pass a fresh --work")
    os.makedirs(parent)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", parent], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"perfpair: git archive {sha} failed")
    with open(marker, "w") as f:
        f.write(sha + "\n")
    return parent, sha


def run(checkout, args, seed):
    """One benchmark run: (metrics, per-op median ms) or (None, error text)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None, (proc.stderr.strip().splitlines() or ["no output"])[-1]
    result = json.loads(lines[-1])
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    details = os.path.join(checkout, ".bench_build", "perfbench", "results",
                           f"{args.workload}-s{seed}-t{args.trace}.details.json")
    ops = {}
    if os.path.isfile(details):
        by_name = {}
        for op in json.load(open(details)).get("ops", []):
            if op.get("error") is None:
                by_name.setdefault(op["name"], []).append(op["ms"])
        ops = {name: quartiles(ms)[1] for name, ms in by_name.items()}
    return (metrics, ops), None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, default=71)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tree", default=ROOT)
    ap.add_argument("--work", default=None)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.seconds is None:
        args.seconds = bench["run_seconds"]
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    work = args.work or os.path.join(tempfile.gettempdir(), f"perfpair-{args.parent[:12]}")
    os.makedirs(work, exist_ok=True)
    parent, sha = extract(args.parent, work)
    sides = {"parent": parent, "tree": os.path.abspath(args.tree)}

    runs = {"parent": [], "tree": []}
    failed = {"parent": 0, "tree": 0}
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ("parent", "tree") if i % 2 == 0 else ("tree", "parent")
        for side in order:
            out, err = run(sides[side], args, seed)
            if out is None:
                failed[side] += 1
                print(f"pair {i + 1} seed {seed} {side}: FAILED: {err}", flush=True)
                continue
            runs[side].append((seed, out[0], out[1]))
            m = out[0]
            print(f"pair {i + 1} seed {seed} {side}: " +
                  " ".join(f"{k}={m[k]:.4g}" for k in sorted(m) if k in bounds), flush=True)

    # ((parent metrics, parent ops), (tree metrics, tree ops)) per seed both sides ran
    tree_by_seed = {seed: (m, ops) for seed, m, ops in runs["tree"]}
    pairs = [((m, ops), tree_by_seed[seed]) for seed, m, ops in runs["parent"] if seed in tree_by_seed]
    if not pairs:
        sys.exit(f"perfpair: no complete pair (failed runs: {failed})")
    print(f"\n{args.workload}: {len(pairs)} complete pairs of {args.pairs} "
          f"(failed runs: parent {failed['parent']}, tree {failed['tree']}); parent = {sha[:12]}")
    print(f"{'metric':34} {'parent median [q1, q3]':40} {'tree median [q1, q3]':40} "
          f"{'change':>8} {'wins':>6}  verdict")
    summary = {}
    names = sorted({k for (pm, _), (tm, _) in pairs for k in pm if k in tm})
    for name in names:
        pv = [pm[name] for (pm, _), _ in pairs]
        tv = [tm[name] for _, (tm, _) in pairs]
        pq, tq = quartiles(pv), quartiles(tv)
        direction = better.get(name)
        wins = None
        if direction:
            wins = sum(1 for p, t in zip(pv, tv) if (t > p if direction == "higher" else t < p))
        change = (tq[1] - pq[1]) / pq[1] if pq[1] else 0.0
        verdict = ""
        if name in bounds:
            worse = -change if direction == "higher" else change
            if worse > bounds[name]["bound"]:
                verdict = f"WORSE beyond bound {bounds[name]['bound']}"
            elif (len(pairs) >= 10 and wins >= 0.9 * len(pairs)
                  and abs(tq[1] - pq[1]) > pq[2] - pq[0]):
                verdict = "GAIN"
            else:
                verdict = f"within bound {bounds[name]['bound']}"
        print(f"{name:34} {f'{pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]':40} "
              f"{f'{tq[1]:.4g} [{tq[0]:.4g}, {tq[2]:.4g}]':40} "
              f"{change:>+8.1%} {'' if wins is None else f'{wins}/{len(pairs)}':>6}  {verdict}")
        summary[name] = {"parent": pq, "tree": tq, "change": change, "wins": wins,
                         "verdict": verdict, "parent_runs": pv, "tree_runs": tv}
    ops = sorted({k for (_, po), (_, to) in pairs for k in po if k in to})
    if ops:
        print("\nper-op median ms (median over runs):")
    for op in ops:
        pv = [po[op] for (_, po), _ in pairs if op in po]
        tv = [to[op] for _, (_, to) in pairs if op in to]
        print(f"  {op:20} {quartiles(pv)[1]:>10.1f} -> {quartiles(tv)[1]:>10.1f}")
        summary["op:" + op] = {"parent_runs": pv, "tree_runs": tv}
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "parent": sha, "seeds": [s for s, *_ in runs["parent"]],
                       "failed": failed, "metrics": summary}, f, indent=1)


if __name__ == "__main__":
    main()
