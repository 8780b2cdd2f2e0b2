#!/usr/bin/env python3
"""Interleaved A/B of the benchmark over two git revisions.

    python3 tools/ab.py --base <rev> [--head <rev>] [--workload <name> ...]
                        [--pairs N]

Each revision is exported (`git archive`) into its own temporary
directory and built once through `perfbench/build.py`'s source-hash
cache, before any timed run. Then each workload runs N pairs of
`perfbench/run.py --trace 0` for BENCHMARK.json's `run_seconds`, one run
per revision per pair, both with the pair's seed (1..N), alternating
which revision runs first. `--head .` (the default) runs the current
working tree in place, uncommitted changes included.

Prints, per end-to-end metric of BENCHMARK.json: both medians, both
IQR/median, the head/base ratio of the medians, the pairs in which head
was better, and a verdict against the metric's bound:
  regressed   head's median is worse than base's by more than the bound;
  unresolved  either side's IQR/median is wider than the bound, and not
              every head run beats every base run: the runs spread too
              widely to tell;
  gain        head is better in at least 9 of 10 pairs and its median
              beats base's by more than base's interquartile range;
  same        anything else.
Plus the share of failed ops on each side, and per op name (read_all,
append, merge, ... for lakehouse_rw) both sides' median op wall over
every timed, untraced op of the pairs, read from each run's record
`<build dir>/run-<workload>-<seed>-trace0.json`. Exits 1 when any metric
regressed or is unresolved, or any op failed.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def checkout(rev, workdir, name):
    """A directory holding `rev`'s tree; "." is the working tree itself."""
    if rev == ".":
        return ROOT
    d = os.path.join(workdir, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev], check=True,
                             capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", d], input=archive, check=True)
    return d


def build(tree):
    """Build `tree`'s engine and harness into its own `.bench_build`."""
    subprocess.run([sys.executable, "perfbench/build.py", ".bench_build"], cwd=tree,
                   check=True, stdout=subprocess.DEVNULL)


def run_once(tree, workload, seed, seconds):
    """One benchmark run; returns its JSON result line and its op walls by op name."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        raise SystemExit(f"ab: {workload} seed {seed} in {tree} printed no result")
    # run.py keeps the run's record in its build dir, resolved from its cwd
    build_dir = os.path.join(tree, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    with open(os.path.join(build_dir, f"run-{workload}-{seed}-trace0.json")) as f:
        ops = json.load(f)["ops"]
    walls = {}
    for o in ops:
        if not o["warm"] and not o["traced"]:
            walls.setdefault(o["name"], []).append(o["wall_ms"])
    return json.loads(lines[-1]), walls


def quartiles(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[0], q[1], q[2]


def verdict(spec, base, head):
    """(verdict, wins) for one metric's paired runs."""
    lower = spec["better"] == "lower"
    def better(h, b):
        return h < b if lower else h > b
    wins = sum(better(h, b) for b, h in zip(base, head))
    q1, mb, q3 = quartiles(base)
    h1, mh, h3 = quartiles(head)
    worse = (mh - mb) / mb if lower else (mb - mh) / mb
    if worse > spec["bound"]:
        return "regressed", wins
    spread = max((q3 - q1) / mb, (h3 - h1) / mh)
    if spread > spec["bound"] and not all(better(h, b) for h in head for b in base):
        return "unresolved", wins
    if wins * 10 >= 9 * len(base) and better(mh, mb) and abs(mh - mb) > q3 - q1:
        return "gain", wins
    return "same", wins


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="baseline git revision")
    ap.add_argument("--head", default=".", help='candidate revision ("." = working tree)')
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: every workload)")
    ap.add_argument("--pairs", type=int, default=10)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    workdir = tempfile.mkdtemp(prefix="graft_ab_")
    try:
        bad = compare(spec, workloads, a, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    sys.exit(1 if bad else 0)


def compare(spec, workloads, a, workdir):
    """Build both revisions, run the pairs, print the table; True on a failing verdict."""
    trees = {"base": checkout(a.base, workdir, "base"),
             "head": checkout(a.head, workdir, "head")}
    for side, tree in trees.items():
        print(f"[ab] building {side} ({tree})", file=sys.stderr, flush=True)
        build(tree)

    bad = False
    for w in workloads:
        runs = {"base": [], "head": []}
        walls = {"base": {}, "head": {}}
        for i in range(a.pairs):
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            for side in order:
                r, op_walls = run_once(trees[side], w, 1 + i, spec["run_seconds"])
                runs[side].append(r)
                for name, xs in op_walls.items():
                    walls[side].setdefault(name, []).extend(xs)
                print(f"[ab] {w} pair {i + 1}/{a.pairs} {side}: " +
                      " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.4g}"
                               for m in spec["end_to_end"]), file=sys.stderr, flush=True)
        print(f"\n{w}: {a.pairs} pairs, base {a.base}, head {a.head}")
        print(f"  {'metric':<14} {'base':>10} {'head':>10} {'IQR/med b':>10} "
              f"{'IQR/med h':>10} {'h/b':>7} {'wins':>6}  verdict (bound)")
        for m in spec["end_to_end"]:
            b = [r["metrics"][m["name"]]["value"] for r in runs["base"]]
            h = [r["metrics"][m["name"]]["value"] for r in runs["head"]]
            qb, qh = quartiles(b), quartiles(h)
            v, wins = verdict(m, b, h)
            bad |= v in ("regressed", "unresolved")
            print(f"  {m['name']:<14} {qb[1]:>10.4g} {qh[1]:>10.4g} "
                  f"{(qb[2] - qb[0]) / qb[1]:>10.3f} {(qh[2] - qh[0]) / qh[1]:>10.3f} "
                  f"{qh[1] / qb[1]:>7.3f} {wins:>3}/{a.pairs:<2}  {v} ({m['bound']})")
        for side in ("base", "head"):
            att = sum(r["attempted"] for r in runs[side])
            fail = sum(r["failed"] for r in runs[side])
            bad |= fail > 0
            print(f"  failed_ratio {side}: {fail}/{att} = {fail / max(1, att):.3f}")
        names = list(dict.fromkeys(list(walls["base"]) + list(walls["head"])))
        width = max([14] + [len(n) for n in names])
        print(f"  {'op median wall':<{width}} {'base ms':>10} {'head ms':>10} {'h/b':>7} {'ops b/h':>9}")
        for name in names:
            b, h = walls["base"].get(name, []), walls["head"].get(name, [])
            mb = statistics.median(b) if b else float("nan")
            mh = statistics.median(h) if h else float("nan")
            print(f"  {name:<{width}} {mb:>10.1f} {mh:>10.1f} {mh / mb if b and mb else float('nan'):>7.3f} "
                  f"{len(b):>4}/{len(h):<4}")
    return bad


if __name__ == "__main__":
    main()
