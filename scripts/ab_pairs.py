#!/usr/bin/env python3
"""Compare a base commit with this checkout on one benchmark workload.

    python3 scripts/ab_pairs.py --workload stream_prep
    python3 scripts/ab_pairs.py --workload batch --base HEAD~1 --held-out-pairs 5
    python3 scripts/ab_pairs.py --workload stream_prep --base-dir ../base-checkout

Run from the root of a checkout. The base commit (default: the parent of
HEAD) is checked out into a detached `git worktree` under /tmp, or taken
from `--base-dir` when given. Each pair runs `perfbench/run.py` once on
the base and once on this checkout, one JVM each, on the same seed; the
order inside a pair alternates so slow drift of the host weighs on both
sides alike. Pairs run on seeds 1..N (`--seeds`), then `--held-out-pairs`
times on the held-out seed (default 1000).

For each end-to-end metric in BENCHMARK.json it prints, per seed set, the
base and change medians with their quartiles, the change in percent, the
base's interquartile range, and how many pairs the change won (better in
the metric's direction). A run that fails or reports incorrect outputs is
listed and left out of its pair. `--out FILE` keeps every run's metrics.
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


def end_to_end():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["better"]) for m in json.load(f)["end_to_end"]]


def run(checkout, workload, seed, seconds):
    """One benchmark run; its metrics, or None when it failed."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        return None, f"exit {p.returncode}: {p.stderr.strip()[-300:]}"
    r = json.loads(lines[-1])
    if not r.get("correct") or r.get("failed"):
        return None, f"incorrect: failed={r.get('failed')}"
    return {k: v["value"] for k, v in r["metrics"].items()}, None


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(title, pairs, metrics):
    print(f"\n== {title}: {len(pairs)} complete pairs")
    print(f"{'metric':18} {'base median [q1-q3]':>30} {'change median [q1-q3]':>30}"
          f" {'change':>8} {'base IQR':>10} {'wins':>6}")
    for name, better in metrics:
        b = [p[0][name] for p in pairs]
        c = [p[1][name] for p in pairs]
        if not b:
            continue
        bq, cq = quartiles(b), quartiles(c)
        wins = sum((cv < bv) if better == "lower" else (cv > bv) for bv, cv in zip(b, c))
        pct = 100.0 * (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
        print(f"{name:18} {bq[1]:12.4g} [{bq[0]:.4g}-{bq[2]:.4g}]".ljust(49) +
              f" {cq[1]:12.4g} [{cq[0]:.4g}-{cq[2]:.4g}]".ljust(31) +
              f" {pct:+7.1f}% {bq[2] - bq[0]:10.4g} {wins:>3}/{len(pairs)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--base", default="HEAD~1", help="base commit (default: HEAD~1)")
    ap.add_argument("--base-dir", help="an existing checkout of the base, used as is")
    ap.add_argument("--seeds", type=int, default=10, help="pairs on seeds 1..N")
    ap.add_argument("--held-out", type=int, default=1000)
    ap.add_argument("--held-out-pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", help="write every run's metrics here as JSON")
    a = ap.parse_args()

    worktree = None
    base_dir = a.base_dir
    if base_dir is None:
        worktree = tempfile.mkdtemp(prefix="ab_pairs_", dir="/tmp")
        os.rmdir(worktree)
        subprocess.run(["git", "worktree", "add", "--detach", worktree, a.base],
                       cwd=ROOT, check=True, capture_output=True)
        base_dir = worktree
    metrics = end_to_end()
    schedule = [("seeds 1-%d" % a.seeds, s) for s in range(1, a.seeds + 1)] + \
        [("held-out seed %d" % a.held_out, a.held_out)] * a.held_out_pairs
    runs = []
    try:
        for i, (group, seed) in enumerate(schedule):
            sides = [("base", base_dir), ("change", ROOT)]
            if i % 2:
                sides.reverse()
            got = {}
            for side, checkout in sides:
                m, err = run(checkout, a.workload, seed, a.seconds)
                got[side] = m
                runs.append({"group": group, "pair": i, "seed": seed, "side": side,
                             "metrics": m, "error": err})
                print(f"pair {i:2} seed {seed:5} {side:6} " +
                      (err if err else f"p50 {m.get('latency_p50_ms', float('nan')):.1f}"),
                      flush=True)
    finally:
        if worktree:
            subprocess.run(["git", "worktree", "remove", "--force", worktree], cwd=ROOT)
            shutil.rmtree(worktree, ignore_errors=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)
    for group in dict.fromkeys(g for g, _ in schedule):
        pairs = []
        for i in sorted({r["pair"] for r in runs if r["group"] == group}):
            by = {r["side"]: r["metrics"] for r in runs if r["pair"] == i}
            if by.get("base") and by.get("change"):
                pairs.append((by["base"], by["change"]))
        report(f"{a.workload}, {group}", pairs, metrics)
    failed = [r for r in runs if r["error"]]
    for r in failed:
        print(f"failed run: pair {r['pair']} seed {r['seed']} {r['side']}: {r['error']}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
