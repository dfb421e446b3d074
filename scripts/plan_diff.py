#!/usr/bin/env python3
"""Diff the physical plans of two builds of the engine, query by query.

Each side is either a directory of `graft.PlanDump` output (one
`<query><suffix>.txt` per query) or a checkout of this repository, in
which case the script runs PlanDump there first (`sbt -batch runMain
graft.PlanDump`, on the tables in `--sf`) and writes its output under
`--out`. Both sides then pass through one normalizer that removes what
differs between any two runs of the same plan:

  - expression ids (`#123`) and exchange ids (`plan_id=123`);
  - `VersionedStore` version dirs (`v_<millis>_<uuid>`);
  - the warehouse root and temp paths (`file:/.../spark-warehouse/`,
    `/tmp/...`);
  - RDD ids, source line numbers of checkpoint call sites and lambda
    class names;
  - the JVM-wide counters in the names of lambda variables
    (`lambda x_26`) and of common-expression aliases (`_common_expr_14`),
    which depend on how many were made before the plan.

Usage:
  python3 scripts/plan_diff.py BASE NEW [--sf DIR] [--out DIR] [q1 q2 ...]

  BASE, NEW  plan directories or checkouts (e.g. a `git clone` of the
             parent commit and this tree)
  --sf       tables directory PlanDump plans over (sets
             SPARK_GRAFT_SF_DIR; default: the environment's, else
             PlanDump's own default)
  --out      where checkout plans are written (default a temp dir)
  q1 q2 ...  only these queries (default: every query on both sides)

Prints a unified diff per differing query and a summary line; exits 1
when any query differs or exists on one side only. Plans with several
distinct aggregates can differ between two runs of the same build:
their distinct-aggregate rewrite orders its grouping attributes
differently from run to run (seen for fu1_funnel, qa2_column_profile,
qa3_profile_drift and scale_approx_distinct).
"""
import argparse
import difflib
import os
import re
import subprocess
import sys
import tempfile

SUFFIX = "_plan"

NORMALIZE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"v_\d{13}_[0-9a-f]{8}"), "v_"),
    (re.compile(r"(file:)?/[^\s\[\],]*/spark-warehouse/"), "<warehouse>/"),
    (re.compile(r"(file:)?/tmp/[^\s\[\],]*"), "<tmp>"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\.scala:\d+"), ".scala"),
    (re.compile(r"\$Lambda[$/\w]*@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1_"),
    (re.compile(r"\b_common_expr_\d+"), "_common_expr_"),
]


def normalize(text):
    for pat, rep in NORMALIZE:
        text = pat.sub(rep, text)
    return text


def dump(checkout, sf, out, queries):
    """Run PlanDump in `checkout`; returns the directory it wrote."""
    os.makedirs(out, exist_ok=True)
    cmd = " ".join(["runMain graft.PlanDump", out, SUFFIX] + queries)
    env = dict(os.environ, **({"SPARK_GRAFT_SF_DIR": sf} if sf else {}))
    print(f"[plan_diff] PlanDump in {checkout} -> {out}", file=sys.stderr)
    subprocess.run(["sbt", "-batch", cmd], cwd=checkout, env=env, check=True,
                   stdout=subprocess.DEVNULL)
    return out


def plans(d):
    """{query: plan text} of a PlanDump directory (any one suffix)."""
    names = sorted(f for f in os.listdir(d) if f.endswith(".txt"))
    out = {}
    for f in names:
        q = f[:-len(".txt")]
        for suf in (SUFFIX, ".txt"):
            if q.endswith(suf):
                q = q[:-len(suf)]
        with open(os.path.join(d, f), encoding="utf-8") as fh:
            out[q] = fh.read()
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf")
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    out = a.out or tempfile.mkdtemp(prefix="plan_diff_")
    sides = []
    for label, p in (("base", a.base), ("new", a.new)):
        if os.path.exists(os.path.join(p, "build.sbt")):
            p = dump(os.path.abspath(p), a.sf, os.path.join(os.path.abspath(out), label),
                     a.queries)
        sides.append(plans(p))
    base, new = sides
    names = a.queries or sorted(set(base) | set(new))
    same, differ, missing = 0, [], []
    for q in names:
        if q not in base or q not in new:
            missing.append(q)
            continue
        b, n = normalize(base[q]).splitlines(), normalize(new[q]).splitlines()
        if b == n:
            same += 1
            continue
        differ.append(q)
        sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
            b, n, f"base/{q}", f"new/{q}", lineterm=""))
    print(f"[plan_diff] {same} identical, {len(differ)} differ"
          + (f" ({', '.join(differ)})" if differ else "")
          + (f", {len(missing)} on one side only ({', '.join(missing)})" if missing else ""))
    return 1 if differ or missing else 0


if __name__ == "__main__":
    sys.exit(main())
