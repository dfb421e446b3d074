#!/usr/bin/env python3
"""Profile the driver threads of one benchmark run by phase.

    python3 scripts/driver_profile.py --workload stream_prep
    python3 scripts/driver_profile.py --workload batch --seed 1000 --out ../profiles

Run from the root of a checkout. It runs `perfbench/run.py` once
(untraced) with Java Flight Recorder switched on through
`JAVA_TOOL_OPTIONS`, so the benchmark itself is unchanged, then reads
the recording's execution samples with the JDK's `jfr` tool and prints,
per driver thread group, how many samples fell in each phase:

  analysis, optimizer, physical planning, AQE, plan-string
      Spark's planning, attributed by the innermost frame that names one
      (an optimizer rule that AQE runs counts as optimizer, a tree string
      built while analyzing counts as plan-string);
  fold    the rest of a sample with a store fold (`StoreSink`'s fold
          pass) on its stack;
  writer  the rest of a sample with a file write on its stack;
  other   everything else (job scheduling, listing, the Dataset API).

Thread groups: `stream` (Spark's stream execution thread, which runs each
micro-batch), `store-step` (the `graft-store-step-*` threads that run a
batch's concurrent writes, ingest and folds) and `main` (the batch
workload's queries; the stream workload's generator). A sample is taken
only while a thread runs Java code, so waiting for a job costs nothing
here: the counts are driver CPU, one sample per running thread every
10 ms under the `profile` settings.

It then prints the recording's `jdk.ProcessStart` events (every OS
process the JVM started) counted per thread group and command, with
executor task threads as `executor` and any other thread as `other`: the
engine's local file system starts none, so a fork that comes back (a
Hadoop `chmod` or `readlink`, say) shows up here. The recording is kept
under `--out` (default: a temporary directory, deleted afterwards).
"""
import argparse
import collections
import os
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# planning phases, each by the frame prefixes that name it
PLANNING = [
    ("plan-string", ("org.apache.spark.sql.catalyst.trees.TreeNode.treeString",
                     "org.apache.spark.sql.catalyst.trees.TreeNode.generateTreeString",
                     "org.apache.spark.sql.catalyst.trees.TreeNode.simpleString",
                     "org.apache.spark.sql.catalyst.plans.QueryPlan.verboseString",
                     "org.apache.spark.sql.execution.QueryExecution.explainString",
                     "org.apache.spark.sql.catalyst.util.StringConcat")),
    ("AQE", ("org.apache.spark.sql.execution.adaptive.",)),
    ("analysis", ("org.apache.spark.sql.catalyst.analysis.",
                  "org.apache.spark.sql.execution.datasources.DataSourceAnalysis",
                  "org.apache.spark.sql.execution.datasources.FindDataSourceTable",
                  "org.apache.spark.sql.execution.datasources.PreprocessTableInsertion")),
    ("optimizer", ("org.apache.spark.sql.catalyst.optimizer.",
                   "org.apache.spark.sql.execution.SparkOptimizer",
                   "org.apache.spark.sql.execution.datasources.V2ScanRelationPushDown",
                   "org.apache.spark.sql.execution.datasources.v2.V2ScanRelationPushDown")),
    ("physical planning", ("org.apache.spark.sql.execution.SparkStrategies",
                           "org.apache.spark.sql.execution.SparkPlanner",
                           "org.apache.spark.sql.catalyst.planning.QueryPlanner",
                           "org.apache.spark.sql.execution.QueryExecution$.prepareForExecution",
                           "org.apache.spark.sql.execution.exchange.EnsureRequirements",
                           "org.apache.spark.sql.execution.CollapseCodegenStages",
                           "org.apache.spark.sql.execution.ApplyColumnarRulesAndInsertTransitions")),
]
FOLD = ("graft.streaming.StoreSink$.fold",)
WRITER = ("org.apache.spark.sql.execution.datasources.FileFormatWriter",
          "org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand",
          "org.apache.spark.sql.classic.DataFrameWriter")
PHASES = [p for p, _ in PLANNING] + ["fold", "writer", "other"]


def group(thread):
    if thread.startswith("stream execution thread"):
        return "stream"
    if thread.startswith("graft-store-step"):
        return "store-step"
    if thread == "main":
        return "main"
    return None


def phase(frames):
    """Frames innermost first."""
    for f in frames:
        for name, prefixes in PLANNING:
            if f.startswith(prefixes):
                return name
    if any(f.startswith(FOLD) for f in frames):
        return "fold"
    if any(f.startswith(WRITER) for f in frames):
        return "writer"
    return "other"


def process_group(thread):
    if thread.startswith("Executor task launch worker"):
        return "executor"
    return group(thread) or "other"


def process_starts(jfr_file):
    """(thread name, command) of every process the recording saw start."""
    out = subprocess.run(["jfr", "print", "--events", "jdk.ProcessStart", "--stack-depth", "1",
                          jfr_file], capture_output=True, text=True, check=True).stdout
    thread, command, starts = "", "", []
    for line in out.splitlines():
        s = line.strip()
        if s.startswith("jdk.ProcessStart"):
            thread, command = "", ""
        elif s.startswith("eventThread ="):
            m = re.match(r'eventThread = "(.*)" \(', s)
            thread = m.group(1) if m else s
        elif s.startswith("command ="):
            command = s[len("command = "):].strip('"')
        elif line.rstrip() == "}":
            starts.append((thread, command))
    return starts


def samples(jfr_file):
    """(thread name, frames innermost first) of every execution sample."""
    p = subprocess.Popen(["jfr", "print", "--events", "jdk.ExecutionSample",
                          "--stack-depth", "256", jfr_file],
                         stdout=subprocess.PIPE, text=True)
    thread, frames, in_stack = None, [], False
    thread_re = re.compile(r'\s*sampledThread = "(.*)" \(')
    for line in p.stdout:
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif s.startswith("sampledThread ="):
            m = thread_re.match(line)
            thread = m.group(1) if m else s
        elif s == "stackTrace = [":
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
            yield thread, frames
        elif in_stack and s != "...":
            frames.append(s)
    if p.wait() != 0:
        sys.exit(f"jfr print failed with exit code {p.returncode}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="stream_prep")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", help="keep the recording in this directory")
    a = ap.parse_args()
    out = os.path.abspath(a.out) if a.out else tempfile.mkdtemp(prefix="driver-profile-")
    os.makedirs(out, exist_ok=True)
    before = set(os.listdir(out))
    env = dict(os.environ)
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") +
                                f" -XX:StartFlightRecording=filename={out}/,settings=profile")
    try:
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "0"],
                           cwd=ROOT, env=env, capture_output=True, text=True)
        result = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
        print(result[-1] if result else f"perfbench exit {r.returncode}: {r.stderr[-500:]}")
        # the benchmark JVM's recording is the largest (a harness build, if
        # one ran, records too)
        made = [os.path.join(out, f) for f in set(os.listdir(out)) - before
                if f.endswith(".jfr")]
        if not made:
            sys.exit("no recording was written")
        rec = max(made, key=os.path.getsize)
        counts = collections.defaultdict(collections.Counter)
        for thread, frames in samples(rec):
            g = group(thread or "")
            if g:
                counts[g][phase(frames)] += 1
        print(f"recording {rec}")
        print(f"{'phase':<18}" + "".join(f"{g:>18}" for g in sorted(counts)))
        for ph in PHASES + ["total"]:
            row = []
            for g in sorted(counts):
                n = sum(counts[g].values()) if ph == "total" else counts[g][ph]
                total = sum(counts[g].values()) or 1
                row.append(f"{n:>9} {100 * n / total:5.1f}% ")
            print(f"{ph:<18}" + "".join(f"{c:>18}" for c in row))
        forks = collections.Counter((process_group(t), cmd.split(" ")[0])
                                    for t, cmd in process_starts(rec))
        print(f"\nprocesses started: {sum(forks.values())}")
        for (g, cmd), n in sorted(forks.items()):
            print(f"{g:<18}{cmd:<30}{n:>9}")
    finally:
        if not a.out:
            shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
