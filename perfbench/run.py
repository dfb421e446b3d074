#!/usr/bin/env python3
"""The repository's benchmark command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --steady <k>

Run from the root of a checkout. One run builds the engine and the
harness if needed (`build.py`), makes the workload's inputs from the
seed, runs the workload in one fresh JVM on a fresh run directory under
`.bench_build/`, checks the outputs, and prints every metric by name
with its unit. The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`, with the end-to-end
metrics when `--trace 0` and the per-layer metrics when `--trace 1`.

`--steady k` runs the workload k times untraced (seeds n .. n+k-1) and
once traced (seed n), prints the traced run's report, and prints each
end-to-end metric's median, quartiles and interquartile spread over the
k runs, and the tracing overhead (traced minus untraced median).

Workloads, metrics and the layer map are described in README.md here.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("batch", "stream_prep")

# Batch inputs: the engine's table set at this scale, from a fixed data
# seed (the run seed permutes query order; it does not change the data).
SF = 0.01
DATA_SEED = 42

E2E = [("setup_s", "s"), ("latency_p50_ms", "ms"), ("latency_p90_ms", "ms"),
       ("throughput_per_s", "1/s"), ("peak_rss_mb", "MB"), ("disk_mb", "MB")]

PER_LAYER = (
    [("query.build_ms", "ms"), ("query.build_jobs", "count"),
     ("versionedstore.builds", "count"), ("versionedstore.build_s", "s"),
     ("versionedstore.timed_builds", "count"), ("versionedstore.artifact_mb", "MB"),
     ("catalyst.plan_ms", "ms"),
     ("exec.ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"),
     ("exec.tasks", "count"), ("exec.stage_ms", "ms"), ("exec.driver_gap_ms", "ms"),
     ("exec.task_cpu_ms", "ms"), ("exec.gc_ms", "ms"), ("exec.input_mb", "MB"),
     ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
     ("exec.spill_mb", "MB"), ("exec.result_rows", "count"),
     ("source.generator_lag_ms", "ms"), ("source.backlog_rows", "count"),
     ("streaming.trigger_ms", "ms"), ("streaming.add_batch_ms", "ms"),
     ("streaming.query_planning_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
     ("streaming.commit_offsets_ms", "ms"), ("streaming.latest_offset_ms", "ms"),
     ("streaming.batches", "count"), ("streaming.rows_per_batch", "count"),
     ("streaming.jobs_per_batch", "count"),
     ("store.ingest_batch_ms", "ms"), ("store.fold_batch_ms", "ms"),
     ("store.dirs", "count"), ("store.mb", "MB")]
    + [(f"prep.stage_rows.{s}", "count")
       for s in ("quality", "exact", "neardup", "contaminated", "kept")]
    + [(f"self.{k}_ms", "ms") for k in
       ("pass", "query", "build", "execute", "job", "stage", "microbatch", "phase")])

# Same module openings the engine's own build passes to forked JVMs.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

JVM_TIMEOUT_S = 150


def batch_data(bb):
    """The batch tables, generated once per checkout (and per generator)."""
    import hashlib
    import gen
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read() + f"{SF}/{DATA_SEED}".encode()).hexdigest()[:12]
    # the engine names artifacts after this directory's basename
    d = os.path.join(bb, "data", key, f"sf{SF}")
    if not os.path.isdir(d):
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        gen.write(d, SF, DATA_SEED)
    return d


def oracle_check(data_dir, checks, run_dir):
    """Compare each full result with its query's DuckDB oracle, cell for
    cell: columns by sorted name, rows in result order, or both sides
    sorted by every column when the query's result has no order.
    Returns (failures, rows of the warm results, messages)."""
    import duckdb
    import numpy as np
    import pandas as pd
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(run_dir, 'duckdb_tmp')}'")
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings weather_records").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    fails, rows, msgs = 0, 0, []
    for c in checks:
        name = f'{c["name"]} ({c["phase"]})'
        try:
            files = sorted(f for f in os.listdir(c["dir"]) if f.endswith(".parquet"))
            got = pd.concat([pd.read_parquet(os.path.join(c["dir"], f)) for f in files])
            exp = con.execute(c["sql"]).fetchdf()
        except Exception as e:  # a failed oracle or unreadable result is a wrong result
            fails += 1
            msgs.append(f"{name}: {e}")
            continue
        got = got[sorted(got.columns)]
        exp = exp[sorted(exp.columns)]
        if not c["ordered"] and list(got.columns) == list(exp.columns):
            got = got.sort_values(list(got.columns), kind="mergesort")
            exp = exp.sort_values(list(exp.columns), kind="mergesort")
        got = got.reset_index(drop=True)
        exp = exp.reset_index(drop=True)
        if c["phase"] == "warm":
            rows += len(got)
        bad = None
        if list(got.columns) != list(exp.columns):
            bad = f"columns {list(got.columns)} vs {list(exp.columns)}"
        elif len(got) != len(exp):
            bad = f"rows {len(got)} vs {len(exp)}"
        else:
            for col in got.columns:
                a, b = got[col], exp[col]
                isf = pd.api.types.is_float_dtype
                if pd.api.types.is_datetime64_any_dtype(a) or pd.api.types.is_datetime64_any_dtype(b):
                    a = pd.to_datetime(a).astype("datetime64[us]")
                    b = pd.to_datetime(b).astype("datetime64[us]")
                    eq = (a == b) | (a.isna() & b.isna())
                elif isf(a) or isf(b):
                    eq = (a.astype(float) == b.astype(float)) | (a.isna() & b.isna())
                else:
                    eq = (a.astype(object).where(pd.notna(a), None) ==
                          b.astype(object).where(pd.notna(b), None)) | (a.isna() & b.isna())
                if not bool(eq.all()):
                    i = int(np.argmin(eq.values))
                    bad = f"{col} differs first at row {i}: {a.iloc[i]!r} vs {b.iloc[i]!r}"
                    break
        if bad:
            fails += 1
            msgs.append(f"{name}: {bad}")
    return fails, rows, msgs


def run_once(workload, seed, seconds, trace):
    """One measured run. Returns a dict with the final JSON fields plus
    `e2e`, `layers`, `notes`, `per_query` and `errors`."""
    t0 = time.monotonic()
    bb = os.path.join(ROOT, ".bench_build")
    cp = build.build(bb)
    data = batch_data(bb) if workload == "batch" else ""
    run_dir = os.path.join(bb, "runs", f"{workload}-{seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    cpus = str(min(os.cpu_count() or 1, 4))
    cmd = (["java"] + ADD_OPENS +
           ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            f"-Dspark.local.dir={run_dir}/local",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--data", data, "--run", run_dir,
            "--cpus", cpus])
    errors = []
    res = None
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)

        def stop(*_):
            p.kill()
            p.wait()
            sys.exit("perfbench: interrupted")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            errors.append(f"run exceeded {JVM_TIMEOUT_S} s and was stopped")
    try:
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
    except (OSError, ValueError):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        errors.append(f"no result (JVM exit code {p.returncode})")
        res = {"metrics": {}, "layers": {}, "notes": {}, "checks": [], "per_query": {},
               "errors": [], "attempted": 1, "failed": 1}
    errors += res["errors"]
    attempted, failed = res["attempted"], res["failed"]
    if errors:  # a run that broke off counts at least one failed attempt
        failed = max(failed, 1)
    layers = res["layers"]
    if res["checks"]:
        c0 = time.monotonic()
        fails, rows, msgs = oracle_check(data, res["checks"], run_dir)
        res["notes"]["check_s"] = time.monotonic() - c0
        failed += fails
        errors += msgs
        layers["exec.result_rows"] = rows
    if trace and os.path.exists(os.path.join(run_dir, "spans.jsonl")):
        os.makedirs(os.path.join(bb, "traces"), exist_ok=True)
        shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                    os.path.join(bb, "traces", f"{workload}-{seed}.spans.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    res["notes"]["run_wall_s"] = time.monotonic() - t0
    e2e = {k: res["metrics"].get(k) for k, _ in E2E}
    per = {k: layers.get(k, 0.0) for k, _ in PER_LAYER}
    missing = [k for k, v in e2e.items() if v is None]
    if missing:
        errors.append(f"metrics not measured: {', '.join(missing)}")
    return {"correct": failed == 0 and not errors, "attempted": max(1, int(attempted)),
            "failed": int(failed), "e2e": e2e, "layers": per, "notes": res["notes"],
            "per_query": res["per_query"], "errors": errors}


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def report(workload, seed, trace, r):
    """Human-readable lines; the caller prints the JSON line after them."""
    print(f"# workload={workload} seed={seed} trace={int(trace)} "
          f"correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
    print(f"error_rate {r['failed'] / r['attempted']:.6g} fraction")
    for k, u in E2E:
        print(f"{k} {fmt(r['e2e'][k])} {u}")
    for k, v in r["notes"].items():
        print(f"note.{k} {fmt(v)}")
    if trace:
        for k, u in PER_LAYER:
            print(f"{k} {fmt(r['layers'][k])} {u}")
        if r["per_query"]:
            cols = list(next(iter(r["per_query"].values())).keys())
            print("per_query " + " ".join(cols))
            for q, m in r["per_query"].items():
                print(f"  {q} " + " ".join(fmt(m[c]) for c in cols))
    for e in r["errors"]:
        print(f"error: {e}")


def result_line(r, trace):
    units = dict(PER_LAYER if trace else E2E)
    vals = r["layers"] if trace else r["e2e"]
    return json.dumps({
        "correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
        "metrics": {k: {"value": float(vals[k] or 0.0), "unit": units[k]} for k in units}})


def steady(workload, seed, seconds, k):
    """k untraced runs on consecutive seeds plus one traced run."""
    runs = []
    for i in range(k):
        r = run_once(workload, seed + i, seconds, False)
        runs.append(r)
        print(f"# run {i + 1}/{k} seed={seed + i} correct={r['correct']} " +
              " ".join(f"{m}={fmt(r['e2e'][m])}" for m, _ in E2E), flush=True)
    traced = run_once(workload, seed, seconds, True)
    report(workload, seed, True, traced)
    stats = {}
    for m, u in E2E:
        vals = [r["e2e"][m] for r in runs if r["e2e"][m] is not None]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        over = traced["e2e"][m] - med if traced["e2e"][m] is not None else None
        stats[m] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None,
                    "trace_overhead": over, "unit": u}
        print(f"{m} median={fmt(med)} q1={fmt(q1)} q3={fmt(q3)} "
              f"spread={fmt(stats[m]['spread'])} trace_overhead={fmt(over)} {u}")
    ok = all(r["correct"] for r in runs) and traced["correct"]
    print(json.dumps({"workload": workload, "runs": k, "correct": ok, "stats": stats}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0,
                    help="run k times and print each metric's median and spread")
    a = ap.parse_args()
    if a.seconds <= 0:
        ap.error("--seconds must be positive")
    build.sources()  # fail before any work outside a full checkout
    if a.steady:
        steady(a.workload, a.seed, a.seconds, a.steady)
        return
    r = run_once(a.workload, a.seed, a.seconds, bool(a.trace))
    report(a.workload, a.seed, a.trace, r)
    print(result_line(r, bool(a.trace)), flush=True)


if __name__ == "__main__":
    main()
