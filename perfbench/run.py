#!/usr/bin/env python3
"""Benchmark of the CDC pipeline and the query board.

Usage (from the repository root):
    python3 perfbench/run.py --workload small|large --seed N --seconds S --trace 0|1
        [--selftest]

Every run executes these legs in one JVM, against the program's public API:
  catch-up  CdcStreamPipeline.start over a backlogged change log
  serve     CdcStreamPipeline.bootstrap, then start over a paced trickle,
            with servingLookup/servingLookupBatch while the stream runs
  read      servingLookup/servingLookupBatch and servingSnapshot scans of
            the state the serve leg left
  board     (traced runs only) SparkEntry.queries, an iterative set and a
            one-pass set, each query once
It checks every output against computations made here, without the
program, and prints one JSON line: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1). A traced run
also writes perfbench/out/trace-<workload>.json with the spans.
--selftest plants one wrong answer per check and fails unless every check
catches its own.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

import cdcgen      # noqa: E402
import checks      # noqa: E402
import metrics     # noqa: E402
import tablegen    # noqa: E402

# Queries whose work is iterative (checkpointed loops, persisted indexes,
# incremental maintenance): each is timed once per run.
ITERATIVE = ["q122_pagerank"]
# Queries that hold no state.
ONEPASS = ["q01_scan_filter_project", "q03_multiway_join", "q10_hash_agg",
           "q16_rank_window", "q36_tokenize_termstats", "q145_sessionize"]

# Input sizes per workload. The serve legs offer 200 rec/s (`small`, the
# rate of the pipeline's earlier scratch measurements: 200-record files at
# 1/s) and 400 rec/s (`large`, an assumed doubling).
WORKLOADS = {
    # per-trigger and per-job overhead dominate: 1k-line triggers, a 10k-key
    # serving state, sf0.001 tables
    "small": dict(catchup_lines_per_file=1_000, serve_keys=10_000,
                  serve_recs_per_file=50, serve_interval_ms=250, sf=0.001),
    # data-proportional work weighs more: 4k-line triggers, a 40k-key
    # serving state, sf0.01 tables
    "large": dict(catchup_lines_per_file=4_000, serve_keys=40_000,
                  serve_recs_per_file=200, serve_interval_ms=500, sf=0.01),
}
# One catch-up trigger per log file. The first starts the stream up and the
# second still runs on code the JIT is compiling; the commit gaps that the
# third and fourth close give `catchup_rec_per_s`.
CATCHUP_FILES = 4
# The paced trickle, as a share of --seconds.
SERVE_SHARE = 0.3
# The serve leg waits at most this long for the batch without input that
# follows its warm-up batch.
IDLE_WAIT_MS = 5_000
SETUP_REPS = 3
BATCH_KEYS = 100
# Timed lookups of each kind in the read phase, and timed scans.
LOOKUPS = 5
SCANS = 3
LOOKUP_POOL = 2_000
JVM_BUDGET_S = 160


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(paths):
    t = 0.0
    for p in paths:
        for dirpath, _, files in os.walk(p):
            for f in files:
                t = max(t, os.path.getmtime(os.path.join(dirpath, f)))
    return t


def build():
    """Compiles the program with the benchmark's JVM side (once per source
    change) and returns the runtime classpath."""
    stamp = os.path.join(OUT, "classpath.txt")
    sources = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    if (os.path.exists(stamp) and os.path.getmtime(stamp) >
            max(newest_mtime(sources), os.path.getmtime(os.path.join(HERE, "build.sbt")))):
        return open(stamp).read().strip()
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    cp = [ln for ln in p.stdout.splitlines() if ".jar" in ln and os.pathsep in ln]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(OUT, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(cp[-1].strip())
    return cp[-1].strip()


def write_lines(path, recs):
    with open(path, "w") as f:
        f.write("\n".join(r.line for r in recs) + "\n")


def prepare(run_dir, w, args):
    """Generates every input of the run from --seed; returns (JVM config,
    generated records for the checks)."""
    seed, secs = args.seed, args.seconds
    cfg = {"workload": args.workload, "trace": args.trace == 1,
           "cpus": len(os.sched_getaffinity(0)),
           "spark_local": os.path.join(run_dir, "spark-local"),
           "setup_reps": SETUP_REPS}
    cu = os.path.join(run_dir, "catchup")
    os.makedirs(os.path.join(cu, "log"))
    cu_files = cdcgen.catchup_files(seed, CATCHUP_FILES, w["catchup_lines_per_file"])
    for i, recs in enumerate(cu_files):
        write_lines(os.path.join(cu, "log", f"part-{i:05d}.jsonl"), recs)
    cfg["catchup"] = {"log": os.path.join(cu, "log"), "work": cu}

    sv = os.path.join(run_dir, "serve")
    os.makedirs(os.path.join(sv, "trickle"))
    n_trickle = max(4, round(secs * SERVE_SHARE * 1000 / w["serve_interval_ms"]))
    seed_rows, load_ts, trickle = cdcgen.serve_inputs(
        seed + 1, w["serve_keys"], n_trickle, w["serve_recs_per_file"])
    checks.write_seed(os.path.join(sv, "seed.parquet"), seed_rows)
    for i, recs in enumerate(trickle):
        write_lines(os.path.join(sv, "trickle", f"part-{i:05d}.jsonl"), recs)
    touched = sorted({r.pk for f in trickle for r in f})
    rnd = cdcgen.random.Random(seed + 2)
    pool = rnd.sample(touched, min(len(touched), LOOKUP_POOL * 3 // 4))
    pool += rnd.sample(range(w["serve_keys"]), LOOKUP_POOL - len(pool))
    cfg["serve"] = {"seed": os.path.join(sv, "seed.parquet"), "load_ts": load_ts,
                    "work": sv, "trickle": os.path.join(sv, "trickle"),
                    "interval_ms": w["serve_interval_ms"], "lookup_pool": pool,
                    "rng_seed": seed + 3, "batch_keys": BATCH_KEYS,
                    "idle_wait_ms": IDLE_WAIT_MS, "lookups": LOOKUPS,
                    "scans": SCANS}

    if args.trace:
        # the board's figures are per-layer only: its single executions
        # spread too much between runs for an end-to-end bound, and the
        # run length cannot hold repeated ones
        bd = os.path.join(run_dir, "board")
        tablegen.write(os.path.join(bd, "tables"), w["sf"], seed + 4)
        cfg["board"] = {"tables": os.path.join(bd, "tables"),
                        "results": os.path.join(bd, "results"),
                        "iterative": ITERATIVE, "onepass": ONEPASS}
    gen = {"catchup": cu_files, "seed_rows": seed_rows, "load_ts": load_ts,
           "trickle": trickle}
    return cfg, gen


def java_cmd(cp, tmp):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = [java, "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"program sources not found under {ROOT}/src/main/scala")
    cp = build()
    # the run's time budget starts after the (first-run-only) build
    t_start = time.time()

    run_dir = os.path.join(OUT, f"run-{args.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cfg, gen = prepare(run_dir, WORKLOADS[args.workload], args)
    t_gen = time.time()
    cfg_path = os.path.join(run_dir, "config.json")
    res_path = os.path.join(run_dir, "result.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            p = subprocess.run(java_cmd(cp, os.path.join(run_dir, "tmp")) + [cfg_path, res_path],
                               cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                               timeout=max(30, JVM_BUDGET_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            fail(f"the measuring JVM timed out; see {run_dir}/jvm.log")
    if p.returncode != 0 or not os.path.exists(res_path):
        fail(f"the measuring JVM failed (exit {p.returncode}); see {run_dir}/jvm.log")
    with open(res_path) as f:
        res = json.load(f)
    t_jvm = time.time()

    outcome = checks.check_all(cfg, res, gen)
    if args.selftest:
        checks.selftest(cfg, res, gen)
    print("phases (s): " + " ".join(f"{k}={v / 1000:.1f}" for k, v in res["phases"].items())
          + f" | inputs={t_gen - t_start:.1f} jvm={t_jvm - t_gen:.1f}"
          f" checks={time.time() - t_jvm:.1f}", file=sys.stderr)
    for name, problems in outcome["problems"].items():
        for msg in problems[:5]:
            print(f"check {name}: {msg}", file=sys.stderr)
    if args.trace:
        values, trace_doc = metrics.per_layer(cfg, res, gen, outcome)
        with open(os.path.join(OUT, f"trace-{args.workload}.json"), "w") as f:
            json.dump(trace_doc, f)
    else:
        values = metrics.end_to_end(cfg, res, gen, outcome)
    print(json.dumps({"correct": outcome["correct"], "attempted": outcome["attempted"],
                      "failed": outcome["failed"],
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))


if __name__ == "__main__":
    main()
