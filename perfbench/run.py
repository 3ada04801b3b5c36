#!/usr/bin/env python3
"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark driver from source with sbt (perfbench/build.sbt) and caches the
classpath under perfbench/.work/; later runs start one JVM directly.

A run generates the workload's inputs from the seed (perfbench/gen.py),
runs the workload in one local Spark session (perfbench/src), checks every
query's output against the query's DuckDB oracle SQL, and prints, as the
last line of standard output, one JSON object with `correct`, `attempted`,
`failed` and `metrics`. With `--trace 0` the metrics are the end-to-end
metrics; with `--trace 1` they are the per-layer metrics read back from
Spark's event log (perfbench/trace_reader.py). The lines before the last
give the details: input sizes, pass samples, per-query figures.
perfbench/README.md says why each workload was chosen and what no workload
measures.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import gen  # noqa: E402

# Each workload: the queries one pass runs; the inputs it reads
# (`documents` is the size of the Zipf corpus, `events` the events row
# count, gen.py); and the warm-up passes run after the cold pass and left
# out of `pass_s`, while the JIT still speeds passes up.
WORKLOADS = {
    "mr_wordcount": {
        "queries": ["mr_wordcount", "mr_top_words", "mr_sessionize"],
        "tables": {"documents": 4000, "events": 100000},
        "warmup": 3,
    },
    "curation_dedup": {
        "queries": ["q_pipeline_e2e", "q_minhash_incremental_persisted"],
        "tables": {"documents": 500},
        "warmup": 2,
    },
}
# a traced run splits its time between untraced and traced passes
MIN_PASSES = 3
MIN_PASSES_TRACED = 2
# set-ups per run: this many set-up-only JVMs, plus the workload's own.
# Each costs a JVM start and a session (about 6 s); more would not fit
# the benchmark's time budget on a busy host.
SETUP_ONLY_RUNS = 1
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build reads; a change forces a rebuild."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for pat in ("src/main/**/*", "project/*.properties", "project/*.sbt",
                "perfbench/src/**/*", "perfbench/project/*.properties"):
        files += glob.glob(os.path.join(ROOT, pat), recursive=True)
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Builds with sbt when the sources changed since the cached build."""
    cache = os.path.join(WORK, "classpath.json")
    digest = source_digest()
    if os.path.exists(cache):
        with open(cache) as fh:
            cached = json.load(fh)
        if cached["digest"] == digest:
            return cached["classpath"]
    log("building the engine and the benchmark driver with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(cache, "w") as fh:
        json.dump({"digest": digest, "classpath": lines[-1]}, fh)
    return lines[-1]


def generate(workload, seed, out_dir):
    spec = WORKLOADS[workload]["tables"]
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    info = {}
    if "events" in spec:
        gen.gen_events(rng, out_dir, spec["events"])
    if "documents" in spec:
        info = gen.gen_documents_zipf(rng, out_dir, spec["documents"])
    return gen.describe(out_dir, info)


def run_jvm(cp, workload, data, work, args, timeout):
    """Runs perfbench.Main in a fresh JVM; returns its result file."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    # no perf-data file, and temporary files (extracted native libraries)
    # inside the run's directory
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", workload, "--data", data, "--work", work,
            "--queries", ",".join(WORKLOADS[workload]["queries"]),
            "--out", out] + [str(x) for x in args]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as lf:
        launched_us = time.time_ns() // 1000
        p = subprocess.Popen(cmd + ["--launched-us", str(launched_us)],
                             stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: the workload did not finish in time")
    if rc != 0 or not os.path.exists(out):
        with open(jvm_log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: the workload's JVM exited with {rc}")
    with open(out) as fh:
        return json.load(fh)


def run_workload(cp, workload, data, work, seconds, trace, cores):
    """The set-up-only JVMs, then the workload's own JVM. Returns the
    workload's result with every set-up sample in `setup_s`."""
    setups = [run_jvm(cp, workload, data, work, ["--setup-only", 1,
                                                 "--cores", cores], 60)
              for _ in range(SETUP_ONLY_RUNS)]
    res = run_jvm(cp, workload, data, work, [
        "--seconds", seconds, "--cores", cores, "--trace", int(trace),
        "--warmup", WORKLOADS[workload]["warmup"],
        "--min-passes", MIN_PASSES_TRACED if trace else MIN_PASSES],
        # set-up, the cold pass and the warm-up passes take about a
        # minute, twice that on a busy host; the measured passes a small
        # multiple of --seconds
        130 + 3 * seconds)
    res["setup_s"] = [s["setup_s"] for s in setups] + [res["setup_s"]]
    res["driver_setup"] = [s["driver_setup"] for s in setups] + [
        res["driver_setup"]]
    return res


def check_outputs(res, data, work):
    """Compares each query's cold-pass output with its DuckDB oracle,
    canonicalised as tools/oracle_check.py does. Returns failures by query."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pandas as pd
    from oracle_check import canon
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    failures = {}
    for q in (r["query"] for r in res["cold"]["queries"]):
        files = glob.glob(os.path.join(work, "check", q, "*.parquet"))
        if q not in res["oracle_sql"]:
            failures[q] = "no oracle SQL"
            continue
        if not files:
            failures[q] = "no output"
            continue
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in files]))
            exp = canon(con.execute(res["oracle_sql"][q]).df())
        except Exception as e:  # an unreadable output or a failing oracle
            failures[q] = f"{type(e).__name__}: {e}"
            continue
        if list(got.columns) != list(exp.columns):
            failures[q] = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(got) != len(exp):
            failures[q] = f"rows {len(got)} != {len(exp)}"
        elif not got.equals(exp):
            failures[q] = "values differ"
    return failures


def median_or_none(xs):
    return statistics.median(xs) if xs else None


def pass_total(p):
    return sum(r.get("construct_s", 0.0) + r.get("execute_s", 0.0)
               for r in p["queries"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))
            and os.path.isfile(os.path.join(ROOT, "tools", "oracle_check.py"))):
        raise SystemExit("perfbench: run from a full checkout of the "
                         "repository (engine sources and tools/ not found)")

    cp = classpath()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        inputs = generate(args.workload, args.seed, data)
        cores = len(os.sched_getaffinity(0))
        res = run_workload(cp, args.workload, data, work, args.seconds,
                           args.trace == 1, cores)
        failures = check_outputs(res, data, work)
        for p in ([res["cold"]] + res["warmup"] + res["warm"]
                  + res.get("traced", [])):
            for r in p["queries"]:
                if "error" in r:
                    failures.setdefault(r["query"], r["error"])
        queries = WORKLOADS[args.workload]["queries"]
        attempted = len(queries)
        failed = len(failures)
        warm = [pass_total(p) for p in res["warm"]]
        pass_s = statistics.median(warm)
        rows = sum(inputs["rows"].values())
        report = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "input": inputs, "setup_s_samples": res["setup_s"],
            "cold_pass_s": pass_total(res["cold"]),
            "warmup_pass_s": [pass_total(p) for p in res["warmup"]],
            "pass_s_samples": warm, "pass_count": len(warm),
            "cold_queries": {r["query"]: [r.get("construct_s"), r.get("execute_s")]
                             for r in res["cold"]["queries"]},
            "warm_queries": {q: [median_or_none([r[k] for p in res["warm"]
                                                 for r in p["queries"]
                                                 if r["query"] == q and k in r])
                                 for k in ("construct_s", "execute_s")]
                             for q in queries},
            "failures": failures,
            "error_logs_per_pass": [p["error_logs"] for p in res["warm"]],
        }
        print(json.dumps(report))
        if args.trace:
            import trace_reader
            metrics, per_query = trace_reader.per_layer(res, work, pass_s)
            print(json.dumps({"per_query": per_query}))
        else:
            metrics = {
                "setup_s": (statistics.median(res["setup_s"]), "s"),
                "cold_pass_s": (pass_total(res["cold"]), "s"),
                "pass_s": (pass_s, "s"),
                "input_rows_per_s": (rows / pass_s, "rows/s"),
                "passed_frac": ((attempted - failed) / attempted, "frac"),
                "retained_heap_mb": (res["retained_heap_mb"], "MB"),
            }
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
