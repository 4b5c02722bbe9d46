#!/usr/bin/env python3
"""graft's benchmark: one workload, one JVM, one JSON result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds graft and the harness (once
per source state, offline), generates the seeded inputs and their truth
(cached per seed and size), starts one JVM on local[nproc] that runs the
workload for S seconds, checks every output against the truth, the DuckDB
oracle or properties the method must have, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import checks  # noqa: E402

T_START = time.monotonic()
RUN_LIMIT_S = 170         # a run must end within 180 s
BUILD_LIMIT_S = 800       # the first run in a checkout may take 900 s
OP_TIMEOUT_S = 60
# A fixed heap with a fixed young generation: the JVM does not resize
# either during a run, which keeps both the timings and the peak resident
# set from depending on when they grew.
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn1g"]

# Sizes are fixed by the benchmark, not by the seed.
ETL_LINES = 100000
ETL_WARM_LINES = 10000
CORPUS_DOCS = 18000
CORPUS_WARM_DOCS = 3000
TABLES_SF = 0.01

# Batch registry queries over the generated star schema. Left out: the
# validation-only gates and the q_stream_* tier (streaming is not a
# Tuplex capability, and that tier drains 16 queries concurrently).
QUERIES = [
    "q1_agg", "q6_filter_agg", "q12_case_agg",        # TPC-H
    "q_join_anti", "q_topk_per_group",                # joins, windows
    "q_window_funcs",
    "q_token_count",                                  # text
    "q_triangle",                                     # graph
    "q_csv_roundtrip", "q_resolve",                   # csv, resolve
    "q_pipeline_golden", "q_flights_golden",          # error-channel goldens
    "q_dedup_minhash",                                # small-n MinHash regime
]

END_TO_END = [("setup_s", "s"), ("rows_per_s", "rows/s"), ("queries_per_s", "1/s"),
              ("query_p50_ms", "ms"), ("query_p90_ms", "ms"), ("peak_rss_mb", "MB")]

PER_LAYER = [
    ("api.csv_s", "s"), ("api.csv_rows_per_s", "rows/s"),
    ("api.parse_error_rows", "count"), ("api.udf_chain_s", "s"),
    ("api.udf_failed_rows", "count"), ("api.resolved_rows", "count"),
    ("api.sink_s", "s"), ("api.sink_mb", "MB"), ("api.exception_counts_s", "s"),
    ("api.exception_counts_jobs", "count"),
    ("functions.shingle_hashes_rows_per_core_s", "rows/s"),
    ("functions.minhash_sig_rows_per_core_s", "rows/s"),
    ("functions.sorted_intersect_pairs_per_core_s", "pairs/s"),
    ("functions.cosine_sim_pairs_per_core_s", "pairs/s"),
    ("functions.hyperplane_sig_rows_per_core_s", "rows/s"),
    ("dedup.exact_s", "s"), ("dedup.signatures_s", "s"),
    ("dedup.lsh_candidates", "count"), ("dedup.near_pairs", "count"),
    ("dedup.confirm_yield", "ratio"), ("dedup.near_minhash_s", "s"),
    ("dedup.components_s", "s"),
    ("similarity.embed_lsh_s", "s"), ("similarity.embed_pairs", "count"),
    ("similarity.tiled_confirm_pairs_per_core_s", "pairs/s"),
    ("ops.floor_ms", "ms"), ("ops.plan_ms", "ms"), ("ops.above_floor_ms", "ms"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.input_mb", "MB"), ("spark.output_mb", "MB"),
    ("spark.core_util", "ratio"), ("spark.driver_gap_s", "s"),
]

ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def remaining():
    return RUN_LIMIT_S - (time.monotonic() - T_START)


# -------------------------------------------------------------- build

def source_digest():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
                 os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, fs in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness with sbt, offline, once per source
    state; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    digest = source_digest()
    try:
        with open(stamp) as f:
            rec = json.load(f)
        if rec["digest"] == digest and all(os.path.exists(p) for p in rec["cp"].split(":")):
            return rec["cp"]
    except (OSError, ValueError, KeyError):
        pass
    log("building graft and the harness (sbt, offline)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = "-Dsbt.offline=true -Xmx2g"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += " -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
    env.setdefault("SBT_OPTS", opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_LIMIT_S)
    lines = [ln.strip() for ln in proc.stdout.splitlines()]
    cps = [ln for ln in lines if ln.startswith("/") and "perfbench" in ln and ":" in ln]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "cp": cps[-1]}, f)
    return cps[-1]


# ------------------------------------------------------------- inputs

def cached_input(kind, key, make):
    """Inputs live in work/inputs/<kind>-<key>; a directory is used only
    once its generator finished. Old entries of a kind are pruned."""
    base = os.path.join(WORK, "inputs")
    path = os.path.join(base, "%s-%s" % (kind, key))
    if not os.path.exists(os.path.join(path, "DONE")):
        shutil.rmtree(path, ignore_errors=True)
        t0 = time.monotonic()
        make(path)
        open(os.path.join(path, "DONE"), "w").close()
        log("generated %s in %.1f s" % (path, time.monotonic() - t0))
    same = sorted((os.path.getmtime(os.path.join(base, d)), d)
                  for d in os.listdir(base) if d.startswith(kind + "-"))
    for _, d in same[:-6]:
        if d != os.path.basename(path):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return path


# ---------------------------------------------------------------- JVM

def run_jvm(cp, run_dir, args):
    """Start the workload JVM; returns (setup_s, result dict)."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    out = os.path.join(run_dir, "out")
    for d in (tmp, local, out):
        os.makedirs(d)
    result_path = os.path.join(run_dir, "result.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + HEAP + ["-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + local,
                     "-cp", cp, "graft.perfbench.Main", "--out", out, "--result", result_path,
                     "--op-timeout", str(OP_TIMEOUT_S)])
    for k, v in args.items():
        cmd += ["--" + k, str(v)]
    errlog = open(os.path.join(run_dir, "jvm.log"), "w")
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=errlog, text=True,
                            stdin=subprocess.DEVNULL, cwd=run_dir)
    setup = None
    # the run limit holds even if the JVM hangs with its stdout open
    killer = threading.Timer(max(1.0, remaining()), proc.kill)
    killer.start()
    try:
        for line in proc.stdout:
            if setup is None and line.strip() == "READY":
                setup = time.monotonic() - t0
        proc.wait()
    finally:
        killer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        errlog.close()
    if proc.returncode != 0 or setup is None or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit("perfbench: workload JVM failed (exit %s)" % proc.returncode)
    with open(result_path) as f:
        return setup, json.load(f)


# ------------------------------------------------------------ metrics

def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, -(-len(s) * p // 100) - 1)]


def end_to_end(setup_s, result, ok_ops):
    ms = [o["ms"] for o in ok_ops]
    busy_s = sum(ms) / 1e3
    if ok_ops[0]["name"] in ("etl", "dedup"):
        # input rows per second of one warm pipeline run, median over runs
        rows_per_s = statistics.median(o["rows"] / (o["ms"] / 1e3) for o in ok_ops)
    else:
        rows_per_s = sum(o["rows"] for o in ok_ops) / busy_s
    return {
        "setup_s": setup_s,
        "rows_per_s": rows_per_s,
        "queries_per_s": len(ok_ops) / busy_s,
        "query_p50_ms": statistics.median(ms),
        "query_p90_ms": percentile(ms, 90),
        "peak_rss_mb": result["peak_rss_mb"],
    }


# --------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["etl_dirty_csv", "dedup_corpus", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit("perfbench: %s not found next to perfbench/; run from a "
                             "checkout of the graft repository" % need)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    global T_START
    T_START = time.monotonic()  # the run limit starts after the build

    if a.workload == "etl_dirty_csv":
        inp = cached_input("etl", "%d-%d" % (a.seed, ETL_LINES),
                           lambda p: gen.etl_inputs(p, a.seed, ETL_LINES, ETL_WARM_LINES))
        jvm_args = {"input": inp, "lines": ETL_LINES, "warm-lines": ETL_WARM_LINES}
    elif a.workload == "dedup_corpus":
        def make(p):
            gen.corpus_inputs(p, a.seed, CORPUS_DOCS)
            gen.corpus_inputs(os.path.join(p, "warm"), a.seed + 1, CORPUS_WARM_DOCS)
        inp = cached_input("corpus", "%d-%d" % (a.seed, CORPUS_DOCS), make)
        jvm_args = {"input": inp, "docs": CORPUS_DOCS, "warm-docs": CORPUS_WARM_DOCS}
    else:
        inp = cached_input("tables", "sf%s" % TABLES_SF,
                           lambda p: gen.table_inputs(p, TABLES_SF))
        jvm_args = {"data": inp, "queries": ",".join(QUERIES)}
    jvm_args.update(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace)

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(WORK, "runs"))
    try:
        setup_s, result = run_jvm(cp, run_dir, jvm_args)
        out = os.path.join(run_dir, "out")
        if a.workload == "etl_dirty_csv":
            verdict = checks.etl(result)
        elif a.workload == "dedup_corpus":
            verdict = checks.corpus(result)
        else:
            verdict = checks.query_mix(inp, out, result, os.path.join(WORK, "oracle"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = result["ops"]
    failed = [o for o in ops if not o["ok"] or o["name"] in verdict["failed_names"]]
    ok_ops = [o for o in ops if o not in failed]
    for o in failed:
        log("failed: %s %s" % (o["name"], o.get("err") or "answer differs from DuckDB"))
    for p in verdict["problems"][:20]:
        log("check: " + p)
    if not ok_ops:
        raise SystemExit("perfbench: no operation succeeded")
    if a.trace:
        # the spans of a traced run are kept for inspection
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", "%s-%d.json" % (a.workload, a.seed)), "w") as f:
            json.dump(result["spans"], f)
        layer = result["layer"]
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
    else:
        values = end_to_end(setup_s, result, ok_ops)
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": not verdict["problems"], "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
