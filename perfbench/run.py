#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
        --trace <0|1>

Run it from the repository root. The first run builds the engine and
this driver from source (sbt, `perfbench/build.sbt`); later runs reuse
the build until a source file changes. A run generates its inputs from
`--seed`, sets up a Spark session several times (the median is
`setup_s`), times a closed loop of ops sized so that the loop takes
about `--seconds` on a 4-core host, checks every output, and prints one
JSON object as its last line of output. `--trace 1` attaches Spark's
listeners and step timers and reports the per-layer metrics instead.

Workloads (see BENCHMARK.json for why each exists):
  etl_incremental  the reference's run-etl loop, one batch per op
  query_mix        registry queries from graft.operators.*,
                   graft.streaming.* and graft.sources.lake.*
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(TARGET, "run")
RUN_LIMIT_S = 170  # a run must end within 180 s, checks included

# Per workload: data scale, ops per second of --seconds, set-ups per
# run, and for the ETL loop the untimed warm-up batches of each set-up.
WORKLOADS = {
    "etl_incremental": {"sf": 0.1, "ops_per_s": 1.07, "setups": 3,
                        "warmup_batches": 4},
    "query_mix": {"sf": 0.01, "ops_per_s": 0.55, "setups": 3},
}
# The query sample and its order are drawn once, with this seed, so a
# query pays the same first-touch fixture builds on every run; --seed
# varies the generated tables (and the ETL feed).
SAMPLE_SEED = 0
PAGE = 1000

E2E = [("setup_s", "s"), ("total_s", "s"), ("op_p50_ms", "ms"),
       ("op_p90_ms", "ms"), ("peak_rss_mb", "MB")]
LAYER = [
    ("etl.getLastId_ms", "ms"), ("etl.fetchData_ms", "ms"),
    ("etl.saveLogStart_ms", "ms"), ("etl.deleteOldRecords_ms", "ms"),
    ("etl.saveToPostgres_ms", "ms"), ("etl.saveLogFinish_ms", "ms"),
    ("sources.http.requests", "count"), ("sources.http.bytes", "bytes"),
    ("sources.jdbc.rows_written", "count"),
    ("sources.jdbc.rows_inserted", "count"),
    ("sources.jdbc.rows_updated", "count"),
    ("op.build_ms", "ms"), ("op.exec_ms", "ms"), ("op.release_ms", "ms"),
    ("op.result_rows", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.job_busy_ms", "ms"),
    ("spark.driver_only_ms", "ms"), ("spark.cores_busy", "cores"),
    ("spark.task_cpu_ms", "ms"), ("spark.task_gc_ms", "ms"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("catalyst.actions", "count"), ("catalyst.planning_ms", "ms"),
    ("streaming.triggers", "count"), ("streaming.addBatch_ms", "ms"),
    ("streaming.queryPlanning_ms", "ms"), ("streaming.walCommit_ms", "ms"),
    ("streaming.latestOffset_ms", "ms"), ("streaming.getBatch_ms", "ms"),
    ("caches.persistent_rdds_after", "count"), ("caches.tmp_mb_after", "MB"),
    ("jvm.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB"),
    ("setup.session_ms", "ms"), ("setup.warmup_ms", "ms"),
    ("trace.total_s", "s"),
]

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the driver; return the runtime classpath."""
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "perfbench.classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines()
             if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        raise RuntimeError("sbt build failed; see perfbench/target/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def stratified_sample(pool, n, seed):
    """`n` distinct queries drawn with `seed`, stratified by cost and
    weighted by module, in an order shuffled by `seed`.

    The pool is sorted by each query's measured time and cut into `n`
    strata of equal count; one query is drawn from each. Inside a
    stratum a query's chance is its module's share of the pool's total
    time divided by the module's query count, so each module appears in
    proportion to its share of suite time while every sample keeps the
    same spread of cheap and costly queries.
    """
    rng = random.Random(seed)
    mod_ms, mod_n = {}, {}
    for q in pool:
        mod_ms[q["module"]] = mod_ms.get(q["module"], 0.0) + q["ms"]
        mod_n[q["module"]] = mod_n.get(q["module"], 0) + 1
    ranked = sorted(pool, key=lambda q: (q["ms"], q["name"]))
    n = min(n, len(ranked))
    picked = []
    for k in range(n):
        stratum = ranked[k * len(ranked) // n:(k + 1) * len(ranked) // n]
        weights = [mod_ms[q["module"]] / mod_n[q["module"]] for q in stratum]
        picked.append(rng.choices(stratum, weights)[0]["name"])
    rng.shuffle(picked)
    return picked


def percentile(sorted_vals, p):
    """Linear interpolation between closest ranks (Python's
    `statistics.quantiles(method="inclusive")`)."""
    x = p * (len(sorted_vals) - 1)
    lo = math.floor(x)
    hi = min(lo + 1, len(sorted_vals) - 1)
    return sorted_vals[lo] + (sorted_vals[hi] - sorted_vals[lo]) * (x - lo)


def run_jvm(args, classpath, timeout):
    # a fixed heap: with a growing one, peak RSS moved 12% between runs
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={WORK}/tmp", f"-Dderby.system.home={WORK}/derby",
           "-Dderby.stream.error.file=" + os.path.join(WORK, "derby.log")]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    env = dict(os.environ)
    for k in list(env):
        if k.startswith("SPARK_GRAFT_"):
            del env[k]
    with open(os.path.join(WORK, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=out,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError(f"run exceeded {timeout:.0f} s")


def measure(workload, seed, n_ops, trace, queries=None,
            limit=RUN_LIMIT_S):
    """Generate the inputs, run the JVM, check every op's output.

    Returns the JVM's result record, whose `ops` carry `ok` and `error`
    after the checks. `queries` is the query sample (query workloads).
    """
    import datagen
    import checks
    cfg = WORKLOADS[workload]
    classpath = build()
    t_start = time.time()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    base = os.path.join(WORK, "data", "base")
    datagen.tables(base, seed, cfg["sf"])
    for rep in range(1, cfg["setups"] + 1):
        d = os.path.join(WORK, "data", f"rep{rep}")
        os.makedirs(d)
        for f in os.listdir(base):
            os.link(os.path.join(base, f), os.path.join(d, f))
    args = ["--workload", workload, "--work", WORK,
            "--setups", str(cfg["setups"]), "--trace", str(trace)]
    if workload == "etl_incremental":
        batches = cfg["warmup_batches"] + n_ops
        feed = os.path.join(WORK, "feed.jsonl")
        datagen.feed(feed, seed, base, batches * PAGE)
        args += ["--ops", str(n_ops), "--feed", feed,
                 "--warmup", str(cfg["warmup_batches"])]
    else:
        with open(os.path.join(WORK, "queries.txt"), "w") as f:
            f.write("\n".join(queries) + "\n")
        args += ["--queries", os.path.join(WORK, "queries.txt")]

    code = run_jvm(args, classpath, limit - (time.time() - t_start))
    out_file = os.path.join(WORK, "out.json")
    if code != 0 or not os.path.exists(out_file):
        raise RuntimeError(f"benchmark JVM exited with {code}; "
                           "see perfbench/target/run/jvm.log")
    out = json.load(open(out_file))
    ops = out["ops"]

    # correctness: every op's output, outside the timed window
    results = os.path.join(WORK, "results")
    if workload == "etl_incremental":
        errs = checks.etl(feed, results, out["batches"], PAGE)
        if errs:  # a wrong sink fails every batch that wrote to it
            for op in ops:
                op["ok"], op["error"] = False, op["error"] or errs[0]
    else:
        done = [(i, op["name"]) for i, op in enumerate(ops) if op["ok"]]
        for i, err in checks.queries(os.path.join(
                WORK, "data", f"rep{cfg['setups']}"), results, done).items():
            ops[i]["ok"], ops[i]["error"] = False, err
    for sub in ("data", "tmp", "spark-local"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="add one op that always throws")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala",
                                       "graft", "Registry.scala")):
        log("engine sources not found next to perfbench/")
        sys.exit(2)
    n_ops = max(1, round(WORKLOADS[a.workload]["ops_per_s"] * a.seconds))
    sample = None
    if a.workload != "etl_incremental":
        pool = json.load(open(os.path.join(HERE, "pool.json")))[a.workload]
        sample = stratified_sample(pool, n_ops, SAMPLE_SEED)
        if a.selftest:
            sample.append("selftest_throw")
    out = measure(a.workload, a.seed, n_ops, a.trace, sample)
    ops = out["ops"]
    failed = [op for op in ops if not op["ok"]]
    for op in failed:
        log(f"FAILED {op['name']}: {op['error']}")

    # latency: a failed op ranks as slower than every successful op
    ok_ms = sorted(op["ms"] for op in ops if op["ok"])
    worst = max(op["ms"] for op in ops)
    lat = ok_ms + [worst] * len(failed)
    total_s = out["total_ms"] / 1000.0
    rows = out["rows_fetched"] if a.workload == "etl_incremental" \
        else out["op.result_rows"]
    e2e = {"setup_s": out["setup_s"], "total_s": total_s,
           "op_p50_ms": percentile(lat, 0.5),
           "op_p90_ms": percentile(lat, 0.9),
           "peak_rss_mb": out["peak_rss_mb"]}
    # the human-readable line: every end-to-end figure with its unit,
    # including those the bounded metrics leave out (fail_ratio is 0 on
    # a healthy run; rows_per_s is feed rows landed per second of batch
    # time for the ETL loop, result rows per second for the queries)
    report = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    report["rows_per_s"] = {"value": rows / total_s, "unit": "1/s"}
    report["fail_ratio"] = {"value": len(failed) / len(ops), "unit": "ratio"}
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "trace": a.trace, "samples": len(ops),
                      "metrics": report,
                      "host": {"loadavg_1m": out["loadavg"],
                               "spin_ms": out["spin_ms"]},
                      "setup_reps_ms": [r["total_ms"]
                                        for r in out["setup_reps"]]}))
    if a.trace:
        layer = dict(out)
        layer["trace.total_s"] = total_s
        if a.workload == "etl_incremental":
            layer["op.result_rows"] = rows
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in LAYER}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E}
    print(json.dumps({"correct": not failed, "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    try:
        main()
    except Exception as e:  # no result line: the run did not complete
        log(f"error: {e}")
        sys.exit(1)
