#!/usr/bin/env python3
"""Benchmark of the WDI pipelines and the construct-heavy registry entries.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads:
  wdi_paper  all 4 detrend variants x 7 outputs through RCsv.write, each pass
             over a freshly generated, paper-shaped WDI extract (62 countries,
             310 rows): the paper's own traffic, dominated by per-query cost.
  construct  stream drains and driver-loop trainers from SparkEntry.queries,
             each timed as construct plus execute, with an empty index store
             per pass, over tables generated from the seed.

The first run in a checkout builds the harness (perfbench/build.sbt, which
compiles the repository's src/main/scala with it). Every run then starts one
JVM, sets a Spark session up several times, runs passes until --seconds have
passed (at least a cold first pass and one or two warm ones), checks every output
outside the timed region, and prints one JSON object as the last line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything it writes goes under .bench_work/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import tablegen  # noqa: E402
import wdigen  # noqa: E402

CORES = 4
HEAP = "3g"
SETUPS = 3
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 850
# a cold pass plus two warm ones: the second pass still runs while the JIT
# compiles, so one warm pass alone would measure that transient
WDI_MIN_PASSES = 3
WDI_MAX_PASSES = 6
CONSTRUCT_MIN_PASSES = 2
CONSTRUCT_ENTRIES = [
    "stream_windowed_counts", "stream_checkpoint_recovery", "stream_latest_state",
    "train_manifest", "quality_lr_calibration",
]
# events, documents, embeddings rows: documents kept small because the
# train_manifest oracle costs DuckDB ~25 ms per document
CONSTRUCT_TABLE_ROWS = (10000, 100, 500)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    for base in (SOURCES, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the harness with the program once per source state; returns
    the runtime classpath."""
    if not os.path.isdir(SOURCES):
        fail(f"program sources not found at {os.path.relpath(SOURCES, ROOT)}: "
             "run from the root of a repository checkout")
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "perfbench.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return read_classpath(cp_file)
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    # sbt's own temp files (its server socket dir) stay in the checkout too
    tmp = os.path.join(WORK, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("set SPARK_HOME: the harness builds against $SPARK_HOME/jars")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the harness (sbt compile)")
    t0 = time.time()
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(r.stdout[-4000:])
        fail("sbt build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return read_classpath(cp_file)


def read_classpath(path):
    with open(path) as f:
        return ":".join(line.strip() for line in f if line.strip())


# ------------------------------------------------------------ harness run

def run_harness(classpath, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file under the system temp dir
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-cp", classpath, "graft.bench.Harness"]
           + [f"{k}={v}" for k, v in args.items()])
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as out:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S,
                               env=dict(os.environ, TMPDIR=tmp))
        except subprocess.TimeoutExpired:
            fail(f"harness timed out after {JVM_TIMEOUT_S} s", 1)
    if r.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {r.returncode}", 1)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def wdi_paper(work, seed, seconds, trace, classpath):
    inputs = []
    for i in range(WDI_MAX_PASSES):
        d = os.path.join(work, "in", f"pass_{i}")
        wdigen.generate(d, seed * 1000 + i)
        inputs.append(d)
    res = run_harness(classpath, work, {
        "workload": "wdi", "work": work, "seconds": seconds, "trace": trace,
        "cores": CORES, "setups": SETUPS, "minPasses": WDI_MIN_PASSES,
        "inputs": ",".join(inputs)})
    failures = {}
    for i in range(len(res["passes"])):
        for stem, msg in checks.check_wdi_pass(inputs[i], os.path.join(work, "out", f"pass_{i}")):
            failures[(i, stem)] = msg
    return res, failures


def construct(work, seed, seconds, trace, classpath):
    data = os.path.join(work, "data")
    tablegen.generate(data, seed, *CONSTRUCT_TABLE_ROWS)
    entries = CONSTRUCT_ENTRIES
    res = run_harness(classpath, work, {
        "workload": "registry", "work": work, "seconds": seconds, "trace": trace,
        "cores": CORES, "setups": SETUPS, "minPasses": CONSTRUCT_MIN_PASSES, "data": data,
        "entries": ",".join(entries)})
    bad = checks.check_hashes(res["passes"], entries)
    bad += checks.check_oracles(os.path.join(work, "results"), data, res["oracle_sql"], entries)
    # a wrong entry is wrong on every pass: its digest is the same on each
    failures = {(i, name): msg for name, msg in bad for i in range(len(res["passes"]))}
    return res, failures


WORKLOADS = {"wdi_paper": wdi_paper, "construct": construct}


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    """Linear-interpolated quantile (statistics.quantiles, inclusive)."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(round(q * 100)) - 1]


def end_to_end(res):
    passes = res["passes"]
    warm = passes[1:]
    lat = [q["construct_s"] + q["execute_s"] for p in warm for q in p["queries"]
           if "error" not in q]
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "first_pass_s": (passes[0]["wall_s"], "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in warm), "s"),
        "query_p50_s": (quantile(lat, 0.5), "s"),
        "query_p90_s": (quantile(lat, 0.9), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in warm), "s"),
        "live_heap_mb": (res["live_heap_mb"], "MB"),
    }


PER_LAYER_UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.plan_s": "s", "spark.driver_only_s": "s", "spark.slot_idle_frac": "fraction",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.input_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.peak_exec_mem_mb": "MB", "jvm.gc_s": "s",
    "wdi.front_half_s": "s", "wdi.cycles_quad_s": "s", "wdi.cycles_hp100_s": "s",
    "wdi.cycles_hp625_s": "s", "wdi.cycles_dlog_s": "s", "wdi.stats_s": "s", "wdi.sink_s": "s",
    "ts.kernel_s": "s", "ts.kernel_series": "count",
    "queries.construct_s": "s", "queries.execute_s": "s", "queries.construct_jobs": "count",
    "queries.store_builds": "count", "queries.store_reuses": "count",
    "streaming.batches": "count", "streaming.input_rows": "count", "streaming.plan_s": "s",
    "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
    "streaming.state_commit_s": "s",
}


def per_layer(res):
    """Median over the warm passes of each layer counter, plus the traced
    run's own pass time (its overhead is trace.pass_s minus pass_s)."""
    warm = res["layers"][1:]
    out = {}
    for name, unit in PER_LAYER_UNITS.items():
        vals = [layer[name] for layer in warm if name in layer]
        out[name] = (statistics.median(vals) if vals else 0.0, unit)
    out["trace.pass_s"] = (statistics.median(p["wall_s"] for p in res["passes"][1:]), "s")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    work = os.path.join(WORK, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res, failures = WORKLOADS[a.workload](work, a.seed, a.seconds, a.trace, classpath)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # failed outputs, keyed (pass, output): an output that raised in the
    # harness and then failed its check counts once
    for i, p in enumerate(res["passes"]):
        for q in p["queries"]:
            if "error" in q:
                failures[(i, q["name"])] = q["error"]
    attempted = sum(len(p["queries"]) for p in res["passes"])
    failed = min(attempted, len(failures))
    for (i, name), msg in sorted(failures.items()):
        log(f"FAILED pass {i} {name}: {msg}")
    ext = [p["ext_cores"] for p in res["passes"]]
    print(json.dumps({"diagnostics": {
        "workload": a.workload, "seed": a.seed, "passes": len(res["passes"]),
        "load_start": res["load_start"], "foreign_cores_per_pass": ext,
        "contended": res["load_start"] > CORES or max(ext) > 2.0,
        "setup_s_all": res["setup_s"], "peak_rss_mb": res["peak_rss_mb"],
        "pass_s_all": [p["wall_s"] for p in res["passes"]]}}))
    metrics = per_layer(res) if a.trace else end_to_end(res)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
