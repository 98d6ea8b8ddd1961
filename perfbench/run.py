#!/usr/bin/env python3
"""Benchmark of the graft engine: query workloads over sf0.1-shaped tables
and the paper's daily CSV load.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload corpus_shuffle --seed 1 --seconds 30 --trace 0

Workloads (BENCHMARK.json says why each was chosen):

    corpus_shuffle  documents/embeddings queries that reach a size gate, with
                    every gate forced to its distributed side
    daily_load      etl.Pipeline.runDaily over generated CSV extracts

A fresh JVM's set-up costs about 20 s on a 4-CPU host, so a full
measurement series (4 + 22 runs per workload, within 57 minutes) fits
with two workloads; both are sized to run_seconds.

Each run builds the program from source if the tree changed (sbt, into
target/, perfbench/target/ and .bench_build/), generates the query tables
once into .bench_build/data, and starts one fresh JVM with local[N]
(N = usable CPUs) and spark.sql.shuffle.partitions = N. One client thread
runs the operations in a closed loop: the next starts when the previous
returns. corpus_shuffle runs its query list in three passes, each in its
own order permuted by the seed; for daily_load the seed generates the
extracts. Every output is checked: query digests against
perfbench/goldens.json, daily_load against the generator's planted row
counts and column types. Each run's warehouse, spark.local.dir,
spark.graft.stagingDir and java.io.tmpdir live in a scratch directory
under .bench_build/ that is deleted when the run ends.

It prints a readable report (every end-to-end metric, the per-operation
times and verdicts, and the host state: CPU calibration and an I/O probe
before and after the run), then as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with --trace 0, the per-layer metrics of a traced run with --trace 1.
A traced daily_load run ends with three pairs of days in the same JVM,
one made of runDaily's steps and one through runDaily itself, untraced:
the median step-span sum must match the median runDaily wall within 10%,
and the difference is the tracing overhead.
For corpus_shuffle the overhead is the difference from the untraced run
of the same seed. Spans go to .bench_out/.

Other modes: `--inventory FILE` runs every SparkEntry query once (natural
regime, or every gate forced with --forced) and writes per query the
tables it scanned, its job counts, timing and digest;
`--record-goldens FILE` rewrites goldens.json from a natural inventory.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(ROOT, ".bench_build", "data", "sf0.1")
OUT = os.path.join(ROOT, ".bench_out")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
NOMINAL_SECONDS = SPEC["run_seconds"]

# corpus_shuffle forces every size gate to its distributed side. Each key
# must still be read under src/main: a renamed gate would otherwise
# silently un-force the workload.
FORCED_CONFS = {
    "spark.graft.broadcastBytes": "1",
    "spark.graft.bandJoin.broadcastRows": "0",
    "spark.graft.ann.replicateIndexBytes": "0",
    "spark.graft.cc.localEdgesBytes": "0",
    "spark.graft.graph.localEdgesBytes": "0",
    "spark.graft.graph.prepartitionEdgesBytes": "0",
    "spark.graft.bpe.localVocabRows": "0",
    "spark.graft.prefixJoin.bruteMaxDocs": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}

# daily_load size: extracts loaded per day (of the 22-table manifest),
# their total CSV rows, and days loaded. Narrowing the typed columns costs
# about 16k rows/s on a 4-CPU host, so a run loads a few tables, not all 22.
DAILY_TABLES = 1
DAILY_ROWS = 20000
DAILY_DAYS = 2

# set-up is measured this many times per run (the first from process
# launch, the others stop and set up again in the same JVM); the median
# is reported. corpus_shuffle's set-up takes about 20 s cold and 4 s
# again, and a full measurement series must fit its 57 minutes, so it
# takes two samples; daily_load's set-up is a bare session of about
# 0.1 s once the JVM is warm, so it takes many: its first two samples are
# the cold ones, and the median must fall well among the warm ones.
SETUP_SAMPLES = {"corpus_shuffle": 2, "daily_load": 15}

JAVA_OPTS = [
    # a fixed, pre-touched heap: with a growing one, peak RSS follows GC
    # timing from run to run; this way it moves with off-heap memory
    # (metaspace, code cache, threads, direct buffers) and heap overflow
    "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
    # no hsperfdata file in the system temp directory
    "-XX:-UsePerfData",
    "--add-modules=jdk.incubator.vector",
    "-Dspark.ui.enabled=false",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]

JVM_TIMEOUT = 150

# A query workload runs its list several times, each pass in its own
# seeded order. A query's first run carries its own cold code (codegen,
# JIT), so with one pass the median latency followed which queries the
# seed put first; with three, two thirds of the runs are warm and the
# median falls among them. Three passes of the whole 12-query
# corpus_shuffle list would not fit a full measurement series into its
# 57 minutes, so each pass takes the first QUERIES_PER_PASS of the list.
QUERY_PASSES = 3
QUERIES_PER_PASS = 8


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ------------------------------------------------------------------ build

def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_build():
    """Compiles the repository's build and the runner; returns the classpath."""
    sources = [os.path.join(ROOT, p) for p in ("src/main", "build.sbt", "project/build.properties")]
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources under src/main; run from the root of the repository")
    sources += [os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src")]
    stamp = tree_hash(sources)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    # no hsperfdata files in the system temp directory from sbt's JVMs
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    sbt_tmp = os.path.join(ROOT, ".bench_build", "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    opts = (os.environ.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.server.autostart=false"
            + " -Djava.io.tmpdir=" + sbt_tmp)
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += " -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
    env["SBT_OPTS"] = opts
    t0 = time.time()
    # The first compile of a fresh tree can die in sbt's in-process javac
    # on the incubator Vector API's module access check; a second sbt run
    # compiles cleanly, so one retry is part of the build.
    for _ in range(2):
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=400)
        lines = [l for l in p.stdout.splitlines() if l.strip()]
        if p.returncode == 0 and lines and not lines[-1].startswith("["):
            break
    else:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1]


# ------------------------------------------------------------------- jvm

def jvm(cp, scratch, args, timeout=JVM_TIMEOUT):
    """Runs one Runner JVM with its temp files in `scratch`; returns its JSON output."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(scratch, "out.json")
    cmd = ["java"] + JAVA_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", cp, "perfbench.Runner",
                                  "--scratch", scratch, "--cpus", str(cpus()), "--out", out,
                                  "--launch-ns", str(time.time_ns())] + args
    log = os.path.join(scratch, "jvm.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "local"))
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=scratch, env=env)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"runner JVM failed ({code})")
    with open(out) as f:
        result = json.load(f)
    os.remove(out)
    return result


def fresh_scratch():
    d = os.path.join(ROOT, ".bench_build", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(d)
    return d


def ensure_data(cp):
    stamp = tree_hash([os.path.join(HERE, "src", "main", "scala", "perfbench", "DataGen.scala")])
    stamp_file = os.path.join(DATA, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(DATA, ignore_errors=True)
    os.makedirs(DATA)
    scratch = fresh_scratch()
    try:
        jvm(cp, scratch, ["--mode", "gen", "--data", DATA], timeout=600)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def check_forced_confs():
    """Every forced key must still be read somewhere under src/main."""
    text = []
    for d, _, fs in os.walk(os.path.join(ROOT, "src", "main")):
        for f in fs:
            if f.endswith((".scala", ".java")):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    text.append(fh.read())
    text = "\n".join(text)
    missing = [k for k in FORCED_CONFS
               if k.startswith("spark.graft.") and f'"{k}"' not in text]
    if missing:
        fail("corpus_shuffle forces gates no longer read under src/main: " + ", ".join(missing), 3)


# -------------------------------------------------------------- workloads

def op_list(workload, seed, seconds):
    """The workload's fixed query list, cut to the run length, run
    QUERY_PASSES times, each pass permuted by the seed."""
    with open(os.path.join(HERE, "workloads", workload + ".txt")) as f:
        names = [l.split("#")[0].strip() for l in f]
    names = [n for n in names if n]
    per_pass = min(len(names), QUERIES_PER_PASS)
    names = names[:max(1, math.ceil(per_pass * seconds / NOMINAL_SECONDS))]
    rng = random.Random(seed)
    ops = []
    for _ in range(QUERY_PASSES):
        rng.shuffle(names)
        ops += names
    return ops


def run_once(cp, workload, seed, seconds, trace):
    scratch = fresh_scratch()
    try:
        args = ["--mode", "run", "--workload", workload, "--seed", str(seed),
                "--trace", str(trace), "--data", DATA, "--setup-samples", str(SETUP_SAMPLES[workload])]
        if workload == "daily_load":
            rows = max(1000, int(DAILY_ROWS * seconds / NOMINAL_SECONDS))
            args += ["--rows", str(rows), "--tables", str(DAILY_TABLES), "--days", str(DAILY_DAYS)]
        else:
            ops = os.path.join(scratch, "ops.txt")
            with open(ops, "w") as f:
                f.write("\n".join(op_list(workload, seed, seconds)) + "\n")
            args += ["--ops", ops]
        if workload == "corpus_shuffle":
            args += ["--conf", ";".join(f"{k}={v}" for k, v in FORCED_CONFS.items())]
        if trace:
            os.makedirs(OUT, exist_ok=True)
            args += ["--spans", os.path.join(OUT, f"spans-{workload}-{seed}.jsonl")]
        return jvm(cp, scratch, args)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def load_goldens():
    with open(os.path.join(HERE, "goldens.json")) as f:
        return json.load(f)


def check_ops(workload, ops):
    """Marks each operation ok or failed: an exception, a digest that
    differs from the golden, or (for the queries without an oracle) a row
    count or schema that differs. daily_load ops carry the runner's own
    verdict against the planted truth."""
    goldens = load_goldens() if workload != "daily_load" else {}
    for op in ops:
        if op["error"] is None and workload != "daily_load":
            g = goldens.get(op["name"])
            if g is None:
                op["error"] = "no golden"
            elif op["schema"] != g["schema"]:
                op["error"] = f"schema {op['schema']} != golden {g['schema']}"
            elif op["rows"] != g["rows"]:
                op["error"] = f"rows {op['rows']} != golden {g['rows']}"
            elif g["digest"] is not None and op["digest"] != g["digest"]:
                op["error"] = f"digest {op['digest']} != golden {g['digest']}"
    return [op for op in ops if op["error"] is not None]


def percentile(xs, p):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(p * len(xs)))]


def end_to_end(r, setup):
    lat = [op["wall_s"] for op in r["ops"]]
    m = {
        "setup_s": setup,
        "wall_s": r["wall_s"],
        "op_p50_s": statistics.median(lat),
        "cpu_s": r["cpu_s"],
        "peak_rss_mb": r["peak_rss_mb"],
    }
    extra = {"failed_frac": sum(op["error"] is not None for op in r["ops"]) / len(r["ops"])}
    if len(lat) >= 100:
        extra["op_p90_s"] = percentile(lat, 0.9)
    if "rows_loaded" in r:
        extra["load_rows_per_s"] = r["rows_loaded"] / r["wall_s"]
    return m, extra


def units():
    u = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    return dict(u, failed_frac="ratio", op_p90_s="s", load_rows_per_s="1/s")


def report(workload, seed, r, metrics, extra, failures):
    u = units()
    print(f"workload {workload}  seed {seed}  ops {len(r['ops'])}  failed {len(failures)}")
    for k, v in list(metrics.items()) + list(extra.items()):
        print(f"  {k:32s} {v:14.6g} {u[k]}")
    print("  setup samples: " + ", ".join(f"{x:.3f}" for x in r["setup_s"]) + " s; session/tables "
          + ", ".join(f"{a:.2f}/{b:.2f}" for a, b in r["setup_parts"]) + " s")
    h = r["host"]
    print("  host before: " + json.dumps(h["before"]) + "  after: " + json.dumps(h["after"]))
    for op in r["ops"]:
        print(f"    op {op['name']:32s} {op['wall_s']:8.3f} s (build {op['build_s']:.3f}, "
              f"action {op['action_s']:.3f})" + (f"  FAILED: {op['error']}" if op["error"] else ""))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=NOMINAL_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inventory", metavar="OUT_JSON")
    ap.add_argument("--forced", action="store_true")
    ap.add_argument("--record-goldens", metavar="INVENTORY_JSON")
    a = ap.parse_args()

    if a.record_goldens:
        return record_goldens(a.record_goldens)
    cp = ensure_build()
    ensure_data(cp)
    if a.inventory:
        return inventory(cp, a.inventory, a.forced)
    names = [w["name"] for w in SPEC["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload!r}; expected one of {names}")
    if a.workload == "corpus_shuffle":
        check_forced_confs()

    r = run_once(cp, a.workload, a.seed, a.seconds, a.trace)
    failures = check_ops(a.workload, r["ops"])
    metrics, extra = end_to_end(r, statistics.median(r["setup_s"]))
    report(a.workload, a.seed, r, metrics, extra, failures)

    u = units()
    if a.trace:
        layers = r["layers"]
        for k in sorted(layers):
            print(f"  {k:32s} {layers[k]:14.6g} {u.get(k, '')}")
        ls = r["layer_sum"]
        print(f"  layer-sum check: {'ok' if ls['ok'] else 'FAILED'} {json.dumps(ls)}")
        if ls["day_steps_over_untraced"] is not None:
            print(f"  tracing overhead: {ls['day_steps_over_untraced'] - 1:+.1%} of an untraced runDaily day")
        out = {k["name"]: {"value": layers[k["name"]], "unit": k["unit"]} for k in SPEC["per_layer"]}
    else:
        out = {k["name"]: {"value": metrics[k["name"]], "unit": k["unit"]} for k in SPEC["end_to_end"]}
    print(json.dumps({"correct": not failures, "attempted": len(r["ops"]),
                      "failed": len(failures), "metrics": out}))


def inventory(cp, path, forced):
    with open(os.path.join(HERE, "workloads", "all.txt")) as f:
        names = [l.strip() for l in f if l.strip()]
    scratch = fresh_scratch()
    try:
        ops = os.path.join(scratch, "ops.txt")
        with open(ops, "w") as f:
            f.write("\n".join(names) + "\n")
        args = ["--mode", "inventory", "--workload", "inventory", "--data", DATA, "--ops", ops]
        if forced:
            args += ["--conf", ";".join(f"{k}={v}" for k, v in FORCED_CONFS.items())]
        rows = jvm(cp, scratch, args, timeout=3600)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    with open(path, "w") as f:
        json.dump(rows, f, indent=1)


def record_goldens(path):
    """goldens.json from a natural-regime inventory: digest, row count and
    schema per query; the queries without an oracle keep rows and schema."""
    with open(path) as f:
        rows = json.load(f)
    with open(os.path.join(HERE, "no_oracle.txt")) as f:
        no_oracle = {l.strip() for l in f if l.strip()}
    bad = [r["name"] for r in rows if r["error"] is not None]
    if bad:
        fail("inventory has failed queries: " + ", ".join(bad))
    goldens = {r["name"]: {"rows": r["rows"], "schema": r["schema"],
                           "digest": None if r["name"] in no_oracle else r["digest"]}
               for r in rows}
    with open(os.path.join(HERE, "goldens.json"), "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
