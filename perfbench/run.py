#!/usr/bin/env python3
"""The repository benchmark: the Cricsheet pipeline and the streaming
operators, timed end to end and, in a separate traced run, per layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload weekly|stream \
        --seed N --seconds S --trace 0|1

The first run compiles src/main/scala together with perfbench/scala
with the Scala compiler that ships in $SPARK_HOME/jars, into
perfbench/.build (rebuilt whenever a source changes). Each run then
generates its inputs from --seed (perfbench/synth.py), drives one warm
local[k] Spark session (k = the CPUs this process may use) through the
workload's set-up and a fixed number of closed-loop steps, fitted to
--seconds (see steps()), checks every output, and prints one JSON line
last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
and writes the spans to perfbench/.out/. The line before it is the
environment and calibration block. Exits 1 when any output check
fails, 2 when the program cannot be built.
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import synth  # noqa: E402
import traces  # noqa: E402

# Input sizes per workload (matches; documents and vectors per batch).
WEEKLY_MATCHES = 100
DRIP_FILES = 10       # the reference's per-run cap (aws/constants.py:3)
STREAM_MATCHES = 10
STREAM_DOCS = 500
STREAM_VECS = 500
# Seconds of --seconds per measured step. This turns --seconds into a
# fixed step count, so every run measures the same steps whatever its
# speed; at 18 s a run takes about a minute on a 4-CPU host.
STEP_S = {"weekly": 4.5, "stream": 6.0}
MIN_STEPS = 3
JVM_TIMEOUT_S = 150

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile the program and the harness once per source state."""
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        fail("no program sources under src/main/scala; run from a full checkout")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()[:16]
    build_dir = os.path.join(HERE, ".build")
    classes = os.path.join(build_dir, "classes-" + digest)
    if os.path.isdir(classes):
        return classes, digest
    shutil.rmtree(build_dir, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    compiler = ":".join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                        if j.startswith(("scala-compiler", "scala-library",
                                         "scala-reflect")))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", compiler,
           "scala.tools.nsc.Main",
           "-encoding", "UTF-8", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp] + srcs
    t = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    os.rename(tmp, classes)
    print("perfbench: compiled %d sources in %.1f s" % (len(srcs), time.time() - t),
          file=sys.stderr)
    return classes, digest


def cpus():
    return len(os.sched_getaffinity(0))


def heap_mb():
    """A quarter of MemTotal, between 1 and 2 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1024, min(2048, kb // 4096))


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_head():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


# ---- inputs ------------------------------------------------------------------

def steps(workload, seconds):
    """Measured steps per run: as many nominal steps as fit in --seconds."""
    return max(MIN_STEPS, int(seconds / STEP_S[workload]))


def gen_weekly(seed, d, n):
    """The corpus, and n + 1 drips: one warm-up and n measured."""
    rows = synth.write_corpus(seed, WEEKLY_MATCHES, os.path.join(d, "landing"),
                              1000000, "2005-01-01", 7000,
                              zip_path=os.path.join(d, "corpus.zip"))
    for j in range(n + 1):
        # each week's files are dated after everything already published
        first = "2025-01-%02d" % (1 + j % 28) if j < 28 else "2025-02-%02d" % (j - 27)
        rows += synth.write_corpus(seed * 1000 + j + 1, DRIP_FILES,
                                   os.path.join(d, "pool", "drip%d" % j),
                                   9000000 + 100 * j, first, 1)
    return rows


def gen_stream(seed, d, n):
    """n + 2 rounds: the set-up's, one warm-up and n measured."""
    rng = random.Random(seed)
    rows, docs, vecs = [], [], []
    for r in range(n + 2):
        rows += synth.write_corpus(seed * 1000 + r, STREAM_MATCHES,
                                   os.path.join(d, "pool", "ingest", "round%d" % r),
                                   1000000 + 1000 * r, "2020-01-01", 1000)
        for op in ("dedup", "similarity"):
            os.makedirs(os.path.join(d, "pool", op, "round%d" % r))
        synth.write_documents(
            rng, os.path.join(d, "pool", "dedup", "round%d" % r, "round%d.json" % r),
            r * STREAM_DOCS, STREAM_DOCS, docs)
        synth.write_embeddings(
            rng, os.path.join(d, "pool", "similarity", "round%d" % r,
                              "round%d.json" % r),
            r * STREAM_VECS, STREAM_VECS, vecs)
    return rows


GENERATORS = {"weekly": gen_weekly, "stream": gen_stream}


# ---- metrics -----------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, gen_s):
    return {
        "setup_s": (res["session_s"] + gen_s + res["boot_s"], "s"),
        "step_p50_s": (median([s["wall_s"] for s in res["steps"]]), "s"),
        "peak_rss_mb": (res["env"]["peak_rss_kb"] / 1024.0, "MB"),
    }


def per_layer(res, cores):
    traced = [s for s in res["steps"] if s["traced"]]
    plain = [s for s in res["steps"] if not s["traced"]]
    ops = [o for s in traced for o in s["ops"]]
    # Spark counters summed over each traced step's operations
    spark = [{k: sum(o["spark"][k] for o in s["ops"]) for k in s["ops"][0]["spark"]}
             for s in traced]
    walls = [s["wall_s"] for s in traced]
    steps = traces.layer_time_by_trace(res["spans"], "step")
    setups = traces.layer_time_by_trace(res["spans"], "setup")
    floor_ms = res["job_floor_ms"]
    m = {"core.job_floor_ms": (floor_ms, "ms"),
         "trace.overhead_s": (median([s["wall_s"] for s in traced]) -
                              median([s["wall_s"] for s in plain]), "s")}
    for spans, traced_in in ((traces.LAYER_SPANS, steps),
                             (traces.SETUP_SPANS, setups)):
        for name, span in spans.items():
            m[name] = (median([t[span] for t in traced_in if span in t]), "s")
    ex = res["extras"]
    for name, unit, how in traces.EXTRAS:
        vals = ex.get(name, [])
        m[name] = ((vals[-1] if how == "last" else median(vals)) if vals else 0.0,
                   unit)

    def per_step(k, scale=1.0):
        return median([c[k] for c in spark]) * scale
    m.update({
        "spark.jobs": (per_step("jobs"), "count"),
        "spark.stages": (per_step("stages"), "count"),
        "spark.tasks": (per_step("tasks"), "count"),
        "spark.executor_run_s": (per_step("run_ms", 1e-3), "s"),
        "spark.executor_cpu_s": (per_step("cpu_ns", 1e-9), "s"),
        "spark.cpu_util": (median([c["cpu_ns"] / 1e9 / (w * cores)
                                   for c, w in zip(spark, walls)]), "ratio"),
        "spark.shuffle_read_bytes": (per_step("shuffle_read_bytes"), "B"),
        "spark.shuffle_write_bytes": (per_step("shuffle_write_bytes"), "B"),
        "spark.spill_bytes": (per_step("spill_bytes"), "B"),
        "spark.result_bytes": (per_step("result_bytes"), "B"),
        "spark.plan_ms": (per_step("plan_ms"), "ms"),
        "spark.job_overhead_share": (median([c["jobs"] * floor_ms / 1e3 / w
                                             for c, w in zip(spark, walls)]), "ratio"),
        # planning of the analyst's queries alone (weekly)
        "analyze.plan_ms": (median([o["spark"]["plan_ms"] for o in ops
                                    if o["kind"] == "queries"]), "ms"),
    })
    sops = [o for o in ops if o["progress"]]
    for name, key in traces.PROGRESS.items():
        m[name] = (median([o["progress"].get(key, 0) for o in sops]), "ms")
    m["streaming.start_stop_ms"] = (median(
        [o["wall_s"] * 1e3 - o["progress"].get("triggerExecution", 0)
         for o in sops]), "ms")
    return m


# ---- main --------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home and shutil.which("spark-submit"):
        spark_home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("set SPARK_HOME to a Spark installation")
    jars = os.path.join(spark_home, "jars")
    classes, digest = build(jars)

    load_start = loadavg()
    work = os.path.join(HERE, ".work", "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        n = steps(a.workload, a.seconds)
        t = time.time()
        rows = GENERATORS[a.workload](a.seed, os.path.join(work, "inputs"), n)
        gen_s = time.time() - t
        synth.write_truth(rows, os.path.join(work, "truth.tsv"))

        cores, heap = cpus(), heap_mb()
        local = os.path.join(work, "spark-local")
        env = dict(os.environ, SPARK_LOCAL_DIRS=local)
        # -XX:-UsePerfData keeps the JVM from writing under /tmp
        cmd = (["java", "-Xms%dm" % heap, "-Xmx%dm" % heap, "-Xss4m",
                "-XX:+UseParallelGC", "-XX:-UsePerfData"] +
               [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
               ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                "-Dspark.local.dir=" + local,
                "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
                "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                "-cp", classes + ":" + os.path.join(jars, "*"),
                "perfbench.Harness", "--workload", a.workload, "--work", work,
                "--steps", str(n), "--trace", str(a.trace),
                "--cores", str(cores)])
        os.makedirs(os.path.join(work, "tmp"))
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as lf:
            t = time.time()
            try:
                r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                   env=env, timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                r = None
            jvm_s = time.time() - t
        result_path = os.path.join(work, "result.json")
        if r is None or r.returncode != 0 or not os.path.exists(result_path):
            with open(log) as lf:
                sys.stderr.write(lf.read()[-6000:])
            fail("the harness did not finish (%s)" %
                 ("timeout" if r is None else "exit %d" % r.returncode), 1)
        with open(result_path) as f:
            res = json.load(f)

        checks = res["checks"]
        # the traced run's spans are one more checked operation
        problems = traces.check_self_times(res["spans"]) if a.trace else []
        failed = checks["failed"] + (1 if problems else 0)
        attempted = checks["attempted"] + a.trace
        metrics = per_layer(res, cores) if a.trace else end_to_end(res, gen_s)
        envblock = {
            "nproc": cores, "local_cores": cores, "shuffle_partitions": cores,
            "heap_mb": heap, "spark_version": res["env"]["spark_version"],
            "git_head": git_head(), "source_digest": digest,
            "job_floor_ms": res["job_floor_ms"],
            "loadavg_start": load_start, "loadavg_end": loadavg(),
            "steps": n,
            "step_s": [[[o["kind"], o["wall_s"]] for o in s["ops"]] for s in res["steps"]],
            "gen_s": gen_s, "session_s": res["session_s"], "boot_s": res["boot_s"],
            "measured_s": res["measured_s"], "finish_s": res["finish_s"],
            "harness_s": res["harness_s"], "jvm_s": jvm_s, "workload": a.workload,
            "seed": a.seed, "trace": a.trace,
            "check_messages": checks["messages"] + problems,
        }
        if a.trace:
            out = os.path.join(HERE, ".out")
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, "trace-%s-seed%d.json" % (a.workload, a.seed)),
                      "w") as f:
                json.dump({"env": envblock, "spans": res["spans"],
                           "self_s": traces.self_time_by_layer(res["spans"]),
                           "steps": res["steps"]}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    envblock["run_s"] = time.time() - T0
    print(json.dumps({"env": envblock}))
    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
