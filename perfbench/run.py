#!/usr/bin/env python3
"""graft benchmark: one closed-loop client, one workload per run.

    python3 perfbench/run.py --workload dag|queries --seed N \
        --seconds S --trace 0|1 [--toy]

Run from the repository root, with SPARK_HOME set to a Spark 4 (Scala
2.13) installation. The first run builds the library and the benchmark
from source with the Scala compiler that ships in Spark's jars,
and derives the corpus input from the committed sf0.01 tables; both land
in $CARGO_TARGET_DIR (default .bench_build) and are reused while the
sources are unchanged.

The last stdout line is the result: correctness, ops attempted and
failed, and the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1), each with its unit. The line before it holds the median
latency of each op kind (each dag command, each entry family), ungated
detail. The full run record (per-op latencies, spans, per-kind medians,
host stamp, tracing overhead) goes to
<build>/results/<workload>-s<seed>-t<trace>.json.

--toy runs the toy-size configuration the self-test uses: sf0.001 and a
few entries per family.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
HEAP = "3g"
# the corpus input: sf0.01 scaled by ScaleGen in perturb mode, which keeps
# near-duplicate density constant across copies
CORPUS_FACTOR = 2
JVM_TIMEOUT_S = 170
# a few entries per family, for --toy
TOY_ENTRIES = ("q1_agg,q8_window_rank,q18_star_revenue,q42_native_topk,t1_lang_id,t13_corpus_report,"
               "s1_ann_topk,d2_dedup_minhash,m2_media_stats,p1_curation_funnel,g4_components")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    if not lib:
        fail("no src/main/scala here; run from the root of a graft checkout")
    return lib + bench


def spark_jars():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        fail(f"no Spark jars in {SPARK_JARS}; set SPARK_HOME to a Spark 4 installation")
    return jars


def build():
    """Compile library + benchmark into <build>/classes, unless up to date."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler), "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", ":".join(jars)] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, stamp


def java_cmd(classes, main, args, heap=HEAP):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={os.path.join(BUILD, 'spark-local')}",
             f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
            ["-cp", classes + ":" + os.path.join(SPARK_JARS, "*"), main] + args)


def run_jvm(cmd, timeout=JVM_TIMEOUT_S, log=None):
    """Runs a JVM to completion; its stdout/stderr go to `log`. The JVM is
    killed and reaped on timeout, and when this script is terminated."""
    with open(log or os.devnull, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=ROOT)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)}
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None
        finally:
            for s, h in previous.items():
                signal.signal(s, h)


def corpus_input(classes, stamp):
    """The committed sf0.01 scaled CORPUS_FACTOR x by graft.ScaleGen."""
    out = os.path.join(BUILD, "data", f"corpus_x{CORPUS_FACTOR}")
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    cmd = java_cmd(classes, "graft.ScaleGen",
                   [os.path.join(HERE, "data/sf0.01"), out, str(CORPUS_FACTOR), "perturb"])
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    if run_jvm(cmd, timeout=600, log=os.path.join(BUILD, "scalegen.log")) != 0:
        fail("generating the corpus input failed; see scalegen.log")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


def meminfo(key):
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    return None


def stall_s(resource):
    """Seconds all non-idle tasks have stalled on `resource` (io, cpu) since
    boot, from Linux pressure stall information; None where it is absent."""
    try:
        with open(f"/proc/pressure/{resource}") as fh:
            for line in fh:
                if line.startswith("full"):
                    return int(line.split("total=")[1]) / 1e6
    except OSError:
        pass
    return None


def git_head():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    return r.stdout.strip() or None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["dag", "queries"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--toy", action="store_true")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if a.trace == "1" else "end_to_end"]

    stalls = {r: stall_s(r) for r in ("io", "memory")}
    host = {"nproc": os.cpu_count(), "loadavg_start": os.getloadavg(),
            "mem_available_mb_start": meminfo("MemAvailable"), "heap_flag": f"-Xms{HEAP} -Xmx{HEAP}",
            "git_head": git_head(), "seed": a.seed}
    classes, stamp = build()
    host["source_sha256"] = stamp
    data = os.path.join(HERE, "data", "sf0.001" if a.toy else "sf0.01")
    corpus = data if a.toy else corpus_input(classes, stamp)

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}{'-toy' if a.toy else ''}"
    out = os.path.join(results, name + ".json")
    if os.path.exists(out):
        os.remove(out)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", data, "--corpus", corpus,
            "--data-name", os.path.basename(data),
            "--corpus-name", os.path.basename(corpus),
            "--work", os.path.join(BUILD, "work"), "--out", out,
            "--inputs", os.path.join(HERE, "inputs.json"),
            "--fingerprints", os.path.join(HERE, "fingerprints.json")]
    if a.toy:
        args += ["--entries", TOY_ENTRIES]
    code = run_jvm(java_cmd(classes, "perfbench.Main", args), log=os.path.join(results, name + ".log"))
    if code != 0 or not os.path.exists(out):
        fail(f"benchmark JVM exited with {code}; see {os.path.join(results, name + '.log')}")
    with open(out) as fh:
        rec = json.load(fh)

    host.update(loadavg_end=os.getloadavg(), mem_available_mb_end=meminfo("MemAvailable"))
    # time the whole run spent with every task waiting on the disk or memory:
    # a run with much of it is slow for reasons outside the program
    host["full_stall_s"] = {r: None if v is None or stall_s(r) is None else stall_s(r) - v for r, v in stalls.items()}
    rec["host"].update(host)
    if a.trace == "1":
        base = os.path.join(results, f"{a.workload}-s{a.seed}-t0{'-toy' if a.toy else ''}.json")
        if os.path.exists(base):
            with open(base) as fh:
                untraced = json.load(fh)["end_to_end"]
            rec["tracing_overhead"] = {"seconds_per_op": untraced["ops_per_s"] / rec["end_to_end"]["ops_per_s"]}
            if a.workload == "dag":
                rec["tracing_overhead"]["includes"] = (
                    "the traced dag commands run DagWorkload.traced, the benchmark's copy of GraftCli.execute")
    with open(out, "w") as fh:
        json.dump(rec, fh, indent=1)

    kinds = {}
    for op in rec["ops"]:
        if op["cycle"] > 0:
            kinds.setdefault(op["kind"][0] if a.workload == "queries" else op["kind"], []).append(op["s"])
    print(json.dumps({"median_s_by_kind": {k: statistics.median(v) for k, v in sorted(kinds.items())}},
                     separators=(",", ":")))
    source = rec["per_layer" if a.trace == "1" else "end_to_end"]
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"], "failed": rec["failed"],
                      "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
