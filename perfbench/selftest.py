#!/usr/bin/env python3
"""Toy-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload untraced and traced through the benchmark command at
toy size (sf0.001, a few entries per family) and checks that
  - the last stdout line carries every metric BENCHMARK.json names for the
    mode, each with its unit, and nothing else;
  - every op's output was right (failed == 0, correct == true);
  - the traced record holds spans and its tracing overhead;
  - outside a graft checkout the command exits non-zero without a result.
Exits non-zero on the first failed check.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def bench(cwd, workload, trace):
    return subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
                           "--seconds", "2", "--trace", trace, "--toy"],
                          cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)


def check(cond, msg):
    if not cond:
        print(f"FAIL: {msg}")
        sys.exit(1)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            r = bench(ROOT, w, trace)
            check(r.returncode == 0, f"{w} trace {trace} exited {r.returncode}: {r.stderr[-2000:]}")
            line = json.loads(r.stdout.strip().splitlines()[-1])
            check(set(line) == {"correct", "attempted", "failed", "metrics"}, f"{w}: result keys {sorted(line)}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v.get("unit") for k, v in line["metrics"].items()}
            check(got == want, f"{w} trace {trace}: metrics/units differ: {set(got) ^ set(want)}")
            check(all(isinstance(v["value"], (int, float)) for v in line["metrics"].values()),
                  f"{w} trace {trace}: a metric is not a number")
            check(line["correct"] and line["failed"] == 0 and line["attempted"] >= 1,
                  f"{w} trace {trace}: correct={line['correct']} failed={line['failed']}")
            rec = json.load(open(os.path.join(run.BUILD, "results", f"{w}-s7-t{trace}-toy.json")))
            check(rec["failed_frac"] == 0, f"{w}: failed_frac {rec['failed_frac']}")
            if trace == "1":
                check(rec["spans"] and "tracing_overhead" in rec, f"{w}: traced record lacks spans or overhead")
            print(f"ok {w} trace {trace}: {len(line['metrics'])} metrics, {line['attempted']} ops")

    bare = os.path.join(run.BUILD, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    env = dict(os.environ, CARGO_TARGET_DIR=os.path.join(bare, ".bench_build"))
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "dag", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=bare, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=180)
    check(r.returncode != 0 and not r.stdout.strip(), "outside a checkout the command must fail without output")
    shutil.rmtree(bare)
    print("ok: fails without a graft checkout")


if __name__ == "__main__":
    main()
