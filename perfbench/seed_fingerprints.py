#!/usr/bin/env python3
"""Re-seed perfbench/inputs.json and perfbench/fingerprints.json.

    python3 perfbench/seed_fingerprints.py

For each benchmark input (sf0.01 for every relational q* entry, the
scaled corpus copy for every t/s/d/m/p/g entry, and the toy sf0.001 for
the self-test's entries) this
  1. runs the benchmark's --record mode, which writes the input's
     per-table row counts and key sums and each entry's output fingerprint;
  2. runs graft.Verify on the same entries, dumping their outputs to
     parquet;
  3. compares each dump against the entry's DuckDB oracle SQL on the same
     input, canonicalized as the repository's oracle compare does
     (columns by name, floats rounded to 6 places, values as text, rows
     sorted).
Only entries whose output matched the oracle get a fingerprint; the
benchmark refuses to time an entry without one.

Run it after a change to the inputs or to an entry's intended output,
never to make a mismatching output pass.
"""
import glob
import json
import os
import shutil
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def canon(con, sql):
    df = con.execute(sql).df()
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    return df.astype(str).sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_compare(data, out, entries):
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    for t in glob.glob(os.path.join(data, "*.parquet")):
        src = f"{t}/*.parquet" if os.path.isdir(t) else t
        con.execute(f"CREATE VIEW {os.path.basename(t)[:-8]} AS SELECT * FROM read_parquet('{src}')")
    passed, failed = [], []
    for e in entries:
        try:
            got = canon(con, f"SELECT * FROM read_parquet('{out}/{e}/*.parquet')")
            ok = e in oracles and got.equals(canon(con, oracles[e]))
        except Exception as ex:  # an entry or its oracle failing is a mismatch
            print(f"{e}: {type(ex).__name__}: {ex}", file=sys.stderr)
            ok = False
        (passed if ok else failed).append(e)
    return passed, failed


def main():
    classes, stamp = run.build()
    plan = [("sf0.01", os.path.join(run.HERE, "data/sf0.01"), ["--families", "q"]),
            (f"corpus_x{run.CORPUS_FACTOR}", run.corpus_input(classes, stamp), ["--families", "tsdmpg"]),
            ("sf0.001", os.path.join(run.HERE, "data/sf0.001"), ["--entries", run.TOY_ENTRIES])]
    inputs, fingerprints, oracle = {}, {}, {}
    scratch = os.path.join(run.BUILD, "seed")
    for name, data, which in plan:
        shutil.rmtree(scratch, ignore_errors=True)
        os.makedirs(scratch)
        rec = os.path.join(scratch, "record.json")
        code = run.run_jvm(run.java_cmd(classes, "perfbench.Main",
                                        ["--record", rec, "--data", data, "--work", os.path.join(scratch, "work")]
                                        + which),
                           timeout=1800, log=os.path.join(scratch, "record.log"))
        if code != 0:
            run.fail(f"--record on {name} exited with {code}")
        r = json.load(open(rec))
        entries = sorted(r["outputs"])
        dump = os.path.join(scratch, "verify")
        run.run_jvm(run.java_cmd(classes, "graft.Verify", [data, dump] + entries),
                    timeout=1800, log=os.path.join(scratch, "verify.log"))
        passed, failed = oracle_compare(data, dump, entries)
        inputs[name] = r["inputs"]
        fingerprints[name] = {e: r["outputs"][e] for e in passed if e in r["outputs"]}
        oracle[name] = {"passed": len(passed), "failed": failed}
        print(f"{name}: {len(passed)}/{len(entries)} entries match their DuckDB oracle", flush=True)
    shutil.rmtree(scratch, ignore_errors=True)
    with open(os.path.join(run.HERE, "inputs.json"), "w") as fh:
        json.dump(inputs, fh, indent=1, sort_keys=True)
    with open(os.path.join(run.HERE, "fingerprints.json"), "w") as fh:
        json.dump(dict(fingerprints, oracle_compare=oracle), fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
