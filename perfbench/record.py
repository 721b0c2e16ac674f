#!/usr/bin/env python3
"""Records each workload query's expected row count and fingerprint.

Run once, from the repo root, on a commit whose results for the workload
queries pass the DuckDB differential at sf0.1:

    sbt "runMain graft.Verify perfbench/data/sf0.1 <out> <query> ..."
    python3 tools/check.py perfbench/data/sf0.1 <out>    # all PASS
    python3 perfbench/record.py <out>

The fingerprints are taken from graft.Verify's saved results, by the same
code that fingerprints live results in a benchmark run, and are written
into perfbench/workloads.json.
"""
import json
import os
import shutil
import subprocess
import sys

import run


def main():
    out_dir = os.path.abspath(sys.argv[1])
    path = os.path.join(run.HERE, "workloads.json")
    with open(path) as f:
        spec = json.load(f)
    queries = sorted({q for w in spec["workloads"].values() for q in w["queries"]})
    run.build()
    run_dir = os.path.join(run.BUILD, "record")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    try:
        lines = subprocess.run(
            run.java_cmd(run_dir, "perfbench.Record",
                         [str(run.CPUS), out_dir] + queries),
            cwd=run_dir, check=True, capture_output=True, text=True).stdout
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    got = {}
    for line in lines.splitlines():
        if line.startswith("{"):
            c = json.loads(line)
            if c["error"]:
                sys.exit(f"{c['query']}: {c['error']}")
            got[c["query"]] = {k: c[k] for k in ("rows", "fingerprint", "float_columns")}
    for w in spec["workloads"].values():
        w["expected"] = {q: got[q] for q in w["queries"]}
    with open(path, "w") as f:
        json.dump(spec, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
