#!/usr/bin/env python3
"""Re-derive expected.json, the reference outputs of batch_analytics.

    python3 perfbench/derive_expected.py [--sf 0.01]

A value enters expected.json only after the job's output has matched
its DuckDB oracle (`SparkEntry.oracleSql`, compared by the repository's
`tools/check.py` in exact mode), and only if two harness runs agree on
it:

1. build, and generate the data set;
2. dump the jobs' outputs with `graft.Verify` (SPARK_GRAFT_ONLY);
3. `python3 tools/check.py <data> <dump>`: every job must pass;
4. run the workload twice and record each job's (rows, checksum).

The DuckDB pass is slow, so run.py only compares against the stored
values. Re-run this after a change to the data generator or to a job's
definition.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

import run
import gen


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=run.SF)
    a = ap.parse_args()
    cp = run.build()
    data_dir = os.path.join(run.WORK, "data", f"sf{a.sf}")
    gen.make_data(data_dir, a.sf)
    dump = os.path.join(run.WORK, "verify")
    shutil.rmtree(dump, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(q for _, q in gen.JOBS),
               SPARK_GRAFT_CPUS=str(run.CORES))
    tmp = os.path.join(run.WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    subprocess.run(run.java_command(cp, tmp) + ["graft.Verify", data_dir, dump], env=env, check=True,
                   cwd=run.ROOT, stdin=subprocess.DEVNULL)
    check = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"),
                            data_dir, dump], capture_output=True, text=True)
    print(check.stdout)
    want = f"== {len(gen.JOBS)}/{len(gen.JOBS)} pass"
    if check.returncode != 0 or want not in check.stdout:
        sys.exit(f"oracle check failed; expected '{want}'")
    lines, _ = gen.make_inputs("batch_analytics", 0, data_dir, a.sf)
    inputs = os.path.join(run.WORK, "inputs-derive.tsv")
    with open(inputs, "w") as f:
        f.write("\n".join(lines) + "\n")
    seen = []
    for _ in range(2):
        res, _ = run.run_harness(cp, "batch_analytics", 0, 0, 0, data_dir, inputs, 0)
        seen.append({o["kind"]: [o["rows"], o["sum"]] for o in res["ops"] if o["ok"]})
    if seen[0] != seen[1] or len(seen[0]) != len(gen.JOBS):
        sys.exit(f"checksums differ between runs or jobs failed: {seen}")
    path = os.path.join(run.HERE, "expected.json")
    with open(path) as f:
        expected = json.load(f)
    expected[str(a.sf)] = seen[0]
    with open(path, "w") as f:
        json.dump(expected, f, indent=2, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}: {seen[0]}")


if __name__ == "__main__":
    main()
