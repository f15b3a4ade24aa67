#!/usr/bin/env python3
"""Re-seed perfbench/expected/batch_mix.json, the batch_mix output check.

    python3 perfbench/seed_expected.py

Runs graft's `Verify` main over the generated batch tables for the
benchmark's query slice, requires `scripts/check.py` to find every
output equal to its DuckDB oracle, then records the digest of each
oracle-checked output. Run it from the root of a checkout after a change
that is meant to alter query results; the benchmark itself never writes
the file.
"""
import json
import os
import shutil
import subprocess
import sys

import run


def main():
    cp, _ = run.build()
    data = run.batch_data()
    out = os.path.join(run.BUILD, "verify")
    shutil.rmtree(out, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_VERIFY_ONLY=",".join(run.QUERIES),
               SPARK_GRAFT_CPUS="4")
    tmp = os.path.join(run.BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    subprocess.run(["java", *run.JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                    "graft.Verify", data, out], env=env, check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, cwd=run.BUILD)
    check = subprocess.run([sys.executable, os.path.join(run.ROOT, "scripts", "check.py"),
                            data, out], capture_output=True, text=True)
    passed = {ln.split()[1] for ln in check.stdout.splitlines() if ln.startswith("PASS ")}
    missing = sorted(set(run.QUERIES) - passed)
    if missing:
        sys.exit(f"not oracle-equal: {missing}")
    work = os.path.join(run.BUILD, "work", "digest")
    os.makedirs(work, exist_ok=True)
    jvm = run.Jvm(cp, work, ["--workload", "digest", "--queries", ",".join(run.QUERIES),
                             "--data-dir", out])
    try:
        res, _ = jvm.expect("result")
    finally:
        jvm.close()
    path = os.path.join(run.BENCH, "expected", "batch_mix.json")
    with open(path, "w") as f:
        json.dump({"scale_factor": run.BATCH_SF, "data_seed": run.DATA_SEED,
                   "oracle": f"scripts/check.py: {len(passed)}/{len(run.QUERIES)} "
                             "outputs equal to DuckDB",
                   "digests": dict(sorted(res["digests"].items()))}, f, indent=1)
        f.write("\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
