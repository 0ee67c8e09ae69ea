#!/usr/bin/env python3
"""Derive perfbench/expected/fingerprints.json from an oracle-checked run.

    python3 perfbench/derive_fingerprints.py

Builds the benchmark, runs `graft.Verify` over perfbench/data/ for every
gate the workloads use, checks that output against DuckDB with
scripts/crosscheck.py (which must pass), and only then fingerprints the
verified results. Verify runs with the benchmark's partitioning (4 shuffle
partitions), so double sums add up in the same order in both. Writes
expected/derived_with.json next to the fingerprints: the digest of the
tables and the host and partitioning they were derived with. Needs duckdb
and pandas, which the benchmark itself does not.
"""
import json
import os
import shutil
import subprocess
import sys

import run

JAVA = ["java", f"-Xmx{run.HEAP}", "-XX:-UsePerfData"] + [
    x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def main():
    classpath = run.build()
    data = run.DATA
    out = os.path.join(run.WORK, "verify")
    shutil.rmtree(out, ignore_errors=True)
    jvm = JAVA + [f"-Djava.io.tmpdir={os.path.join(run.WORK, 'tmp')}", "-cp", classpath]
    for d in ("tmp", "target"):  # crosscheck.py writes target/CROSSCHECK_<label>.json
        os.makedirs(os.path.join(run.WORK, d), exist_ok=True)
    gates = subprocess.run(jvm + ["graft.perfbench.DeriveFingerprints", "--gates"],
                           check=True, capture_output=True, text=True).stdout.strip()
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(run.WORK, "scratch", "verify"),
               SPARK_GRAFT_CPUS=str(run.PARTITIONS))
    subprocess.run(jvm + ["graft.Verify", data, out, gates], check=True, cwd=run.WORK, env=env)
    subprocess.run([sys.executable, os.path.join(run.ROOT, "scripts", "crosscheck.py"),
                    data, out, "perfbench_sf0.01"], check=True, cwd=run.WORK)
    subprocess.run(jvm + ["graft.perfbench.DeriveFingerprints", out, run.EXPECTED],
                   check=True, cwd=run.WORK)
    with open(run.EXPECTED) as f:
        fps = json.load(f)
    with open(run.EXPECTED, "w") as f:
        json.dump(fps, f, indent=1, sort_keys=True)
        f.write("\n")
    with open(run.DERIVED_WITH, "w") as f:
        json.dump({"data_digest": run.digest([data]), "nproc": len(os.sched_getaffinity(0)),
                   "verify_master": f"local[{run.PARTITIONS}]",
                   "shuffle_partitions": run.PARTITIONS}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(fps)} fingerprints written to {os.path.relpath(run.EXPECTED, run.ROOT)}")


if __name__ == "__main__":
    main()
